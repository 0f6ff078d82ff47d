"""Seeded input generator for the benchmark workloads.

Every input is a pure function of ``(seed, workload, index)``: the same
seed lands byte-identical parquet files, and the program under test only
ever sees those files.  Each ``land_*`` function returns the path it
wrote and a size record (rows, bytes) so the output can state input sizes.

Sizes are fixed per workload (not per seed) so that two seeds stress the
same amount of work; only the values change.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- sketch_store ----------------------------------------------------------

HOURS = 24
EVENT_TYPES = 8
SEGMENTS = 4
TAG_VOCAB = 400
#: rows per ingest batch; each closed-loop op ingests one batch
BUILD_BATCH_ROWS = 8_000
BUILD_BATCH_FILES = 4
#: users are drawn Zipf-skewed from this universe (rank 1 is hottest)
USER_UNIVERSE = 20_000
#: standing sketch store inputs: days x events per day
STORE_DAYS = 8
STORE_EVENTS_PER_DAY = 15_000

# ---- index_churn ----------------------------------------------------------

VEC_DIM = 16
VEC_CLUSTERS = 8
VEC_STANDING = 2_000
CDC_INSERTS = 40
CDC_UPSERTS = 20
CDC_DELETES = 20
TOPK_QUERIES = 8

# ---- corpus_dedup ---------------------------------------------------------

DOC_WORDS = 40
WORD_VOCAB = 5_000
SHARD_DOCS = 1_200
#: share of a shard's docs that seed a planted near-duplicate cluster
CLUSTER_SHARE = 0.08
#: copies per planted cluster (the base doc plus this many mutants)
CLUSTER_COPIES = 2
#: word substitutions per mutant; each substitution breaks up to 3
#: word-3-shingles, so two mutants of one base keep Jaccard >= ~0.6 and a
#: random pair shares ~0 shingles: no pair sits near the 0.5 threshold
MUTATIONS = 1


def rng_for(seed: int, *key: int) -> np.random.Generator:
    return np.random.default_rng([seed, *key])


def _write(table: pa.Table, path: str) -> dict:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path)
    return {"rows": table.num_rows, "bytes": os.path.getsize(path)}


def _zipf_users(rng: np.random.Generator, n: int) -> np.ndarray:
    ranks = rng.zipf(1.2, n) % USER_UNIVERSE
    # scatter ranks over the id space so hot users are not small ids
    return ((ranks * 2_654_435_761) % (1 << 31)).astype(np.int64)


def _tags(rng: np.random.Generator, n: int) -> pa.Array:
    """Tag arrays with NULL arrays (2%), empty arrays (3%) and NULL
    elements (5% of elements)."""
    lengths = rng.integers(1, 5, n)
    kind = rng.random(n)
    lengths[kind < 0.05] = 0
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(lengths, out=offsets[1:])
    words = rng.integers(0, TAG_VOCAB, int(offsets[-1]))
    values = pa.array(
        [f"tag{w}" for w in words],
        mask=rng.random(len(words)) < 0.05,
        type=pa.string(),
    )
    return pa.ListArray.from_arrays(
        pa.array(offsets), values, mask=pa.array(kind < 0.02)
    )


def events(seed: int, batch: int, n: int) -> pa.Table:
    rng = rng_for(seed, 1, batch)
    return pa.table(
        {
            "hour": rng.integers(0, HOURS, n).astype(np.int32),
            "event_type": rng.integers(0, EVENT_TYPES, n).astype(np.int32),
            "segment": rng.integers(0, SEGMENTS, n).astype(np.int32),
            "user_id": _zipf_users(rng, n),
            "tags": _tags(rng, n),
        }
    )


def land_build_batch(seed: int, batch: int, root: str) -> tuple[str, dict]:
    """One ingest batch, landed as ``BUILD_BATCH_FILES`` files (a batch
    arrives from several producers, and Spark reads one file per task)."""
    table = events(seed, batch, BUILD_BATCH_ROWS)
    path = os.path.join(root, f"batch_{batch:05d}")
    step = -(-table.num_rows // BUILD_BATCH_FILES)
    recs = [
        _write(table.slice(k * step, step), os.path.join(path, f"part_{k}.parquet"))
        for k in range(BUILD_BATCH_FILES)
    ]
    return path, {
        "rows": sum(r["rows"] for r in recs),
        "bytes": sum(r["bytes"] for r in recs),
        "files": BUILD_BATCH_FILES,
    }


def land_store_events(seed: int, root: str) -> tuple[str, dict]:
    """The standing store's raw events: one file, ``day`` column added."""
    parts = []
    for day in range(STORE_DAYS):
        t = events(seed, 10_000 + day, STORE_EVENTS_PER_DAY)
        parts.append(
            t.append_column("day", pa.array(np.full(t.num_rows, day, np.int32)))
        )
    path = os.path.join(root, "store_events.parquet")
    return path, _write(pa.concat_tables(parts), path)


def query_params(seed: int, i: int) -> dict:
    """Parameters of the i-th query."""
    rng = rng_for(seed, 2, i)
    lo = int(rng.integers(0, STORE_DAYS - 2))
    return {
        "day_lo": lo,
        "day_hi": int(rng.integers(lo + 1, STORE_DAYS)),
        "day": int(rng.integers(2, STORE_DAYS)),
        "hour_lo": int(rng.integers(0, HOURS // 2)),
        "hour_hi": int(rng.integers(HOURS // 2, HOURS)),
        "seg_a": 0,
        "seg_b": int(rng.integers(1, SEGMENTS)),
        "event_type": int(rng.integers(0, EVENT_TYPES)),
        "to_strm": bool(i % 2),
    }


# ---- vectors and the CDC script --------------------------------------------


class VectorSpace:
    """Clustered unit vectors: ``VEC_CLUSTERS`` seeded centres, each
    vector a centre plus noise, so IVF lists are meaningful."""

    def __init__(self, seed: int):
        self.seed = seed
        rng = rng_for(seed, 3)
        self.centres = rng.normal(size=(VEC_CLUSTERS, VEC_DIM))

    def draw(self, rng: np.random.Generator, n: int) -> np.ndarray:
        c = self.centres[rng.integers(0, VEC_CLUSTERS, n)]
        return c + 0.35 * rng.normal(size=(n, VEC_DIM))


def _vec_table(ids, vecs, ops=None) -> pa.Table:
    cols = {
        "vec_id": pa.array(np.asarray(ids, dtype=np.int64)),
        "embedding": pa.array(
            [None if v is None else [float(x) for x in v] for v in vecs],
            type=pa.list_(pa.float64()),
        ),
    }
    if ops is not None:
        cols["op"] = pa.array(ops, type=pa.string())
    return pa.table(cols)


def land_standing_vectors(seed: int, root: str) -> tuple[str, dict, dict]:
    """Standing corpus; returns the live set {id: vector} as well."""
    space = VectorSpace(seed)
    vecs = space.draw(rng_for(seed, 4), VEC_STANDING)
    ids = np.arange(VEC_STANDING, dtype=np.int64)
    path = os.path.join(root, "standing.parquet")
    rec = _write(_vec_table(ids, vecs), path)
    return path, rec, {int(i): v for i, v in zip(ids, vecs)}


class CdcScript:
    """The CDC script: round ``r`` inserts new ids, upserts live ids and
    deletes live ids.  ``live`` is the id -> vector map the script
    implies after every round applied so far."""

    def __init__(self, seed: int, live: dict):
        self.seed = seed
        self.space = VectorSpace(seed)
        self.live = dict(live)
        self.next_id = VEC_STANDING

    def land(self, r: int, root: str) -> tuple[str, dict]:
        rng = rng_for(self.seed, 5, r)
        ins_ids = list(range(self.next_id, self.next_id + CDC_INSERTS))
        self.next_id += CDC_INSERTS
        live_ids = np.array(sorted(self.live), dtype=np.int64)
        touched = rng.choice(live_ids, CDC_UPSERTS + CDC_DELETES, replace=False)
        up_ids = [int(i) for i in touched[:CDC_UPSERTS]]
        del_ids = [int(i) for i in touched[CDC_UPSERTS:]]
        new_vecs = self.space.draw(rng, CDC_INSERTS + CDC_UPSERTS)
        ids = ins_ids + up_ids + del_ids
        vecs = list(new_vecs) + [None] * CDC_DELETES
        ops = ["I"] * CDC_INSERTS + ["U"] * CDC_UPSERTS + ["D"] * CDC_DELETES
        for i, v in zip(ins_ids + up_ids, new_vecs):
            self.live[i] = v
        for i in del_ids:
            del self.live[i]
        path = os.path.join(root, f"cdc_{r:05d}.parquet")
        return path, _write(_vec_table(ids, vecs, ops), path)

    def queries(self, r: int) -> tuple[np.ndarray, np.ndarray]:
        rng = rng_for(self.seed, 6, r)
        return np.arange(TOPK_QUERIES, dtype=np.int64), self.space.draw(
            rng, TOPK_QUERIES
        )


def query_table(qids: np.ndarray, qvecs: np.ndarray) -> pa.Table:
    return _vec_table(qids, qvecs)


# ---- planted-duplicate corpus ----------------------------------------------


def corpus_shard(seed: int, shard: int) -> tuple[pa.Table, list]:
    """A shard of documents with planted near-duplicate clusters.

    Returns the table (doc_id, text) and the planted clusters as lists
    of doc ids."""
    rng = rng_for(seed, 7, shard)
    n_base = int(SHARD_DOCS / (1 + CLUSTER_SHARE * CLUSTER_COPIES))
    words = rng.integers(0, WORD_VOCAB, size=(n_base, DOC_WORDS))
    docs = [list(w) for w in words]
    clusters = []
    bases = rng.choice(n_base, int(n_base * CLUSTER_SHARE), replace=False)
    for b in bases:
        members = [int(b)]
        for _ in range(CLUSTER_COPIES):
            copy = list(docs[b])
            for pos in rng.choice(DOC_WORDS, MUTATIONS, replace=False):
                copy[pos] = int(rng.integers(0, WORD_VOCAB))
            members.append(len(docs))
            docs.append(copy)
        clusters.append(members)
    base_id = shard * 1_000_000
    table = pa.table(
        {
            "doc_id": pa.array(
                np.arange(len(docs), dtype=np.int64) + base_id
            ),
            "text": pa.array([" ".join(f"w{w}" for w in d) for d in docs]),
        }
    )
    return table, [[base_id + m for m in c] for c in clusters]


def land_corpus_shard(seed: int, shard: int, root: str) -> tuple[str, dict, list]:
    table, clusters = corpus_shard(seed, shard)
    path = os.path.join(root, f"shard_{shard:05d}.parquet")
    return path, _write(table, path), clusters

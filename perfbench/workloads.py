"""The workloads, each a closed loop with one client.

A workload has set-up steps (``generate`` and ``standing`` are repeated
so set-up time can be reported as a median; ``warm`` runs once), an
untimed ``prepare`` that lands the next op's inputs, the timed ``op``,
an untimed ``after_op`` for per-op checks, and a final ``check``.

Correctness is checked against references computed outside the library:
DuckDB exact distinct counts over the generated parquet, the CDC
script's own live set, exact numpy top-k over that live set, and exact
shingle Jaccard in Python.
"""

from __future__ import annotations

import glob
import itertools
import os
import statistics

import duckdb
import numpy as np
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import functions as F

import spark_alchemy_spark.functions as AF
from spark_alchemy_spark.conf import error_from_precision, precision_from_error
from spark_alchemy_spark.operators.dedup import minhash_lsh_pairs
from spark_alchemy_spark.operators.graph import connected_components
from spark_alchemy_spark.operators.similarity import (
    build_ivf_index,
    ivf_topk_indexed,
    make_streaming_ivf_maintainer,
)
from spark_alchemy_spark.sources.io import write_table

import gen

#: sketch precision for every sketch the benchmark builds.  At lg_k 14
#: the checked cardinalities (up to a few thousand) sit in the coupon
#: regime or the low HLL range, where the estimator error is well under
#: a third of the 3x tolerance, so a check fails on a wrong sketch, not
#: on sketch variance.
RELATIVE_SD = 0.01
LG_K = precision_from_error(RELATIVE_SD)
#: the sketch's stated relative error; checks allow 3x this
RSE = error_from_precision(LG_K)


def _within(est, exact: float, scale: float) -> bool:
    """``est`` within 3x the stated relative error of ``exact``; a NULL
    sketch (no input) stands for 0."""
    return abs((est or 0) - exact) <= 3 * RSE * scale


class Checks:
    """Counts checks and failures; keeps the first few failures."""

    def __init__(self):
        self.n = 0
        self.failed = 0
        self.notes: list[str] = []

    def add(self, ok: bool, what: str) -> None:
        self.n += 1
        if not ok:
            self.failed += 1
            if len(self.notes) < 10:
                self.notes.append(what)


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(f)
        for f in glob.glob(os.path.join(path, "**", "*"), recursive=True)
        if os.path.isfile(f)
    )


class Workload:
    #: what one op's ``items`` count
    items = ""
    #: untimed ops before the loop; ops with negative index are warm-up
    WARM_OPS = 1

    def __init__(self, spark, seed: int, tracer):
        self.spark = spark
        self.seed = seed
        self.tracer = tracer
        self.checks = Checks()
        self.sizes: dict = {}
        self.extra: dict = {}

    def generate(self, root: str) -> None:
        pass

    def standing(self, root: str) -> None:
        pass

    def warm(self) -> None:
        for i in range(-self.WARM_OPS, 0):
            self.prepare(i)
            self.op(i)
            self.after_op(i)

    def prepare(self, i: int) -> None:
        pass

    def op(self, i: int) -> int:
        raise NotImplementedError

    def after_op(self, i: int) -> None:
        pass

    def check(self) -> None:
        pass


# ---------------------------------------------------------------------------


class SketchStore(Workload):
    """A live sketch store.  Set-up builds a standing store of per-(day,
    hour, event_type, segment) sketches.  Each op ingests one batch —
    ``groupBy(hour, event_type)`` with ``hll_init_agg`` and
    ``hll_init_collection_agg``, appended through ``write_table`` — then
    runs the whole query mix once over the standing store, so every op
    does the same work and a gain for writing that costs reading nets
    out in the op's latency (the trace splits the two)."""

    items = "events"
    KINDS = ("coarse_merge", "row_merge", "intersect", "sql_merge", "export_agkn")
    # after one warm-up op the next still costs ~20% more CPU than the
    # third, as the JVM keeps compiling this op's hot paths
    WARM_OPS = 2

    def generate(self, root):
        self.inputs = os.path.join(root, "batches")
        self.ingest_store = os.path.join(root, "ingested")
        self.written: list[int] = []
        self.sizes["batch"] = gen.land_build_batch(self.seed, 0, self.inputs)[1]
        self.events_path, self.sizes["store_events"] = gen.land_store_events(
            self.seed, root
        )

    def standing(self, root):
        self.store_path = os.path.join(root, "store")
        events = self.spark.read.parquet(self.events_path)
        write_table(
            events.groupBy("day", "hour", "event_type", "segment").agg(
                AF.hll_init_agg("user_id", RELATIVE_SD).alias("users")
            ),
            self.store_path,
        )
        self.sizes["store"] = {"bytes": _dir_bytes(self.store_path)}

    def warm(self):
        from spark_alchemy_spark.conf import DEFAULT_ERROR_CONF_KEY

        # the SQL surface resolves its precision from the session conf
        self.spark.conf.set(DEFAULT_ERROR_CONF_KEY, str(RELATIVE_SD))
        AF.register(self.spark)
        self.store = self.spark.read.parquet(self.store_path)
        self.store.createOrReplaceTempView("sketch_store")
        self.results: list[tuple] = []
        super().warm()

    def prepare(self, i):
        self.batch = i + self.WARM_OPS  # warm-up ops ingest the first batches
        self.path = gen.land_build_batch(self.seed, self.batch, self.inputs)[0]

    def op(self, i):
        with self.tracer.span("build.construct"):
            agg = (
                self.spark.read.parquet(self.path)
                .groupBy("hour", "event_type")
                .agg(
                    AF.hll_init_agg("user_id", RELATIVE_SD).alias("users"),
                    AF.hll_init_collection_agg("tags", RELATIVE_SD).alias("tags"),
                )
            )
        with self.tracer.span("build.write"):
            write_table(agg, os.path.join(self.ingest_store, f"batch={self.batch}"))
        self.written.append(self.batch)
        for k, kind in enumerate(self.KINDS):
            # warm-up queries (negative i) draw from their own parameter range
            q = len(self.KINDS) * i + k
            p = gen.query_params(self.seed, q if q >= 0 else 1_000_000 - q)
            with self.tracer.span(f"query.{kind}"):
                rows = getattr(self, "_" + kind)(p)
            if i >= 0:
                self.results.append((kind, p, rows))
        return gen.BUILD_BATCH_ROWS

    def check(self):
        self._check_ingested()
        self._check_queries()

    def _check_ingested(self):
        est = (
            self.spark.read.parquet(self.ingest_store)
            .select(
                "batch",
                "hour",
                "event_type",
                AF.hll_cardinality("users").alias("u"),
                AF.hll_cardinality("tags").alias("t"),
            )
            .collect()
        )
        files = [
            os.path.join(self.inputs, f"batch_{b:05d}", "*.parquet")
            for b in self.written
        ]
        con = duckdb.connect()
        listed = ", ".join(f"'{f}'" for f in files)
        con.execute(
            "CREATE VIEW ev AS SELECT CAST(regexp_extract(filename, "
            "'batch_(\\d+)', 1) AS INT) AS batch, * FROM "
            f"read_parquet([{listed}], filename=true)"
        )
        users = {
            (b, h, e): n
            for b, h, e, n in con.execute(
                "SELECT batch, hour, event_type, count(DISTINCT user_id) "
                "FROM ev GROUP BY ALL"
            ).fetchall()
        }
        tags = {
            (b, h, e): n
            for b, h, e, n in con.execute(
                "SELECT batch, hour, event_type, count(DISTINCT t) FROM "
                "(SELECT batch, hour, event_type, unnest(tags) AS t FROM ev) "
                "GROUP BY ALL"
            ).fetchall()
        }
        con.close()
        seen = set()
        for r in est:
            key = (r["batch"], r["hour"], r["event_type"])
            seen.add(key)
            n_u, n_t = users.get(key, 0), tags.get(key, 0)
            self.checks.add(_within(r["u"], n_u, n_u), f"users {key}: {r['u']} vs {n_u}")
            self.checks.add(_within(r["t"], n_t, n_t), f"tags {key}: {r['t']} vs {n_t}")
        self.checks.add(seen == set(users), "store groups != input groups")
        per_batch = [
            _dir_bytes(os.path.join(self.ingest_store, f"batch={b}"))
            for b in self.written
        ]
        self.extra["build.store_bytes"] = statistics.median(per_batch)

    def _days(self, p):
        return self.store.filter(F.col("day").between(p["day_lo"], p["day_hi"]))

    def _coarse_merge(self, p):
        return self._days(p).groupBy("event_type").agg(
            AF.hll_cardinality(AF.hll_merge("users")).alias("est")
        ).collect()

    def _row_merge(self, p):
        from pyspark.sql import Window

        w = Window.partitionBy("event_type").orderBy("day")
        daily = (
            self.store.filter(F.col("hour").between(p["hour_lo"], p["hour_hi"]))
            .groupBy("event_type", "day")
            .agg(AF.hll_merge("users").alias("s0"))
        )
        return (
            daily.select(
                "event_type",
                "day",
                AF.hll_cardinality(
                    AF.hll_row_merge(
                        "s0", F.lag("s0", 1).over(w), F.lag("s0", 2).over(w)
                    )
                ).alias("est"),
            )
            .filter(F.col("day") >= 2)
            .collect()
        )

    def _intersect(self, p):
        def seg(s, alias):
            return (
                self._days(p)
                .filter(F.col("segment") == s)
                .groupBy("event_type")
                .agg(AF.hll_merge("users").alias(alias))
            )

        return (
            seg(p["seg_a"], "a")
            .join(seg(p["seg_b"], "b"), "event_type")
            .select(
                "event_type", AF.hll_intersect_cardinality("a", "b").alias("est")
            )
            .collect()
        )

    def _sql_merge(self, p):
        return self.spark.sql(
            "SELECT event_type, hll_cardinality(hll_merge(users)) AS est "
            f"FROM sketch_store WHERE hour BETWEEN {p['hour_lo']} AND "
            f"{p['hour_hi']} GROUP BY event_type"
        ).collect()

    def _export_agkn(self, p):
        img = (
            AF.hll_convert(AF.hll_convert("users", "DS", "STRM"), "STRM", "AGKN")
            if p["to_strm"]
            else AF.hll_convert("users", "DS", "AGKN")
        )
        return (
            self.store.filter(
                (F.col("day") == p["day"]) & (F.col("event_type") == p["event_type"])
            )
            .select(
                "hour",
                "segment",
                AF.hll_cardinality("users").alias("est"),
                F.call_function("agkn_cardinality", img).alias("exported"),
            )
            .collect()
        )

    def _check_queries(self):
        con = duckdb.connect()
        con.execute(
            "CREATE TABLE ev AS SELECT * FROM read_parquet(?)", [self.events_path]
        )
        max_rel = 0.0

        def exact(sql, params, nk=1):
            """{key columns: the count, or the tuple of counts}"""
            return {
                r[:nk]: r[nk] if len(r) == nk + 1 else r[nk:]
                for r in con.execute(sql, params).fetchall()
            }

        def est_check(key, est, n, scale=None):
            nonlocal max_rel
            max_rel = max(max_rel, abs((est or 0) - n) / max(n, 1))
            self.checks.add(
                _within(est, n, n if scale is None else scale),
                f"{key}: {est} vs {n}",
            )

        for kind, p, rows in self.results:
            if kind == "coarse_merge":
                ref = exact(
                    "SELECT event_type, count(DISTINCT user_id) FROM ev "
                    "WHERE day BETWEEN ? AND ? GROUP BY ALL",
                    [p["day_lo"], p["day_hi"]],
                )
                for r in rows:
                    est_check((kind, r["event_type"]), r["est"], ref[(r["event_type"],)])
                self.checks.add(len(rows) == len(ref), f"{kind} group count")
            elif kind == "sql_merge":
                ref = exact(
                    "SELECT event_type, count(DISTINCT user_id) FROM ev "
                    "WHERE hour BETWEEN ? AND ? GROUP BY ALL",
                    [p["hour_lo"], p["hour_hi"]],
                )
                for r in rows:
                    est_check((kind, r["event_type"]), r["est"], ref[(r["event_type"],)])
                self.checks.add(len(rows) == len(ref), f"{kind} group count")
            elif kind == "row_merge":
                ref = exact(
                    "SELECT event_type, d.day, count(DISTINCT user_id) FROM ev "
                    "JOIN range(2, ?) d(day) ON ev.day BETWEEN d.day - 2 AND "
                    "d.day WHERE hour BETWEEN ? AND ? GROUP BY ALL",
                    [gen.STORE_DAYS, p["hour_lo"], p["hour_hi"]],
                    nk=2,
                )
                for r in rows:
                    k = (r["event_type"], r["day"])
                    est_check((kind, *k), r["est"], ref[k])
                self.checks.add(len(rows) == len(ref), f"{kind} group count")
            elif kind == "intersect":
                ref = exact(
                    "SELECT event_type, count(DISTINCT user_id) FILTER "
                    "(segment = ?), count(DISTINCT user_id) FILTER (segment = ?),"
                    " count(DISTINCT user_id) FROM ev WHERE segment "
                    "IN (?, ?) AND day BETWEEN ? AND ? GROUP BY ALL",
                    [p["seg_a"], p["seg_b"], p["seg_a"], p["seg_b"],
                     p["day_lo"], p["day_hi"]],
                )
                for r in rows:
                    n_a, n_b, n_u = ref[(r["event_type"],)]
                    # inclusion-exclusion adds three estimates' errors
                    est_check(
                        (kind, r["event_type"]), r["est"], n_a + n_b - n_u,
                        scale=n_a + n_b + n_u,
                    )
                self.checks.add(len(rows) == len(ref), f"{kind} group count")
            else:
                ref = exact(
                    "SELECT hour, segment, count(DISTINCT user_id) FROM ev "
                    "WHERE day = ? AND event_type = ? GROUP BY ALL",
                    [p["day"], p["event_type"]],
                    nk=2,
                )
                for r in rows:
                    k = (r["hour"], r["segment"])
                    est_check((kind, *k), r["est"], ref.get(k, 0))
                    # both estimates are rounded to integers, and the
                    # export estimates from registers, where two coupons
                    # can share one: one count of slack on top of 3x RSE
                    ds_est = r["est"] or 0
                    self.checks.add(
                        abs((r["exported"] or 0) - ds_est) <= 3 * RSE * ds_est + 1,
                        f"export {k}: {r['exported']} vs DS {r['est']}",
                    )
                self.checks.add(len(rows) == len(ref), f"{kind} group count")
        con.close()
        self.extra["query.max_rel_error"] = max_rel


# ---------------------------------------------------------------------------

CDC_SCHEMA = "vec_id long, embedding array<double>, op string"


class IndexChurn(Workload):
    """CDC files drain through the streaming IVF maintainer; top-k reads
    run after every drain."""

    items = "cdc_rows"

    def generate(self, root):
        self.root = root
        self.standing_path, self.sizes["standing"], live = (
            gen.land_standing_vectors(self.seed, root)
        )
        self.script = gen.CdcScript(self.seed, live)

    def standing(self, root):
        self.idx = os.path.join(root, "idx")
        self.arrivals = os.path.join(root, "arrivals")
        self.chk = os.path.join(root, "chk")
        os.makedirs(self.arrivals, exist_ok=True)
        corpus = self.spark.read.parquet(self.standing_path)
        build_ivf_index(
            corpus, "vec_id", "embedding", self.idx,
            n_centroids=gen.VEC_CLUSTERS, seed=self.seed,
        )
        # rebalancing is off: whether a list splits depends on how k-means
        # tiles the seed's clusters, and a round with a split runs ~50%
        # more jobs, so op cost would track the seed, not the program
        maintain, self.log = make_streaming_ivf_maintainer(
            self.spark, self.idx, id_col="vec_id", vec_col="embedding",
            op_col="op", trigger_ratio=1e9,
        )

        def traced(batch_df, batch_id):
            with self.tracer.span("churn.maintainer_batch"):
                maintain(batch_df, batch_id)

        self.maintain = traced
        self.last_batch = -1
        self.cdc_rows = gen.CDC_INSERTS + gen.CDC_UPSERTS + gen.CDC_DELETES

    def prepare(self, i):
        r = i + 1  # round 0 is the warm-up round
        self.sizes["cdc_file"] = self.script.land(r, self.arrivals)[1]
        qids, qvecs = self.script.queries(r)
        self.last_queries = (qids, qvecs)
        qpath = os.path.join(self.root, "queries", f"q_{r:05d}.parquet")
        os.makedirs(os.path.dirname(qpath), exist_ok=True)
        pq.write_table(gen.query_table(qids, qvecs), qpath)
        self.qpath = qpath

    def op(self, i):
        with self.tracer.span("churn.drain"):
            q = (
                self.spark.readStream.schema(CDC_SCHEMA)
                .parquet(self.arrivals)
                .writeStream.foreachBatch(self.maintain)
                .trigger(availableNow=True)
                .option("checkpointLocation", self.chk)
                .start()
            )
            q.awaitTermination()
        queries = self.spark.read.parquet(self.qpath)
        with self.tracer.span("churn.topk"):
            self.topk = ivf_topk_indexed(
                self.spark, self.idx, queries, "vec_id", "embedding",
                k=10, nprobe=2,
            ).collect()
        return self.cdc_rows

    def after_op(self, i):
        ids = (
            ds.dataset(
                os.path.join(self.idx, "lists"),
                format="parquet",
                partitioning="hive",
                ignore_prefixes=["_", "."],
            )
            .to_table(columns=["vec_id"])
            .column("vec_id")
            .to_pylist()
        )
        live = set(self.script.live)
        self.checks.add(
            len(ids) == len(live) and set(ids) == live,
            f"round {i + 1}: index holds {len(ids)} rows, live set {len(live)}",
        )
        # every drain must commit as a new, higher batch id; a batch id
        # at or below the high-water mark is skipped as a replay
        entry = self.log[-1] if self.log else {}
        b = int(entry.get("batch_id", -1))
        self.checks.add(
            b > self.last_batch and not entry.get("skipped_replay", True),
            f"round {i + 1}: batch id {b} after {self.last_batch}",
        )
        self.last_batch = b

    def check(self):
        # exact cosine top-10 over the live set the CDC script implies,
        # computed in numpy: a reference independent of the library
        ids = np.array(sorted(self.script.live), dtype=np.int64)
        corpus = np.stack([self.script.live[i] for i in ids])
        corpus /= np.linalg.norm(corpus, axis=1, keepdims=True)
        qids, qvecs = self.last_queries
        cos = (qvecs / np.linalg.norm(qvecs, axis=1, keepdims=True)) @ corpus.T
        want = {
            (int(q), int(ids[j]))
            for q, row in zip(qids, cos)
            for j in np.lexsort((ids, -row))[:10]
        }
        got = {(r["query_id"], r["neighbor_id"]) for r in self.topk}
        self.checks.add(
            len(self.topk) == 10 * len(qids), f"top-k returned {len(self.topk)} rows"
        )
        self.extra["churn.recall_at_10"] = len(want & got) / len(want)
        self.extra["churn.rebalances"] = sum(
            1 for e in self.log if e.get("rebalanced")
        )


# ---------------------------------------------------------------------------


def _shingles(text: str, n: int = 3) -> set:
    w = [t for t in text.split(" ") if t]
    return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


class CorpusDedup(Workload):
    """MinHash LSH pairs -> connected components -> noop sink, the same
    planted-duplicate corpus every pass: corpora differ in cluster
    layout, so rotating several would make a run's median depend on how
    many passes fit in it."""

    items = "docs"
    THRESHOLD = 0.5
    # op CPU falls ~40% over the first four passes as the JVM compiles
    # the join and aggregate paths, then stays flat
    WARM_OPS = 4

    def generate(self, root):
        self.path, self.sizes["corpus"], self.clusters = gen.land_corpus_shard(
            self.seed, 0, root
        )
        self.text = None
        self.emitted = 0
        self.true_emitted = 0
        self.planted = 0
        self.planted_found = 0

    def op(self, i):
        docs = self.spark.read.parquet(self.path)
        with self.tracer.span("dedup.lsh_pairs"):
            self.pairs = minhash_lsh_pairs(
                docs, "doc_id", "text", threshold=self.THRESHOLD
            ).localCheckpoint(eager=True)
        with self.tracer.span("dedup.components"):
            comps = connected_components(self.pairs)
        with self.tracer.span("dedup.sink"):
            comps.write.format("noop").mode("overwrite").save()
        self.comps = comps
        return self.sizes["corpus"]["rows"]

    def after_op(self, i):
        if i < 0:
            return
        if self.text is None:
            self.text = {
                r["doc_id"]: _shingles(r["text"])
                for r in pq.read_table(self.path).to_pylist()
            }
        text, clusters = self.text, self.clusters
        pairs = [(r["id_a"], r["id_b"]) for r in self.pairs.collect()]
        for a, b in pairs:
            j = _jaccard(text[a], text[b])
            self.checks.add(j >= self.THRESHOLD, f"pair {a},{b} exact Jaccard {j:.3f}")
            self.true_emitted += j >= self.THRESHOLD
        self.emitted += len(pairs)
        planted = {
            (min(a, b), max(a, b))
            for c in clusters
            for a, b in itertools.combinations(c, 2)
            if _jaccard(text[a], text[b]) >= self.THRESHOLD
        }
        self.planted += len(planted)
        self.planted_found += len(planted & set(pairs))
        comp = {r["node"]: r["comp"] for r in self.comps.collect()}
        for c in clusters:
            labels = {comp.get(d) for d in c}
            self.checks.add(
                len(labels) == 1 and None not in labels,
                f"cluster {c} split across components",
            )

    def check(self):
        self.extra["dedup.pair_recall"] = self.planted_found / max(self.planted, 1)
        self.extra["dedup.pair_precision"] = self.true_emitted / max(self.emitted, 1)


WORKLOADS = {
    "sketch_store": SketchStore,
    "index_churn": IndexChurn,
    "corpus_dedup": CorpusDedup,
}

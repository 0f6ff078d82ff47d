"""Battery extension, round 8: the VERDICT-r7 task list plus the two
index lifecycle legs that complete CRUD on the vector index.

* ``stream_ivf_recovery`` — the restart-recovery contract made real:
  the maintainer commits a micro-batch to the index's JSON transaction
  log, the stream is KILLED before the engine checkpoint commit, and
  the restarted stream replays that batch — which the log turns into a
  visible no-op skip, leaving every row exactly once
  (``operators/similarity.py`` txn note; VERDICT r7 task 1).
* ``ann_ivf_compaction`` — the fourth lifecycle leg: hot-partition-only
  small-file compaction composed into the index (VERDICT r7 task 3).
* ``quality_probe_r2`` — exact-integer R² from the same moment sums,
  parameterized over OLS / weighted / weighted-ridge fits (VERDICT r7
  tasks 4 + 5, hygiene per task 8).
* ``media_wav_decode`` — the pure-stdlib WAV codec through the
  multimodal tier, the audio twin of ``media_png_decode`` (task 6).
* ``ann_ivf_delete`` — the fifth lifecycle leg: id-based deletes with
  a partition-bounded rewrite and crash-safe resume.
* ``stream_ivf_cdc`` — the maintainer as a CDC sink: op-tagged
  insert/upsert/delete micro-batches applied exactly-once.

Same determinism conventions as queries.py.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from .localframe import local_frame

from .queries import _overlap, _t, query
from .queries_r6 import (
    _PROBE_FEATS_SQL,
    _PROBE_R2_SQL,
    _probe_dets_sql,
    _probe_feats,
    _probe_pin_sql,
    _probe_sums_sql,
)

# ---------------------------------------------------------------------------
# Exactly-once streaming appends under kill/restart (VERDICT r7 task 1)
# ---------------------------------------------------------------------------


@query(
    "stream_ivf_recovery",
    """
    SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 400)
                AS BIGINT) AS n_rows,
           TRUE AS crash_landed_batch0,
           TRUE AS replay_skipped,
           TRUE AS rows_conserved,
           TRUE AS stats_exact,
           TRUE AS stateless
    """,
)
def stream_ivf_recovery(spark, sf_dir):
    """EXACTLY-ONCE streaming appends proven by an engine-real
    kill/restart (VERDICT r7 task 1): batch 0's append COMMITS to the
    index (rows + ``txn.json`` high-water mark), then the stream
    crashes before the engine checkpoint commit — foreachBatch's
    at-least-once window.  The restarted stream (fresh maintainer
    closure, same checkpoint) REPLAYS batch 0; the transaction log
    turns the replay into a visible no-op skip, so after the drain
    every standing and streamed row is in the index exactly once and
    the running stats record (the txn commit carries the (n, mean)
    fold; ``read_index_stats`` resolves it first) matches the exact
    row count — the invariant a plain ``mode("append")`` write cannot
    keep.

    Invariants: ``crash_landed_batch0`` — the kill really happened
    after the index commit (pre-restart count = standing + batch 0);
    ``replay_skipped`` — the restarted stream's first log entry is the
    skip; ``rows_conserved`` — count == distinct ids == expected;
    ``stats_exact`` — the running stats record's n equals the row
    count;
    ``stateless`` — zero state-store operators (the index directory +
    txn log ARE the state)."""
    import glob
    import os
    import tempfile

    from .operators.similarity import (
        make_streaming_ivf_maintainer,
    )
    from .queries import _ivf_standing_index
    from .queries_ext import _sink_name
    from .streaming import _drain_foreach_batch

    (emb,) = _t(spark, sf_dir, "embeddings")
    standing = emb.filter(F.col("vec_id") < 300).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    # ONE agg for the standing and both batch counts (the
    # stream_ivf_rebalance job-count discipline: this entry is
    # job-count bound, not data bound)
    cnt = emb.agg(
        F.count_if(F.col("vec_id") < 300).alias("ns"),
        F.count_if(
            (F.col("vec_id") >= 300) & (F.col("vec_id") < 350)
        ).alias("b0"),
        F.count_if(
            (F.col("vec_id") >= 350) & (F.col("vec_id") < 400)
        ).alias("b1"),
    ).collect()[0]
    n_standing = int(cnt["ns"])
    batch_sizes = [int(cnt["b0"]), int(cnt["b1"])]

    # two mtime-ordered arrival files => two deterministic
    # micro-batches, written by ONE partitioned job (each batch key
    # hashes to one shuffle partition, so each r= dir gets exactly
    # one file — same pattern as stream_ivf_rebalance)
    arrivals_dir = os.path.join(
        tempfile.gettempdir(), _sink_name("ivf_recov_arrivals")
    )
    emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)).select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("embedding"),
        (F.col("vec_id") >= 350).cast("int").alias("r"),
    ).repartition("r").write.mode("overwrite").partitionBy("r").parquet(
        arrivals_dir
    )
    for i in range(2):
        for leaf in glob.glob(
            os.path.join(arrivals_dir, f"r={i}", "*.parquet")
        ):
            os.utime(leaf, (1_700_000_000 + i * 100,) * 2)

    idx_path = os.path.join(tempfile.gettempdir(), _sink_name("ivf_recov_idx"))
    _ivf_standing_index(spark, sf_dir, 300, dest=idx_path)
    chk = idx_path + "_chk"

    def read_arrivals():
        return (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", 1)
            .parquet(arrivals_dir + "/*")
        )

    # phase 1: crash AFTER the index commit, BEFORE the engine
    # checkpoint commit (raising inside foreachBatch fails the batch
    # post-side-effect — exactly the at-least-once replay window)
    maintain1, _log1 = make_streaming_ivf_maintainer(
        spark, idx_path, id_col="vec_id", vec_col="embedding"
    )

    def crash_after_commit(batch_df, batch_id):
        maintain1(batch_df, batch_id)
        raise RuntimeError("injected crash after index commit")

    crashed = False
    try:
        _drain_foreach_batch(read_arrivals(), crash_after_commit,
                             state_partitions=8, checkpoint=chk)
    except Exception as e:  # StreamingQueryException wrapping the raise
        crashed = "injected crash" in str(e)
    mid_count = int(
        spark.read.parquet(idx_path + "/lists").count()
    )
    crash_landed = crashed and mid_count == n_standing + batch_sizes[0]

    # phase 2: restart — fresh maintainer closure, same checkpoint:
    # the engine replays batch 0, the txn log skips it
    maintain2, log2 = make_streaming_ivf_maintainer(
        spark, idx_path, id_col="vec_id", vec_col="embedding"
    )
    progress: list = []
    _drain_foreach_batch(
        read_arrivals(), maintain2, state_partitions=8,
        progress_out=progress, checkpoint=chk,
    )

    n_expected = n_standing + sum(batch_sizes)
    conserve = (
        spark.read.parquet(idx_path + "/lists")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("vec_id").alias("nid"),
        )
        .collect()[0]
    )
    from .operators.similarity import read_index_stats

    stats_n = read_index_stats(spark, idx_path)[0]
    return local_frame(spark, 
        [
            (
                n_expected,
                crash_landed,
                bool(log2) and log2[0]["skipped_replay"] is True,
                int(conserve["n"]) == n_expected
                and int(conserve["nid"]) == n_expected,
                stats_n == n_expected,
                all(p["stateOperators"] == [] for p in progress),
            )
        ],
        "n_rows long, crash_landed_batch0 boolean, replay_skipped boolean,"
        " rows_conserved boolean, stats_exact boolean, stateless boolean",
    )


# ---------------------------------------------------------------------------
# IVF small-file compaction in the index lifecycle (VERDICT r7 task 3)
# ---------------------------------------------------------------------------


@query(
    "ann_ivf_compaction",
    """
    SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 400)
                + (SELECT count(*) FROM embeddings WHERE vec_id < 300) + 1
                AS BIGINT) AS n_rows,
           TRUE AS rows_conserved,
           TRUE AS files_reduced,
           TRUE AS only_hot_rewritten,
           TRUE AS stats_exact,
           TRUE AS plant_refound
    """,
)
def ann_ivf_compaction(spark, sf_dir):
    """The FOURTH index lifecycle leg (VERDICT r7 task 3): every
    incremental append clusters its write by list id — one parquet
    file per touched list per batch — so a long-running ingest
    fragments the hot lists into the small-file tail that taxes every
    later probe.  ``compact_ivf_index`` surveys per-list file counts
    with one driver-side metadata scan (zero Spark jobs), rewrites
    ONLY the over-threshold lists (one salted shuffle job, output
    sized from bytes per ``sources/io.py::compact_table``'s rule), and
    must change nothing but the file layout.

    Three batch appends — own-direction duplicates of standing rows
    (new ids at +40M, so the batches spread across the lists the way
    real arrivals do, independent of the table's id range), the first
    also carrying a planted duplicate of the base vector at id 50M —
    push the touched lists past the 2-file threshold; the compaction
    then collapses them.  Invariants:
    ``rows_conserved`` — count == distinct ids == expected after the
    rewrite; ``files_reduced`` — at least one list compacted and the
    total file count strictly fell; ``only_hot_rewritten`` — the
    compacted set is EXACTLY the over-threshold set from the
    pre-compaction survey (cold lists untouched); ``stats_exact`` —
    the running stats record still equals the exact row count
    (compaction moves bytes, not rows); ``plant_refound`` — a
    post-compaction INDEXED probe at selective nprobe still finds the
    planted duplicate at cosine 1.0."""
    import os
    import tempfile

    from .operators.similarity import (
        ivf_list_files,
        append_ivf_index,
        compact_ivf_index,
        ivf_topk_indexed,
        read_index_stats,
    )
    from .queries import _ivf_standing_index
    from .queries_ext import _sink_name

    (emb,) = _t(spark, sf_dir, "embeddings")
    standing = emb.filter(F.col("vec_id") < 400).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = standing.orderBy("vec_id").limit(1).localCheckpoint(eager=False)
    # ONE agg for both expected counts (job-count discipline, the
    # stream_ivf_rebalance pattern)
    cnt = emb.agg(
        F.count_if(F.col("vec_id") < 400).alias("ns"),
        F.count_if(F.col("vec_id") < 300).alias("na"),
    ).collect()[0]
    n_expected = int(cnt["ns"]) + int(cnt["na"]) + 1

    idx_path = os.path.join(tempfile.gettempdir(), _sink_name("ivf_cmp_idx"))
    _ivf_standing_index(spark, sf_dir, 400, dest=idx_path)
    for i, (lo, hi) in enumerate(((0, 100), (100, 200), (200, 300))):
        sl = emb.filter(
            (F.col("vec_id") >= lo) & (F.col("vec_id") < hi)
        ).select(
            (F.col("vec_id") + F.lit(40_000_000)).alias("vec_id"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        if i == 0:
            sl = sl.unionByName(
                base.select(
                    F.lit(50_000_000).cast("long").alias("vec_id"),
                    "embedding",
                )
            )
        append_ivf_index(sl, "vec_id", "embedding", idx_path)

    before, _ = ivf_list_files(idx_path)
    hot_expected = sorted(lid for lid, c in before.items() if c > 2)
    rep = compact_ivf_index(spark, idx_path, max_files_per_list=2)

    stats_n = read_index_stats(spark, idx_path)[0]
    # the conservation recount and the indexed probe are independent
    # bounded reads of the finished index — overlap them (guide §2.6)
    conserve, top = _overlap(
        lambda: spark.read.parquet(idx_path + "/lists")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("vec_id").alias("nid"),
        )
        .collect()[0],
        lambda: ivf_topk_indexed(
            spark, idx_path, base, "vec_id", "embedding", k=2, nprobe=2
        )
        .filter(F.col("neighbor_id") >= 50_000_000)
        .orderBy(F.desc("cos"))
        .limit(1)
        .collect(),
    )
    return local_frame(spark, 
        [
            (
                n_expected,
                int(conserve["n"]) == n_expected
                and int(conserve["nid"]) == n_expected,
                rep["n_compacted"] >= 1
                and rep["files_after"] < rep["files_before"],
                sorted(rep["compacted_list_ids"]) == hot_expected,
                stats_n == n_expected,
                bool(top) and float(top[0]["cos"]) >= 1.0,
            )
        ],
        "n_rows long, rows_conserved boolean, files_reduced boolean,"
        " only_hot_rewritten boolean, stats_exact boolean,"
        " plant_refound boolean",
    )


# ---------------------------------------------------------------------------
# Exact-integer fit diagnostics: R^2 from the same moment sums
# (VERDICT r7 tasks 4 + 5, parameterized per task 8's hygiene note)
# ---------------------------------------------------------------------------

#: the one weight expression the probe battery shares (see
#: quality_probe_weighted) — a deterministic confidence stand-in
_PROBE_W_SQL = "1 + doc_id % 3"


def _r2_row_sql(lam: int, weighted: bool, dets: str, with_r2: bool) -> str:
    r2 = _PROBE_R2_SQL if with_r2 else "CAST(NULL AS BIGINT)"
    return f"""
    SELECT CAST({lam} AS BIGINT) AS ridge_lambda,
           {str(weighted).upper()} AS weighted,
           CAST(n AS BIGINT) AS n_rows,
           {_probe_pin_sql("d0")} AS b0_ppm,
           {_probe_pin_sql("d1")} AS b1_ppm,
           {_probe_pin_sql("d2")} AS b2_ppm,
           {r2} AS r2_ppm
    FROM {dets}"""


@query(
    "quality_probe_r2",
    f"""
    WITH {_PROBE_FEATS_SQL},
    {_probe_sums_sql()},
    {_probe_sums_sql(weight=_PROBE_W_SQL, name="sums_w")},
    {_probe_dets_sql(name="du0")},
    {_probe_dets_sql(name="dw0", src="sums_w")},
    {_probe_dets_sql(name="dw1", src="sums_w", ridge=1_000_000)}
    {_r2_row_sql(0, False, "du0", True)}
    UNION ALL {_r2_row_sql(0, True, "dw0", True)}
    UNION ALL {_r2_row_sql(1_000_000, True, "dw1", False)}
    """,
)
def quality_probe_r2(spark, sf_dir):
    """GOODNESS OF FIT from the sums the fit already has (VERDICT r7
    task 4): SST and SSE are exact-integer functions of the moment
    sums plus the one extra term sum(y^2), so R^2 in ppm rides the
    SAME one-pass aggregate — diagnostics cost zero extra corpus
    scans, the shape a 100 TB model-selection sweep needs
    (``operators/probe.py::r2_ppm_from_sums``; per-lambda R^2 also
    rides ``fit_ridge_path_ppm`` for free).

    One row per fit config, all from ONE pass per sums variant:
    unweighted OLS, weighted OLS, and the weighted RIDGE combination
    (VERDICT r7 task 5 — ``ridge_lambda`` and ``weight_col`` composed
    through the same aggregate; pytest law: identical to
    replicated-rows ridge).  The two lambda=0 rows carry the exact
    HUGEINT R^2 replay via the OLS reduction SSE*det = syy*det -
    sum(d_k*b_k) (one det factor); the ridge row's R^2 is NULL in
    BOTH engines because the general det^2 identity the engine uses
    for lambda>0 exceeds 128-bit HUGEINT at this scale (~1e39) —
    ridge R^2 is Python-bigint-exact and law-tested in pytest
    (monotone non-increasing in lambda) instead."""
    from .operators.probe import fit_linear_probe_ppm

    (documents,) = _t(spark, sf_dir, "documents")
    feats = _probe_feats(documents).withColumn(
        "w", 1 + F.col("doc_id") % 3
    )
    rows = []
    for lam, wcol, with_r2 in (
        (0, None, True),
        (0, "w", True),
        (1_000_000, "w", False),
    ):
        res = fit_linear_probe_ppm(
            feats, ["x1", "x2"], "n_chars",
            ridge_lambda=lam, weight_col=wcol,
        )
        rows.append(
            (
                lam,
                wcol is not None,
                res["n"],
                *res["coeffs_ppm"],
                res["r2_ppm"] if with_r2 else None,
            )
        )
    return local_frame(spark, 
        rows,
        "ridge_lambda long, weighted boolean, n_rows long, b0_ppm long,"
        " b1_ppm long, b2_ppm long, r2_ppm long",
    )


# ---------------------------------------------------------------------------
# Real-container (WAV) codec through the multimodal tier (VERDICT r7 task 6)
# ---------------------------------------------------------------------------


@query(
    "media_wav_decode",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_clips,
           CAST(count(*) AS BIGINT) AS n_matching,
           TRUE AS wav_sniffed,
           TRUE AS features_equal,
           TRUE AS canonical_roundtrip
    FROM documents WHERE doc_id < 300
    """,
)
def media_wav_decode(spark, sf_dir):
    """The audio twin of ``media_png_decode`` (VERDICT r7 task 6): the
    same deterministic samples land once as the canonical 44-byte-
    header WAV (``synth_wav_bytes``) and once REMUXED through the
    pure-stdlib codec — ``wav_decode`` (chunk-walking RIFF parser, the
    layout real recorders emit) then ``wav_encode`` with an extra
    odd-sized LIST/INFO chunk between fmt and data (exercising the
    spec's word-alignment pad) — and ``multimodal.audio_features``
    must produce IDENTICAL features for both: container layout is the
    codec's concern, the featurizer contract is samples.
    ``canonical_roundtrip`` additionally pins encode(decode(b)) == b
    BYTE-FOR-BYTE on every canonical clip (the cross-implementation
    law: the codec's writer reproduces ``synth_wav_bytes``'s writer
    exactly); ``wav_sniffed`` pins the magic-byte sniffer on the
    remuxed header.  Parameter-bounded slice (doc_id < 300) — this
    entry gates CODEC MECHANICS; scan-throughput lives in
    ``media_audio_features``, which replays the featurizer
    value-for-value in SQL."""
    from .multimodal import (
        audio_features,
        sniff_mime,
        synth_wav_bytes,
        synth_wav_udf,
        wav_decode,
        wav_encode,
    )

    @F.pandas_udf("binary")
    def remux(seed: pd.Series) -> pd.Series:
        def mk(s):
            arr, sr, bits = wav_decode(synth_wav_bytes(int(s)))
            # 13-byte (odd) payload: the spec's word-alignment pad
            # byte is part of what the decode path must walk over
            return wav_encode(
                arr, sr, bits,
                extra_chunks=[(b"LIST", b"INFOICMTremux")],
            )

        return seed.map(mk)

    @F.pandas_udf("boolean")
    def roundtrips(b: pd.Series) -> pd.Series:
        def ok(v):
            buf = bytes(v)
            arr, sr, bits = wav_decode(buf)
            return wav_encode(arr, sr, bits) == buf

        return b.map(ok)

    (documents,) = _t(spark, sf_dir, "documents")
    ids = (
        documents.select("doc_id")
        .filter(F.col("doc_id") < 300)
        .repartition("doc_id")  # spread the Arrow encode/decode tasks
    )
    # checkpoint each Arrow stage's output (the media_png_decode
    # pattern): without the barriers AQE re-inlines the encode +
    # featurize subtrees into every consumer and the slice pays the
    # Python passes ~4x
    canon = ids.select(
        "doc_id", synth_wav_udf()(F.col("doc_id")).alias("wav")
    ).localCheckpoint(eager=False)  # reused by features + roundtrip
    remuxed = ids.select(
        "doc_id", remux(F.col("doc_id")).alias("wav")
    ).localCheckpoint(eager=False)  # reused by features + sniff
    fc = audio_features(canon, "wav", "doc_id").localCheckpoint(eager=False)
    fr = audio_features(remuxed, "wav", "doc_id").localCheckpoint(
        eager=False
    )
    sniff_ok = remuxed.select(
        F.min((sniff_mime("wav") == "audio/wav").cast("int")).alias("ok")
    )
    rt_ok = canon.select(
        F.min(roundtrips(F.col("wav")).cast("int")).alias("ok")
    )
    j = fc.alias("a").join(fr.alias("b"), "doc_id")
    eq = (
        (F.col("a.sample_rate") == F.col("b.sample_rate"))
        & (F.col("a.n_samples") == F.col("b.n_samples"))
        & (F.col("a.rms") == F.col("b.rms"))
        & (F.col("a.peak") == F.col("b.peak"))
    )
    agg = j.agg(
        F.count(F.lit(1)).alias("n_clips"),
        F.sum(eq.cast("long")).alias("n_matching"),
    )
    return (
        agg.crossJoin(F.broadcast(sniff_ok.withColumnRenamed("ok", "s_ok")))
        .crossJoin(F.broadcast(rt_ok.withColumnRenamed("ok", "r_ok")))
        .select(
            F.col("n_clips").cast("bigint").alias("n_clips"),
            F.col("n_matching").cast("bigint").alias("n_matching"),
            (F.col("s_ok") == 1).alias("wav_sniffed"),
            (F.col("n_clips") == F.col("n_matching")).alias("features_equal"),
            (F.col("r_ok") == 1).alias("canonical_roundtrip"),
        )
    )


# ---------------------------------------------------------------------------
# Index lifecycle leg 5: DELETE (decontamination-driven vector removal)
# ---------------------------------------------------------------------------


@query(
    "ann_ivf_delete",
    """
    SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 400)
                + (SELECT count(*) FROM embeddings WHERE vec_id < 100) + 1
                - (SELECT count(*) FROM embeddings
                   WHERE vec_id < 100 AND vec_id % 5 = 0)
                AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM embeddings
                 WHERE vec_id < 100 AND vec_id % 5 = 0)
                AS BIGINT) AS n_deleted,
           TRUE AS rows_conserved,
           TRUE AS deleted_absent,
           TRUE AS only_affected_rewritten,
           TRUE AS stats_exact,
           TRUE AS plant_refound
    """,
)
def ann_ivf_delete(spark, sf_dir):
    """The FIFTH index lifecycle leg: DELETE by id — what a curation
    pipeline runs the moment dedup/decontamination flags indexed
    vectors (a benchmark-contaminated document must stop surfacing as
    a neighbor WITHOUT a 100 TB rebuild).  Standing corpus + one
    appended batch of own-direction duplicates (ids at +40M, plus a
    planted duplicate of the base vector at id 50M), then
    ``delete_from_ivf_index`` removes the flagged subset (every 5th
    appended id) as a literal id list — parquet row-group stats prune
    the hit scan, and ONLY the partitions containing hits are
    rewritten (the compaction pattern; cold lists stay byte-identical,
    asserted from a pre-delete file snapshot).

    Invariants: ``rows_conserved`` — count == distinct ids == standing
    + appended + plant - deleted; ``deleted_absent`` — zero flagged
    ids remain; ``only_affected_rewritten`` — every file outside the
    report's affected partitions is byte-identical (path+size+mtime);
    ``stats_exact`` — the running stats record equals the exact
    post-delete count AND its mean matches a full re-score of the
    survivors to 1e-9 (the fold is the exact inverse of the append
    fold); ``plant_refound`` — the KEPT planted duplicate still
    surfaces at cosine 1.0 through an indexed probe after the rewrite
    (deletes must not perturb surviving neighbors)."""
    import os
    import tempfile

    from .operators.similarity import (
        assign_to_lists,
        centroids_df,
        append_ivf_index,
        delete_from_ivf_index,
        ivf_topk_indexed,
        read_index_stats,
    )
    from .queries import _ivf_standing_index
    from .queries_ext import _sink_name

    (emb,) = _t(spark, sf_dir, "embeddings")
    standing = emb.filter(F.col("vec_id") < 400).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    base = standing.orderBy("vec_id").limit(1).localCheckpoint(eager=False)
    cnt = emb.agg(
        F.count_if(F.col("vec_id") < 400).alias("ns"),
        F.count_if(F.col("vec_id") < 100).alias("na"),
        F.count_if(
            (F.col("vec_id") < 100) & (F.col("vec_id") % 5 == 0)
        ).alias("nd"),
    ).collect()[0]
    n_deleted = int(cnt["nd"])
    n_expected = int(cnt["ns"]) + int(cnt["na"]) + 1 - n_deleted

    idx_path = os.path.join(tempfile.gettempdir(), _sink_name("ivf_del_idx"))
    _ivf_standing_index(spark, sf_dir, 400, dest=idx_path)
    batch = (
        emb.filter(F.col("vec_id") < 100)
        .select(
            (F.col("vec_id") + F.lit(40_000_000)).alias("vec_id"),
            F.col("embedding").cast("array<double>").alias("embedding"),
        )
        .unionByName(
            base.select(
                F.lit(50_000_000).cast("long").alias("vec_id"), "embedding"
            )
        )
    )
    append_ivf_index(batch, "vec_id", "embedding", idx_path)

    flagged = [40_000_000 + i for i in range(0, 100, 5)]

    def snapshot(exclude):
        out = set()
        lists_dir = os.path.join(idx_path, "lists")
        for root, _, files in os.walk(lists_dir):
            part = os.path.basename(root)
            if any(part == f"list_id={lid}" for lid in exclude):
                continue
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out.add((os.path.relpath(p, lists_dir), st.st_size,
                         st.st_mtime_ns))
        return out

    pre_all = snapshot([])
    rep = delete_from_ivf_index(spark, idx_path, flagged)
    cold_before = {
        t for t in pre_all
        if not any(
            t[0].startswith(f"list_id={lid}/") or t[0].startswith(
                f"list_id={lid}{os.sep}"
            )
            for lid in rep["affected_list_ids"]
        )
    }
    cold_after = snapshot(rep["affected_list_ids"])

    lists = spark.read.parquet(idx_path + "/lists")
    stats_n, stats_mean = read_index_stats(spark, idx_path)
    cents = centroids_df(spark, idx_path)
    # ONE verify pass instead of two (r11, guide §1.2: the checks
    # stay, the actions merge): raw count + deleted-id hits ride the
    # rescore scan as observed metrics (pre-collapse — assign_to_lists
    # groups by id, so these must be measured on the RAW rows), and the
    # distinct-id count is the rescore's own row count (count of
    # non-null ids over one-row-per-distinct-id output == the old
    # countDistinct, without the expand plan).  The mean check is
    # unchanged in value: same rows, same expression, same avg.  The
    # rescore and the indexed probe are independent bounded reads of
    # the finished index, so they overlap (§2.6).
    from pyspark.sql import Observation

    obs = Observation()

    def _verify():
        return (
            assign_to_lists(
                lists.observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.sum(
                        F.col("vec_id").isin(flagged).cast("long")
                    ).alias("hit"),
                ),
                "vec_id",
                "__v",
                cents,
            )
            .agg(
                F.count("vec_id").alias("nid"),
                F.avg("__best_cos").alias("m"),
            )
            .collect()[0]
        )

    def _probe():
        return (
            ivf_topk_indexed(
                spark, idx_path, base, "vec_id", "embedding", k=2, nprobe=2
            )
            .filter(F.col("neighbor_id") >= 50_000_000)
            .orderBy(F.desc("cos"))
            .limit(1)
            .collect()
        )

    (rescored, top) = _overlap(_verify, _probe)
    agg = {
        "n": int(obs.get["n"]),
        "nid": int(rescored["nid"]),
        "hit": int(obs.get["hit"] or 0),
    }
    return local_frame(spark, 
        [
            (
                n_expected,
                rep["n_deleted"],
                int(agg["n"]) == n_expected
                and int(agg["nid"]) == n_expected
                and stats_n == n_expected,
                int(agg["hit"]) == 0,
                cold_after == cold_before,
                rep["n_deleted"] == n_deleted
                and abs(stats_mean - float(rescored["m"])) < 1e-9,
                bool(top) and float(top[0]["cos"]) >= 1.0,
            )
        ],
        "n_rows long, n_deleted long, rows_conserved boolean,"
        " deleted_absent boolean, only_affected_rewritten boolean,"
        " stats_exact boolean, plant_refound boolean",
    )


# ---------------------------------------------------------------------------
# Streaming CDC sink: op-tagged insert/delete ingest into the IVF index
# ---------------------------------------------------------------------------


@query(
    "stream_ivf_cdc",
    """
    SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 300)
                + (SELECT count(*) FROM embeddings WHERE vec_id < 100)
                - (SELECT count(*) FROM embeddings
                   WHERE vec_id < 300 AND vec_id % 10 = 1) - 1
                AS BIGINT) AS n_rows,
           CAST(2 AS BIGINT) AS n_batches,
           CAST((SELECT count(*) FROM embeddings
                 WHERE vec_id < 300 AND vec_id % 10 = 1) + 1
                AS BIGINT) AS n_deleted,
           CAST((SELECT count(*) FROM embeddings
                 WHERE vec_id < 300 AND vec_id % 10 = 2)
                AS BIGINT) AS n_upserted,
           TRUE AS rows_conserved,
           TRUE AS deleted_absent,
           TRUE AS same_batch_delete_wins,
           TRUE AS upserts_replaced,
           TRUE AS stats_exact,
           TRUE AS stateless
    """,
)
def stream_ivf_cdc(spark, sf_dir):
    """The index as a CDC SINK — the lifecycle composed end to end the
    way a curated corpus actually changes: a change feed of op-tagged
    rows ('I' insert with vector, 'D' delete by id) streams into
    ``make_streaming_ivf_maintainer(op_col=...)``, which applies
    inserts first, deletes second, and lands a ``last_cdc_batch_id``
    marker LAST, so every leg composes exactly-once (the insert leg is
    the append txn, the delete leg is ``delete_from_ivf_index``'s
    idempotent partition rewrite, and a fully-committed batch skips
    wholesale on replay — kill/restart proof in
    ``tests/test_r8_cdc.py``).

    Two mtime-ordered micro-batches: batch 0 inserts 50 new vectors;
    batch 1 inserts 50 more, UPSERTS every 10th-residue-2 standing id
    (replacement = the id's own vector scaled 2x — same direction, so
    the list assignment is stable and the replacement is detectable by
    value), AND deletes every 10th-residue-1 standing id plus ONE id
    inserted in batch 1 itself.  Invariants: ``rows_conserved`` —
    count == distinct ids == standing + inserted - deleted (upserts
    are count-neutral: old version out, new version in);
    ``deleted_absent`` — zero flagged ids remain;
    ``same_batch_delete_wins`` — the insert+delete-in-one-batch id is
    gone (plain deletes apply last: the delete is the curation
    verdict); ``upserts_replaced`` — every upserted id is present
    EXACTLY once and carries the 2x replacement vector, never the
    original; ``stats_exact`` — the commit record's n equals the exact
    row count and its cdc marker is batch 1; ``stateless`` — zero
    state-store operators (the index directory + txn log ARE the
    state)."""
    import glob
    import os
    import tempfile

    from .operators import txnlog
    from .operators.similarity import (
        make_streaming_ivf_maintainer,
        read_index_stats,
    )
    from .queries import _ivf_standing_index
    from .queries_ext import _sink_name
    from .streaming import _drain_foreach_batch

    (emb,) = _t(spark, sf_dir, "embeddings")
    standing = emb.filter(F.col("vec_id") < 300).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cnt = emb.agg(
        F.count_if(F.col("vec_id") < 300).alias("ns"),
        F.count_if(F.col("vec_id") < 100).alias("ni"),
        F.count_if(
            (F.col("vec_id") < 300) & (F.col("vec_id") % 10 == 1)
        ).alias("nd"),
        F.count_if(
            (F.col("vec_id") < 300) & (F.col("vec_id") % 10 == 2)
        ).alias("nu"),
    ).collect()[0]
    n_deleted = int(cnt["nd"]) + 1
    n_upserted = int(cnt["nu"])
    n_expected = int(cnt["ns"]) + int(cnt["ni"]) - n_deleted
    same_batch_id = 40_000_000 + 60

    ins = emb.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + F.lit(40_000_000)).alias("vec_id"),
        F.col("embedding").cast("array<double>").alias("embedding"),
        F.lit("I").alias("op"),
        (F.col("vec_id") >= 50).cast("int").alias("r"),
    )
    dels = (
        emb.filter((F.col("vec_id") < 300) & (F.col("vec_id") % 10 == 1))
        .select(
            "vec_id",
            F.lit(None).cast("array<double>").alias("embedding"),
            F.lit("D").alias("op"),
            F.lit(1).alias("r"),
        )
        .unionByName(
            local_frame(spark, 
                [(same_batch_id, None, "D", 1)],
                "vec_id long, embedding array<double>, op string, r int",
            )
        )
    )
    ups = emb.filter(
        (F.col("vec_id") < 300) & (F.col("vec_id") % 10 == 2)
    ).select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: x * 2.0
        ).alias("embedding"),
        F.lit("U").alias("op"),
        F.lit(1).alias("r"),
    )
    arrivals_dir = os.path.join(
        tempfile.gettempdir(), _sink_name("ivf_cdc_arrivals")
    )
    # ONE partitioned write => two mtime-ordered micro-batch files
    # (the stream_ivf_rebalance job-count pattern)
    ins.unionByName(dels).unionByName(ups).repartition("r").write.mode(
        "overwrite"
    ).partitionBy("r").parquet(arrivals_dir)
    for i in range(2):
        for leaf in glob.glob(
            os.path.join(arrivals_dir, f"r={i}", "*.parquet")
        ):
            os.utime(leaf, (1_700_000_000 + i * 100,) * 2)

    idx_path = os.path.join(tempfile.gettempdir(), _sink_name("ivf_cdc_idx"))
    _ivf_standing_index(spark, sf_dir, 300, dest=idx_path)
    maintain, log = make_streaming_ivf_maintainer(
        spark, idx_path, id_col="vec_id", vec_col="embedding", op_col="op"
    )
    arrivals = (
        spark.readStream.schema(
            "vec_id long, embedding array<double>, op string"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir + "/*")
    )
    progress: list = []
    _drain_foreach_batch(
        arrivals, maintain, state_partitions=8, progress_out=progress,
        checkpoint=idx_path + "_chk",
    )

    lists = spark.read.parquet(idx_path + "/lists")
    # ONE verify pass for conservation + the upsert value check (r11,
    # guide §1.2: the checks stay, the actions merge): the broadcast
    # LEFT join against the standing slice keeps lists 1:1 (standing
    # ids are unique), so every count_if below sees exactly the rows
    # the two separate aggregates saw — the upsert conditions keep
    # their residue-2 filter inline (a NULL __o comparison counts
    # false, matching the old inner join dropping the row).
    is_up = (F.col("vec_id") % 10 == 2) & (F.col("vec_id") < 300)
    conserve = (
        lists.join(
            F.broadcast(standing.withColumnRenamed("embedding", "__o")),
            "vec_id",
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("vec_id").alias("nid"),
            F.count_if(
                (F.col("vec_id") % 10 == 1) & (F.col("vec_id") < 300)
            ).alias("hit"),
            F.count_if(F.col("vec_id") == same_batch_id).alias("sb"),
            F.count_if(is_up & F.col("__o").isNotNull()).alias("un"),
            F.count_if(
                is_up
                & (F.col("__v") == F.transform("__o", lambda x: x * 2.0))
            ).alias("uok"),
        )
        .collect()[0]
    )
    ucheck = {"n": int(conserve["un"]), "ok": int(conserve["uok"])}
    stats_n = read_index_stats(spark, idx_path)[0]
    txn = txnlog.read(idx_path, txnlog.COMMIT)
    return local_frame(spark, 
        [
            (
                n_expected,
                len(log),
                sum(e["n_deleted"] for e in log),
                sum(e["n_upserted"] for e in log),
                int(conserve["n"]) == n_expected
                and int(conserve["nid"]) == n_expected,
                int(conserve["hit"]) == 0,
                int(conserve["sb"]) == 0,
                int(ucheck["n"]) == n_upserted
                and int(ucheck["ok"]) == n_upserted,
                stats_n == n_expected
                and int(txn["last_cdc_batch_id"]) == 1,
                all(p["stateOperators"] == [] for p in progress),
            )
        ],
        "n_rows long, n_batches long, n_deleted long, n_upserted long,"
        " rows_conserved boolean, deleted_absent boolean,"
        " same_batch_delete_wins boolean, upserts_replaced boolean,"
        " stats_exact boolean, stateless boolean",
    )


# ---------------------------------------------------------------------------
# Streaming CDC quality-model maintenance: moment sums are a GROUP
# ---------------------------------------------------------------------------


@query(
    "stream_probe_cdc_fit",
    f"""
    WITH {_PROBE_FEATS_SQL},
    fs AS (SELECT * FROM feats WHERE
        (doc_id % 3 = 0 AND doc_id % 5 <> 0)
        OR (doc_id % 3 = 1 AND doc_id % 7 <> 0)
        OR doc_id % 3 = 2),
    {_probe_sums_sql(src="fs")},
    {_probe_dets_sql()}
    SELECT CAST(3 AS BIGINT) AS n_batches,
           CAST(n AS BIGINT) AS n_rows,
           {_probe_pin_sql("d0")} AS b0_ppm,
           {_probe_pin_sql("d1")} AS b1_ppm,
           {_probe_pin_sql("d2")} AS b2_ppm,
           {_PROBE_R2_SQL} AS r2_ppm,
           TRUE AS matches_batch_fit
    FROM dets
    """,
)
def stream_probe_cdc_fit(spark, sf_dir):
    """The quality model maintained under a CHANGE feed — the probe
    twin of ``stream_ivf_cdc``: the moment sums are not just a monoid
    but a GROUP (exact integer adds have exact inverses), so DELETES
    maintain the fit exactly too — subtract the removed rows' sums
    (the CDC delete's before-image, re-featurized) and re-solve; an
    update is delete(old image) + insert(new image)
    (``operators/probe.py::subtract_moment_sums``).  Sketch state
    (HLL/CMS) can never do this — monoids don't subtract; sufficient
    statistics do.

    Three mtime-ordered micro-batches over the documents table: batch
    0 inserts the residue-0 third; batch 1 inserts the residue-1 third
    AND deletes (with before-images) every 5th of batch 0's docs;
    batch 2 inserts the residue-2 third and deletes every 7th of batch
    1's.  Each batch costs ONE grouped aggregate (per-op moment sums,
    <= 2 rows collected); the RESTART-RECOVERABLE maintainer
    (``make_streaming_probe_maintainer`` — per-batch atomic
    ``probe_txn.json`` commits, the probe twin of the IVF transaction
    log; round-9: the fold used to be a bare dict a crash would lose)
    folds +insert / -delete under a threaded engine CHECKPOINT, and
    the final exact-integer Cramer solve + R^2 must be BIT-IDENTICAL
    to a from-scratch batch fit over the surviving corpus — which is
    exactly what the oracle computes (the batch fit's own CTEs over
    the membership predicate), and what ``matches_batch_fit``
    re-asserts engine-side against ``fit_linear_probe_ppm`` on the
    filtered table; the kill/restart bit-identity proof is
    ``tests/test_r9_probe_recovery.py``.  At 100 TB this is a live
    quality gate tracking a curated corpus as curation both ADDS and
    REMOVES documents: d^2 longs per micro-batch cross the wire, one
    d^2-integer JSON record per commit, no state store, no corpus
    rescan, deletes exact."""
    import glob
    import os
    import tempfile

    from pyspark.sql import types as T

    from .operators.probe import (
        _solve_ppm,
        fit_linear_probe_ppm,
        make_streaming_probe_maintainer,
        r2_ppm_from_sums,
    )
    from .queries_ext import _sink_name
    from .streaming import _drain_foreach_batch

    (documents,) = _t(spark, sf_dir, "documents")
    d3 = F.col("doc_id") % 3
    ins = documents.withColumn("op", F.lit("I")).withColumn(
        "r", (d3 % 3).cast("int")
    )
    dels = (
        documents.filter((d3 == 0) & (F.col("doc_id") % 5 == 0))
        .withColumn("op", F.lit("D"))
        .withColumn("r", F.lit(1))
        .unionByName(
            documents.filter((d3 == 1) & (F.col("doc_id") % 7 == 0))
            .withColumn("op", F.lit("D"))
            .withColumn("r", F.lit(2))
        )
    )
    arrivals_dir = os.path.join(
        tempfile.gettempdir(), _sink_name("probe_cdc_arrivals")
    )
    ins.unionByName(dels).repartition("r").write.mode(
        "overwrite"
    ).partitionBy("r").parquet(arrivals_dir)
    for i in range(3):
        for leaf in glob.glob(
            os.path.join(arrivals_dir, f"r={i}", "*.parquet")
        ):
            os.utime(leaf, (1_700_000_000 + i * 100,) * 2)

    txn_dir = os.path.join(
        tempfile.gettempdir(), _sink_name("probe_cdc_txn")
    )
    fold, st = make_streaming_probe_maintainer(
        txn_dir,
        ["x1", "x2"],
        "n_chars",
        op_col="op",
        prepare=lambda df: _probe_feats(df, extra=("op",)),
    )

    schema = T.StructType(
        documents.schema.fields + [T.StructField("op", T.StringType())]
    )
    arrivals = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir + "/*")
    )
    _drain_foreach_batch(arrivals, fold, checkpoint=txn_dir + "_chk")

    n, coeffs = _solve_ppm(st["sums"], d=2)
    if coeffs is None:
        raise ZeroDivisionError("singular normal-equation system")
    r2 = r2_ppm_from_sums(st["sums"], d=2)
    surviving = documents.filter(
        ((d3 == 0) & (F.col("doc_id") % 5 != 0))
        | ((d3 == 1) & (F.col("doc_id") % 7 != 0))
        | (d3 == 2)
    )
    batch_fit = fit_linear_probe_ppm(
        _probe_feats(surviving), ["x1", "x2"], "n_chars"
    )
    return local_frame(spark, 
        [
            (
                3,
                n,
                *coeffs,
                r2,
                batch_fit["n"] == n
                and batch_fit["coeffs_ppm"] == coeffs
                and batch_fit["r2_ppm"] == r2,
            )
        ],
        "n_batches long, n_rows long, b0_ppm long, b1_ppm long,"
        " b2_ppm long, r2_ppm long, matches_batch_fit boolean",
    )


# Round-9 battery (model selection, batch upsert) registers on import.
from . import queries_r9  # noqa: E402,F401  (registration side effect)

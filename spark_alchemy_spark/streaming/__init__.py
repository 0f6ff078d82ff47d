"""Structured Streaming operators: the streaming twins of the batch
battery (the reference has no streaming surface at all — SURVEY.md
§2.2 — so this is pure extension territory).

Each helper takes/returns streaming DataFrames; batch-equivalence is
asserted in tests by replaying the events parquet with the
``availableNow`` trigger into a memory sink and comparing against the
batch operator on the same data.

Scale notes: every aggregation below is keyed so state partitions by
the natural key; watermarks bound state (late data beyond the
watermark is dropped, exactly the documented contract); sketch state
in ``windowed_hll_users`` is a constant-size HLL per (window, key) —
the streaming version of the precompute-then-merge pattern.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..localframe import local_frame

from ..functions import hll


def read_table_stream(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Replay any testdata table's parquet as a file-source stream.

    ``{table}.parquet`` may be a single FILE (driver testdata) or a
    DIRECTORY of part files (Spark-written).  File streams take a
    directory; pathGlobFilter matches LEAF files only — so for the
    single-file layout stream the parent dir globbed to the file, and
    for the directory layout stream the directory itself (the glob
    would silently match nothing and drain an empty stream)."""
    import os

    path = os.path.join(sf_dir, f"{table}.parquet")
    static = spark.read.parquet(path)
    reader = spark.readStream.schema(static.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isdir(path):
        return reader.parquet(path)
    return reader.option("pathGlobFilter", f"{table}.parquet").parquet(sf_dir)


def read_events_stream(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Replay the events parquet as a file-source stream."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    stream = read_table_stream(spark, sf_dir, "events", max_files_per_trigger)
    # Driver testdata has shipped ts as either TIMESTAMP(NANOS) (surfacing
    # as BIGINT nanos under nanosAsLong) or plain timestamp[us]; guard on
    # the actual type like sources.tpch.load_table does.
    from pyspark.sql import types as T

    if isinstance(stream.schema["ts"].dataType, T.LongType):
        stream = stream.withColumn(
            "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long"))
        )
    # Watermarks require TIMESTAMP (with local tz); a TIMESTAMP_NTZ column
    # is rejected with EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE.  The NTZ→LTZ
    # cast keeps the wall-clock reading under the session timezone, so
    # date_format/window boundaries match the batch oracle exactly.
    if isinstance(stream.schema["ts"].dataType, T.TimestampNTZType):
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def windowed_counts(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Tumbling-window counts per event type with a watermark bounding
    state and late data."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def sliding_windowed_counts(
    events: DataFrame,
    window: str = "2 hours",
    slide: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding (hopping) window counts per event type: each event
    contributes to window/slide overlapping windows, so streaming state
    holds that many concurrent aggregates per key — the watermark still
    bounds total state because windows close slide-by-slide."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:00:00").alias("win_start"),
            "event_type",
            "n",
        )
    )


def windowed_hll_users(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
    relative_sd: float = 0.0015,
) -> DataFrame:
    """Streaming sketch rollup: one HLL of user_id per (window,
    event_type).  Persisted sketches stay re-mergeable downstream —
    the streaming half of the reference's precompute/merge pipeline."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(hll.hll_init_agg("user_id", relative_sd).alias("users_hll"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:00:00").alias("hour"),
            "event_type",
            "users_hll",
        )
    )


def sessionized_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Native streaming sessionization via session_window (the batch
    twin is operators.temporal.sessionize)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", "n_events")
    )


def deduped_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id with watermark-bounded state."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def _drain_foreach_batch(
    stream_df: DataFrame,
    fn,
    state_partitions: int | None = None,
    progress_out: list | None = None,
    checkpoint: str | None = None,
) -> None:
    """Run ``fn(batch_df, batch_id)`` over every micro-batch of
    ``stream_df`` with an ``availableNow`` trigger and block until the
    stream drains — the ONE foreachBatch scaffold shared by the
    ingest-dedup family, the sketch store, and the streaming IVF
    entries (round-7 VERDICT task: four hand-rolled copies meant a
    conf-leak fixed in one missed the other three).

    ``state_partitions`` temporarily bounds
    ``spark.sql.shuffle.partitions`` for the stream's lifetime (micro-
    batches are small; full-width shuffles would dominate wall time)
    and ALWAYS restores the caller's setting, even on failure.
    ``progress_out`` receives ``q.recentProgress`` for callers that
    assert on state-store metrics.  ``checkpoint`` sets the
    checkpointLocation for restart-recoverable sinks."""
    spark = stream_df.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf_key) if state_partitions is not None else None
    if state_partitions is not None:
        spark.conf.set(conf_key, str(state_partitions))
    try:
        w = stream_df.writeStream.foreachBatch(fn).trigger(availableNow=True)
        if checkpoint is not None:
            w = w.option("checkpointLocation", checkpoint)
        q = w.start()
        q.awaitTermination()
        if progress_out is not None:
            progress_out.extend(q.recentProgress)
    finally:
        if old is not None:
            spark.conf.set(conf_key, old)


#: conf key + provider class for the RocksDB state store — the backend a
#: TB-state deployment runs (bounded executor heap: state lives off-heap
#: in RocksDB with changelog checkpointing), vs the default HDFS-backed
#: in-memory map whose state must fit the executor heap.
_PROVIDER_KEY = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    output_mode: str = "append",
    state_partitions: int | None = None,
    state_store: str | None = None,
    nodata_batches: bool = True,
) -> DataFrame:
    """Drain a stream with the availableNow trigger into a memory sink;
    returns the materialized result (test/bench harness).  Use
    ``output_mode='complete'`` for aggregations (append would hold back
    windows still inside the watermark at end-of-replay).

    ``state_partitions`` sets the number of state-store partitions for
    this query (fixed at first start by ``spark.sql.shuffle.partitions``).
    Every stateful operator pays a per-partition fixed cost (store
    open + delta-file checkpoint per microbatch — a stream-stream join
    keeps four stores per partition), so size it to state volume:
    measured here, a 100k-row replayed join is 3.4× faster on 8
    partitions than 32, while a 1000-executor deployment with TBs of
    state wants hundreds.

    ``state_store="rocksdb"`` runs the query on the RocksDB provider
    (off-heap state + changelog checkpointing — what TB-scale state
    deployments use); default keeps the session's provider.  Both confs
    are restored after the drain.

    ``nodata_batches=False`` disables the engine's trailing no-data
    micro-batch (``spark.sql.streaming.noDataMicroBatches.enabled``)
    for this query only.  That batch exists to advance the watermark
    and fire watermark-GATED work after the last data batch: append-
    mode windowed/session aggregations (closed windows emit there),
    outer-join null rows, ``hasTimedOut`` event-time timeouts, and
    watermark-driven state eviction.  For a drain whose sink output is
    already final after the data batches — COMPLETE-mode aggregations
    (the no-data batch rewrites the sink with the identical snapshot),
    UPDATE-mode ``NoTimeout`` stateful ops, and eager-emission append
    queries (stateless rows, stream-stream INNER joins) — it re-runs
    every state store per partition and commits one more checkpoint
    only to reproduce the sink byte-for-byte.  Callers opt OUT
    per query, and only where the drained result is provably
    invariant; leave the default for anything watermark-gated."""
    if state_store not in (None, "rocksdb"):
        # validate BEFORE touching session conf — raising between a
        # conf.set and the restoring finally would leak the setting
        raise ValueError(f"unknown state_store {state_store!r}")
    spark = stream_df.sparkSession
    conf_key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(conf_key)
    old_provider = spark.conf.get(_PROVIDER_KEY, None)
    nodata_key = "spark.sql.streaming.noDataMicroBatches.enabled"
    old_nodata = spark.conf.get(nodata_key, None)
    if state_partitions is not None:
        spark.conf.set(conf_key, str(state_partitions))
    if state_store == "rocksdb":
        spark.conf.set(_PROVIDER_KEY, _ROCKSDB_PROVIDER)
    if not nodata_batches:
        spark.conf.set(nodata_key, "false")
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set(conf_key, old)
        if state_store == "rocksdb":
            if old_provider is None:
                spark.conf.unset(_PROVIDER_KEY)
            else:
                spark.conf.set(_PROVIDER_KEY, old_provider)
        if not nodata_batches:
            if old_nodata is None:
                spark.conf.unset(nodata_key)
            else:
                spark.conf.set(nodata_key, old_nodata)
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream join within a time interval: each ``right`` row
    matches ``left`` rows of the same key whose timestamp falls in
    [right.ts - max_lag, right.ts].

    Both sides carry watermarks and the join condition bounds event
    time on both sides, so Spark can expire join state (without the
    bound, stream-stream join state grows forever — the scale
    constraint that shapes this API).

    ``how="left_outer"`` preserves unmatched RIGHT rows (the probe
    side here) with NULL ``l_ts`` — but an outer null-row can only
    emit once the watermark proves no future match exists, so
    unmatched rows inside the final watermark horizon stay in state at
    end-of-replay (inner matches always emit).  The outer variant is
    the streaming form of "purchases with no preceding click"."""
    if how not in ("inner", "left_outer"):
        # right/full outer would surface unmatched LEFT rows whose key
        # column (aliased from the right side below) is NULL —
        # structurally wrong output; fail fast instead
        raise ValueError(f"interval_join supports inner/left_outer, got {how!r}")
    l = left.withWatermark("ts", watermark).select(
        F.col(key).alias("l_key"), F.col("ts").alias("l_ts")
    )
    r = right.withWatermark("ts", watermark).select(
        F.col(key).alias("r_key"), F.col("ts").alias("r_ts")
    )
    joined = r.join(
        l,
        (F.col("l_key") == F.col("r_key"))
        & (F.col("l_ts") >= F.col("r_ts") - F.expr(f"INTERVAL {max_lag}"))
        & (F.col("l_ts") <= F.col("r_ts")),
        how,
    )
    return joined.select(F.col("r_key").alias(key), "l_ts", "r_ts")


def incremental_sketch_store(
    events: DataFrame,
    store_path: str,
    key_cols: list[str] | None = None,
    value_col: str = "user_id",
    lg_k: int = 16,
    state_partitions: int = 8,
) -> None:
    """Incrementally maintain a persistent sketch table from a stream.

    Every micro-batch appends one theta sketch per (batch, key) to a
    parquet store via ``foreachBatch`` — the streaming half of the
    precompute-then-reaggregate design: the store is tiny (one binary
    column per key per batch), survives restarts, and any later reader
    answers distinct-count/set-algebra questions with
    ``theta_union_agg`` over the store instead of rescanning raw
    events.  Append-only parquet keeps the write atomic per batch; at
    deployment scale the same shape lands in a partitioned table keyed
    by arrival date."""
    from pyspark.sql import functions as F

    from ..functions import sketches as S

    keys = key_cols if key_cols is not None else ["event_type"]

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.groupBy(*keys)
            .agg(S.theta_init_agg(value_col, lg_k).alias("sketch"))
            .withColumn("batch_id", F.lit(batch_id))
            .write.mode("append")
            .parquet(store_path)
        )

    _drain_foreach_batch(
        events,
        write_batch,
        state_partitions=state_partitions,
        checkpoint=store_path + "_chk",
    )


def media_dedup_at_ingest(
    arrivals: DataFrame,
    standing_imgs: DataFrame,
    id_col: str = "doc_id",
    data_col: str = "data",
    lang_col: str = "lang",
    max_hamming: int = 3,
    n_bits: int = 64,
    n_bands: int = 4,
    state_partitions: int = 8,
    progress_out: list | None = None,
) -> DataFrame:
    """IMAGE dedup AT INGEST — the multimodal twin of
    :func:`semantic_dedup_at_ingest`: arriving images (binary column on
    a stream) are aHash-fingerprinted per micro-batch and checked
    against a STATIC standing fingerprint index by banded Hamming
    (``n_bands`` equal chunks — pigeonhole-complete for
    ``max_hamming <= n_bands - 1``) with an exact character-diff
    verify.  STATELESS: foreachBatch against the checkpointed standing
    DISTINCT-fingerprint band index (bounded by distinct imagery, not
    corpus size); per-batch driver collection is language-bounded.
    Returns per-language (n_arrived, n_dropped, n_survived)."""
    from ..multimodal import ahash_bits

    spark = standing_imgs.sparkSession
    if n_bits % n_bands:
        raise ValueError(f"n_bits={n_bits} not divisible by n_bands={n_bands}")
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"banding complete only for max_hamming <= {n_bands - 1}"
        )
    blen = n_bits // n_bands

    def banded(fp: DataFrame, hcol: str) -> DataFrame:
        bands = F.array(
            *[F.substring(hcol, i * blen + 1, blen) for i in range(n_bands)]
        )
        return fp.select(
            "*", F.posexplode(bands).alias("__band", "__bkey")
        )

    from ..operators.dedup import _bitstring_words, _words_hamming

    n_words = (n_bits + 31) // 32
    standing_fp = (
        ahash_bits(standing_imgs, data_col, id_col)
        .select(F.col("ahash").alias("__sh"))
        .distinct()
        .localCheckpoint(eager=False)  # distinct-imagery-bounded
    )
    # fail LOUD if the fingerprint width disagrees with n_bits: the
    # word-parsed verify would otherwise silently ignore trailing bits
    # (substring past end is '' on both sides) and band keys would
    # truncate — wrong duplicates, no error (round-6 review finding)
    wrong = standing_fp.filter(F.length("__sh") != n_bits).limit(1).collect()
    if wrong:
        raise ValueError(
            f"standing fingerprints are {len(wrong[0]['__sh'])} bits, "
            f"n_bits={n_bits} — pass the matching n_bits"
        )
    # parse each standing fingerprint into integer words ONCE (shared
    # _bitstring_words helper): the per-candidate verify is then pure
    # codegen bit_count(xor) instead of an n_bits-iteration
    # interpreted character-diff HOF per pair (r10)
    sidx = banded(
        standing_fp.select(
            "__sh",
            *[
                w.alias(f"__sw{i}")
                for i, w in enumerate(_bitstring_words(F.col("__sh"), n_bits))
            ],
        ),
        "__sh",
    ).drop("__sh").localCheckpoint(eager=False)

    exact = (
        _words_hamming(
            [F.col(f"__bw{i}") for i in range(n_words)],
            [F.col(f"__sw{i}") for i in range(n_words)],
        )
        <= max_hamming
    )
    results: list[tuple] = []  # bounded: n_langs rows per micro-batch

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.localCheckpoint(eager=False)
        bfp = ahash_bits(batch_df, data_col, id_col).select(
            id_col,
            "ahash",
            *[
                w.alias(f"__bw{i}")
                for i, w in enumerate(_bitstring_words(F.col("ahash"), n_bits))
            ],
        )
        dup_ids = (
            banded(bfp, "ahash")
            .join(sidx, ["__band", "__bkey"])
            .filter(exact)
            .select(id_col)
            .distinct()
        )
        flagged = batch_df.join(
            dup_ids.withColumn("__dup", F.lit(1)), id_col, "left"
        )
        for r in (
            flagged.groupBy(lang_col)
            .agg(
                F.count(F.lit(1)).alias("n_arrived"),
                F.count("__dup").alias("n_dropped"),
            )
            .collect()
        ):
            results.append((r[lang_col], r["n_arrived"], r["n_dropped"]))

    _drain_foreach_batch(
        arrivals,
        dedup_batch,
        state_partitions=state_partitions,
        progress_out=progress_out,
    )

    out = local_frame(spark, 
        results, f"{lang_col} string, n_arrived long, n_dropped long"
    )
    return out.groupBy(lang_col).agg(
        F.sum("n_arrived").alias("n_arrived"),
        F.sum("n_dropped").alias("n_dropped"),
        (F.sum("n_arrived") - F.sum("n_dropped")).alias("n_survived"),
    )


def semantic_dedup_at_ingest(
    arrivals: DataFrame,
    standing_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    dim: int = 32,
    threshold: float = 0.95,
    n_centroids: int = 8,
    nprobe: int | None = None,
    seed: int = 42,
    state_partitions: int = 8,
    progress_out: list | None = None,
    _force_join_verify: bool = False,
) -> DataFrame:
    """Semantic dedup AT INGEST: newly-landing documents (a stream)
    are checked against a STATIC standing index by hashing-trick
    embedding + centroid assignment + within-cluster exact cosine —
    the shape a 100 TB ingest pipeline runs (VERDICT r5 task 5),
    composed from the batch tier's own pieces
    (``dedup.doc_hash_embeddings``, ``similarity.train_ivf_centroids``).

    Mechanics: the standing index is built ONCE batch-side — embed,
    assign each vector its top-1 cluster, checkpoint the skinny
    (cluster, id, vec) table.  Each micro-batch then runs inside
    ``foreachBatch`` (STATELESS — no state store, state rows are zero
    by construction; the test suite asserts it): embed the batch,
    assign each arrival its ``nprobe`` nearest clusters against the
    broadcast centroids, candidate-join the standing index on the
    cluster id, verify by exact cosine ``>= threshold``, and count
    arrivals/drops per language.  Per-batch driver collection is
    bounded by the LANGUAGE cardinality (a handful of rows), never by
    batch size.

    ``nprobe`` defaults to ``n_centroids`` (probe-all): the candidate
    set provably covers every (arrival, standing) pair, which is what
    lets the battery entry hold this stream to an exact relational
    oracle — same contract as ``semantic_dup_pairs``.  Production runs
    selective ``nprobe``; that path's recall is gated by the planted
    ``dedup_semantic_selective`` entry and the pytest recall law.

    Returns the per-language totals (lang, n_arrived, n_dropped,
    n_survived) aggregated across batches — replay-order free."""
    from ..operators.dedup import cosine_similarity, doc_hash_embeddings
    from ..operators.similarity import assign_to_lists, train_ivf_centroids

    spark = standing_docs.sparkSession
    nprobe = n_centroids if nprobe is None else nprobe

    emb = doc_hash_embeddings(standing_docs, id_col, text_col, dim=dim)
    cents = train_ivf_centroids(
        emb, "vec", n_centroids=n_centroids, seed=seed
    ).localCheckpoint(eager=False)
    # top-1 assignment via the SHARED helper (same argmax + lowest-id
    # tie-break as the batch index build/append — one definition, so a
    # tie-break or zero-norm fix there reaches the stream too)
    index = (
        assign_to_lists(emb, id_col, "vec", cents)
        .select(
            F.col("list_id").alias("__list"),
            F.col(id_col).alias("__sid"),
            F.col("__v").alias("__svec"),
        )
        .localCheckpoint(eager=False)  # skinny (cluster, id, vec), reused per batch
    )
    # collect the tiny centroid model ONCE for the per-batch top-nprobe
    # kernel (r11 — see topk_centroid_assign; the old per-batch
    # crossJoin + HOF cosine + window paid an interpreted fold per
    # (arrival, centroid) every micro-batch)
    cent_rows = [
        (int(r["__list"]), [float(x) for x in r["__cent"]])
        for r in cents.collect()
    ]

    results: list[tuple] = []  # bounded: n_langs rows per micro-batch

    def dedup_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.select(id_col, lang_col, text_col).localCheckpoint(
            eager=False
        )
        bemb = doc_hash_embeddings(batch_df, id_col, text_col, dim=dim)
        if nprobe >= n_centroids and not _force_join_verify:
            # probe-all: the candidate set is provably every (arrival,
            # standing) pair, so delegate the verify to the blocked
            # cross-set BLAS kernel — same delegation rule as
            # semantic_dup_pairs; the per-pair HOF fold is quadratic
            # row-at-a-time work the kernel does as blocks² matmuls
            from ..operators.dedup import _cross_pairs_cosine_blocked

            pairs = _cross_pairs_cosine_blocked(
                bemb.select(F.col(id_col).alias("__id"), F.col("vec").alias("__v")),
                index.select(
                    F.col("__sid").alias("__id"), F.col("__svec").alias("__v")
                ),
                threshold,
            )
            dup_ids = (
                pairs.filter(F.col("id_a") != F.col("id_b"))
                .select(F.col("id_a").alias(id_col))
                .distinct()
            )
        else:
            from ..operators.dedup import topk_centroid_assign

            bassign = topk_centroid_assign(
                bemb, id_col, "vec", cent_rows, nprobe, keep_vec=True
            ).select(F.col(id_col), "vec", "__list")
            dup_ids = (
                bassign.join(index, "__list")
                .filter(F.col(id_col) != F.col("__sid"))
                .withColumn(
                    "__cos",
                    F.round(
                        cosine_similarity(F.col("vec"), F.col("__svec")), 4
                    ),
                )
                .filter(F.col("__cos") >= threshold)
                .select(id_col)
                .distinct()
            )
        flagged = batch_df.join(
            dup_ids.withColumn("__dup", F.lit(1)), id_col, "left"
        )
        for r in (
            flagged.groupBy(lang_col)
            .agg(
                F.count(F.lit(1)).alias("n_arrived"),
                F.count("__dup").alias("n_dropped"),
            )
            .collect()  # bounded: language cardinality
        ):
            results.append((r[lang_col], r["n_arrived"], r["n_dropped"]))

    _drain_foreach_batch(
        arrivals,
        dedup_batch,
        state_partitions=state_partitions,
        progress_out=progress_out,
    )

    out = local_frame(spark, 
        results, f"{lang_col} string, n_arrived long, n_dropped long"
    )
    return out.groupBy(lang_col).agg(
        F.sum("n_arrived").alias("n_arrived"),
        F.sum("n_dropped").alias("n_dropped"),
        (F.sum("n_arrived") - F.sum("n_dropped")).alias("n_survived"),
    )

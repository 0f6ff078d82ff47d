"""Round-8 laws for the fourth IVF lifecycle leg: small-file
compaction (streamed appends add one file per touched list per batch;
``compact_ivf_index`` rewrites only over-threshold lists and changes
NOTHING but the file layout), plus the maintainer's file-count trigger
firing mid-stream."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_alchemy_spark.operators import txnlog

from tests.test_r8_recovery import _batch, _mk_clusters


def _lists_fingerprint(spark, path):
    """Order-insensitive content fingerprint of the /lists data —
    rows, ids, assignments, and __batch tags all participate, so any
    row lost/duplicated/retagged by a rewrite changes it."""
    return spark.read.parquet(path + "/lists").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("vec_id").alias("nid"),
        F.sum(
            F.xxhash64("vec_id", F.col("__v").cast("string"), "__batch",
                       "list_id").cast("decimal(38,0)")  # ANSI-safe sum
        ).alias("h"),
    ).collect()[0]


def _file_counts(path):
    from spark_alchemy_spark.operators.similarity import ivf_list_files

    return ivf_list_files(path)[0]


def test_compact_reduces_files_and_preserves_everything(spark, tmp_path):
    """Compaction moves bytes, not rows: after fragmenting every list
    with several appends, the rewrite must cut file counts on (exactly)
    the over-threshold lists while the data fingerprint, the stats
    record, and a known-duplicate probe stay bit-identical."""
    from spark_alchemy_spark.operators.similarity import (
        append_ivf_index,
        build_ivf_index,
        compact_ivf_index,
        ivf_topk_indexed,
        read_index_stats,
    )

    df = _mk_clusters(spark)
    path = str(tmp_path / "idx")
    build_ivf_index(df, "vec_id", "embedding", path, n_centroids=4)
    for i in range(4):
        # axes 0/1 twice each: two lists end at 3 files (> threshold),
        # the other two stay at 1 (the untouched-list check is real)
        append_ivf_index(
            _batch(spark, 6, 50_000 + 100 * i, axis=i % 2),
            "vec_id", "embedding", path,
        )
    before = _file_counts(path)
    assert max(before.values()) > 2  # fragmented: build + repeated appends
    fp_before = _lists_fingerprint(spark, path)
    stats_before = read_index_stats(spark, path)

    rep = compact_ivf_index(spark, path, max_files_per_list=2)
    assert rep["n_compacted"] >= 1
    assert sorted(rep["compacted_list_ids"]) == sorted(
        lid for lid, c in before.items() if c > 2
    )
    after = _file_counts(path)
    assert rep["files_before"] == sum(before.values())
    assert rep["files_after"] == sum(after.values()) < rep["files_before"]
    # every compacted list collapsed to ceil(bytes/target)=1 file;
    # under-threshold lists were NOT touched
    for lid, c in after.items():
        if lid in rep["compacted_list_ids"]:
            assert c == 1
        else:
            assert c == before[lid]
    assert _lists_fingerprint(spark, path) == fp_before
    assert read_index_stats(spark, path) == stats_before
    assert rep["rows"] == sum(
        int(r["n"]) for r in spark.read.parquet(path + "/lists")
        .filter(F.col("list_id").isin(rep["compacted_list_ids"]))
        .groupBy("list_id").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    # a probe still finds an appended vector exactly
    q = _batch(spark, 1, 50_000, axis=0)
    top = ivf_topk_indexed(
        spark, path, q, "vec_id", "embedding", k=1, nprobe=2
    ).collect()
    assert top and float(top[0]["cos"]) >= 1.0 - 1e-9


def test_compact_is_noop_below_threshold(spark, tmp_path):
    """A freshly built index (one file per list) must not be rewritten."""
    from spark_alchemy_spark.operators.similarity import (
        build_ivf_index,
        compact_ivf_index,
    )

    df = _mk_clusters(spark)
    path = str(tmp_path / "idx")
    build_ivf_index(df, "vec_id", "embedding", path, n_centroids=4)
    before = _file_counts(path)
    rep = compact_ivf_index(spark, path, max_files_per_list=2)
    assert rep["n_compacted"] == 0 and rep["compacted_list_ids"] == []
    assert rep["files_before"] == rep["files_after"] == sum(before.values())
    assert _file_counts(path) == before


def test_compact_refuses_uncommitted_intent(spark, tmp_path):
    """An uncommitted append intent marks a crashed attempt awaiting
    replay repair; compacting under it would be a second writer on the
    same partitions — fail loud."""
    from spark_alchemy_spark.operators.similarity import (
        build_ivf_index,
        compact_ivf_index,
    )

    df = _mk_clusters(spark)
    path = str(tmp_path / "idx")
    build_ivf_index(df, "vec_id", "embedding", path, n_centroids=4)
    txnlog.put(
        path, txnlog.APPEND_INTENT, {"batch_id": 0, "touched": []}
    )
    with pytest.raises(RuntimeError, match="uncommitted append intent"):
        compact_ivf_index(spark, path, max_files_per_list=1)


def test_compact_rejects_object_store_paths(spark):
    from spark_alchemy_spark.operators.similarity import compact_ivf_index

    with pytest.raises(ValueError, match="local filesystem"):
        compact_ivf_index(spark, "s3://bucket/idx")


def test_maintainer_compaction_trigger_fires_mid_stream(spark, tmp_path):
    """The maintainer's file-count leg: appends advance per-list file
    counts (+1 per touched list, zero scans); the moment a list
    exceeds ``compact_files_per_list`` the compaction runs INSIDE the
    batch, so the stream never accretes the small-file tail.  Fired on
    a NON-final batch here, with rows conserved end-to-end."""
    from spark_alchemy_spark.operators.similarity import (
        build_ivf_index,
        make_streaming_ivf_maintainer,
    )
    from spark_alchemy_spark.streaming import _drain_foreach_batch

    df = _mk_clusters(spark)
    path = str(tmp_path / "idx")
    build_ivf_index(df, "vec_id", "embedding", path, n_centroids=4)

    arrivals_dir = str(tmp_path / "arrivals")
    for i in range(4):
        # every batch hits axis 0 => same touched list => +1 file each
        _batch(spark, 5, 90_000 + 100 * i, axis=0).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(arrivals_dir, f"f{i}"))
        for leaf in os.listdir(os.path.join(arrivals_dir, f"f{i}")):
            if leaf.endswith(".parquet"):
                os.utime(
                    os.path.join(arrivals_dir, f"f{i}", leaf),
                    (1_700_000_000 + i * 100,) * 2,
                )

    maintain, log = make_streaming_ivf_maintainer(
        spark, path,
        trigger_ratio=50.0, split_ratio=2.0,  # keep rebalance out of it
        compact_files_per_list=2,
    )
    arrivals = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir + "/*")
    )
    _drain_foreach_batch(arrivals, maintain, state_partitions=4,
                         checkpoint=str(tmp_path / "chk"))

    compacted_at = [i for i, e in enumerate(log) if e["compacted"]]
    assert compacted_at and compacted_at[0] < len(log) - 1  # mid-stream
    rep = log[compacted_at[0]]["compaction_report"]
    assert rep["files_after"] < rep["files_before"]
    assert not any(e["rebalanced"] for e in log)
    # exactly-once conservation across appends + mid-stream compaction
    r = spark.read.parquet(path + "/lists").agg(
        F.count(F.lit(1)).alias("n"), F.countDistinct("vec_id").alias("nid")
    ).collect()[0]
    assert int(r["n"]) == int(r["nid"]) == 100 + 4 * 5
    # the file-count invariant the leg exists for: no list above the
    # threshold by more than the post-compaction appends
    assert max(_file_counts(path).values()) <= 2 + (len(log) - 1 - compacted_at[0])

"""Round-10 sidecar fast paths: the local-fs pyarrow read/write
helpers must be observationally identical to the Spark paths they
replaced — same values through BOTH readers, same per-list counts as
the groupBy job, and interchangeable with Spark-written files."""

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from spark_alchemy_spark.operators.similarity import (
    centroids_df,
    _list_sizes,
    _read_centroids_rows,
    _write_centroids_sidecar,
    _write_stats_sidecar,
    build_ivf_index,
    read_index_stats,
)


@pytest.fixture(scope="module")
def idx(spark):
    corpus = spark.createDataFrame(
        [
            (i, [float(i % 7 + 1), float((i * 3) % 5 + 1), float(i % 3)])
            for i in range(120)
        ],
        "vec_id long, embedding array<double>",
    )
    path = os.path.join(tempfile.gettempdir(), "r10_sidecar_idx")
    shutil.rmtree(path, ignore_errors=True)
    build_ivf_index(corpus, "vec_id", "embedding", path, n_centroids=4)
    yield path
    shutil.rmtree(path, ignore_errors=True)


def test_stats_roundtrips_through_both_readers(spark, idx):
    # the pyarrow-written sidecar must read back identically via the
    # driver-side reader AND a plain Spark parquet read
    n, mean = read_index_stats(spark, idx)
    row = spark.read.parquet(idx + "/stats").collect()[0]
    assert (int(row["n"]), float(row["mean_assigned_cos"])) == (n, mean)
    _write_stats_sidecar(spark, idx, 7, 0.5)
    assert read_index_stats(spark, idx) == (7, 0.5)
    row = spark.read.parquet(idx + "/stats").collect()[0]
    assert (int(row["n"]), float(row["mean_assigned_cos"])) == (7, 0.5)
    _write_stats_sidecar(spark, idx, n, mean)  # restore for later tests
    assert read_index_stats(spark, idx) == (n, mean)


def test_stats_null_mean_preserved(spark):
    # a degenerate all-zero-norm build writes a NULL mean; the pyarrow
    # writer must preserve NULL (not coerce to 0.0), matching the old
    # Spark write byte-for-byte in behavior
    path = os.path.join(tempfile.gettempdir(), "r10_sidecar_null")
    shutil.rmtree(path, ignore_errors=True)
    try:
        _write_stats_sidecar(spark, path, 3, None)
        row = spark.read.parquet(path + "/stats").collect()[0]
        assert int(row["n"]) == 3 and row["mean_assigned_cos"] is None
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_centroids_pyarrow_equals_spark_read(spark, idx):
    rows = _read_centroids_rows(spark, idx)
    via_spark = sorted(
        (int(r["__list"]), list(r["__cent"]))
        for r in spark.read.parquet(idx + "/centroids").collect()
    )
    assert rows == via_spark  # bit-exact doubles, same ids, same order
    df_rows = sorted(
        (int(r["__list"]), list(r["__cent"]))
        for r in centroids_df(spark, idx).collect()
    )
    assert df_rows == via_spark


def test_centroids_writer_spark_readable(spark):
    path = os.path.join(tempfile.gettempdir(), "r10_sidecar_cw")
    shutil.rmtree(path, ignore_errors=True)
    try:
        rows = [(0, [1.0, 0.0]), (1, [0.5, 0.5])]
        _write_centroids_sidecar(spark, path, rows)
        assert _read_centroids_rows(spark, path) == rows
        back = sorted(
            (int(r["__list"]), list(r["__cent"]))
            for r in spark.read.parquet(path + "/centroids").collect()
        )
        assert back == rows
    finally:
        shutil.rmtree(path, ignore_errors=True)


def test_list_sizes_match_groupby_job(spark, idx):
    fast = _list_sizes(spark, idx)
    slow = {
        int(r["list_id"]): int(r["n"])
        for r in spark.read.parquet(idx + "/lists")
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert fast == slow and sum(fast.values()) == 120


def test_spark_written_sidecars_still_read(spark):
    # transition case: an index whose sidecars were written by Spark
    # (pre-r10 layout, or copied from an object store) must resolve
    # through the driver-side readers unchanged
    path = os.path.join(tempfile.gettempdir(), "r10_sidecar_legacy")
    shutil.rmtree(path, ignore_errors=True)
    try:
        spark.createDataFrame(
            [(42, 0.25)], "n long, mean_assigned_cos double"
        ).write.mode("overwrite").parquet(path + "/stats")
        spark.createDataFrame(
            [(0, [0.6, 0.8])], "__list long, __cent array<double>"
        ).write.mode("overwrite").parquet(path + "/centroids")
        assert read_index_stats(spark, path) == (42, 0.25)
        assert _read_centroids_rows(spark, path) == [(0, [0.6, 0.8])]
    finally:
        shutil.rmtree(path, ignore_errors=True)

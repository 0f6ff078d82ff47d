"""Round-8 delete leg (operators/similarity.py::delete_from_ivf_index):
the fifth index lifecycle operation — id-based deletes with a
partition-bounded rewrite, exact inverse stats fold, and crash-safe
resume through del_intent.json.  Mirrors the compaction/recovery test
structure: a tiny handcrafted index where every invariant is
byte-checkable."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_alchemy_spark.operators import txnlog
from spark_alchemy_spark.operators.similarity import (
    assign_to_lists,
    _delete_ids_digest,
    append_ivf_index,
    build_ivf_index,
    compact_ivf_index,
    delete_from_ivf_index,
    read_index_stats,
    rebalance_ivf_index,
)


def _mk_corpus(spark, n=120, dim=8):
    """Deterministic non-degenerate vectors spread over a few
    directions (no zero norms)."""
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: 1.0 + F.cos(i * (1.0 + F.col("id") % 7)),
        ).alias("embedding"),
    )


def _file_snapshot(path, exclude_lists):
    """{(relpath, size, mtime_ns)} of every /lists file NOT under the
    excluded partition dirs — cold partitions must stay byte-level
    untouched."""
    out = set()
    lists_dir = os.path.join(path, "lists")
    for root, _, files in os.walk(lists_dir):
        part = os.path.basename(root)
        if any(part == f"list_id={lid}" for lid in exclude_lists):
            continue
        for f in files:
            p = os.path.join(root, f)
            st = os.stat(p)
            out.add((os.path.relpath(p, lists_dir), st.st_size, st.st_mtime_ns))
    return out


def test_delete_reduces_and_preserves(spark, tmp_path):
    path = str(tmp_path / "idx")
    corpus = _mk_corpus(spark)
    build_ivf_index(corpus, "vec_id", "embedding", path, n_centroids=4)
    n0, _ = read_index_stats(spark, path)
    ids = list(range(3, 120, 7))
    rep = delete_from_ivf_index(spark, path, ids)
    assert rep["n_deleted"] == len(ids) and not rep["resumed"]
    cold = _file_snapshot(path, rep["affected_list_ids"])
    lists = spark.read.parquet(path + "/lists")
    agg = lists.agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("vec_id").alias("d"),
        F.sum(F.col("vec_id").isin(ids).cast("int")).alias("hit"),
    ).collect()[0]
    assert int(agg["n"]) == int(agg["d"]) == n0 - len(ids) == rep["n_after"]
    assert int(agg["hit"]) == 0
    # stats: n AND mean equal an exact recompute over the survivors
    n1, m1 = read_index_stats(spark, path)
    cents = spark.read.parquet(path + "/centroids")
    rec = (
        assign_to_lists(lists, "vec_id", "__v", cents)
        .agg(F.avg("__best_cos"))
        .collect()[0][0]
    )
    assert n1 == rep["n_after"] and abs(m1 - rec) < 1e-9
    # cold partitions byte-identical (delete never touched them)
    assert _file_snapshot(path, rep["affected_list_ids"]) == cold
    # /stats parquet in lockstep with the accessor
    st = spark.read.parquet(path + "/stats").collect()[0]
    assert (int(st["n"]), float(st["mean_assigned_cos"])) == (n1, m1)


def test_delete_list_and_dataframe_ids_agree(spark, tmp_path):
    pa, pb = str(tmp_path / "a"), str(tmp_path / "b")
    corpus = _mk_corpus(spark)
    ids = list(range(0, 120, 9))
    for p in (pa, pb):
        build_ivf_index(corpus, "vec_id", "embedding", p, n_centroids=4)
    ra = delete_from_ivf_index(spark, pa, ids)
    rb = delete_from_ivf_index(
        spark, pb, spark.createDataFrame([(x,) for x in ids], "vec_id long")
    )
    for k in ("n_deleted", "affected_list_ids", "n_after"):
        assert ra[k] == rb[k]
    assert abs(ra["mean_after"] - rb["mean_after"]) < 1e-12
    va = spark.read.parquet(pa + "/lists").select("vec_id").orderBy("vec_id")
    vb = spark.read.parquet(pb + "/lists").select("vec_id").orderBy("vec_id")
    assert [r[0] for r in va.collect()] == [r[0] for r in vb.collect()]


def test_delete_noop_and_emptied_partition(spark, tmp_path):
    path = str(tmp_path / "idx")
    corpus = _mk_corpus(spark)
    build_ivf_index(corpus, "vec_id", "embedding", path, n_centroids=4)
    n0, m0 = read_index_stats(spark, path)
    # ids not in the index: visible no-op, stats untouched
    rep = delete_from_ivf_index(spark, path, [10_000, 10_001])
    assert rep["n_deleted"] == 0 and rep["affected_list_ids"] == []
    assert read_index_stats(spark, path) == (n0, m0)
    # delete EVERY row of one list: its partition dir must drop
    lists = spark.read.parquet(path + "/lists")
    lid = int(lists.groupBy("list_id").count().orderBy("count").first()["list_id"])
    victims = [
        int(r["vec_id"])
        for r in lists.filter(F.col("list_id") == lid).collect()
    ]
    rep2 = delete_from_ivf_index(spark, path, victims)
    assert rep2["dropped_list_ids"] == [lid]
    assert not os.path.exists(
        os.path.join(path, "lists", f"list_id={lid}")
    )
    assert read_index_stats(spark, path)[0] == n0 - len(victims)


def test_delete_keeps_txn_record_in_lockstep(spark, tmp_path):
    """On a TRANSACTIONAL index (streaming appends committed to
    txn.json) a delete must update the commit record's stats without
    moving the batch high-water mark."""
    path = str(tmp_path / "idx")
    corpus = _mk_corpus(spark)
    build_ivf_index(
        corpus.filter("vec_id < 80"), "vec_id", "embedding", path,
        n_centroids=4,
    )
    append_ivf_index(
        corpus.filter("vec_id >= 80"), "vec_id", "embedding", path,
        batch_id=0,
    )
    txn0 = txnlog.read(path, txnlog.COMMIT)
    assert txn0 is not None and int(txn0["last_batch_id"]) == 0
    rep = delete_from_ivf_index(spark, path, list(range(0, 120, 11)))
    txn1 = txnlog.read(path, txnlog.COMMIT)
    assert int(txn1["last_batch_id"]) == 0  # high-water mark untouched
    assert int(txn1["n"]) == rep["n_after"]
    st = spark.read.parquet(path + "/stats").collect()[0]
    assert int(st["n"]) == rep["n_after"]  # parquet in lockstep too
    assert abs(float(st["mean_assigned_cos"]) - float(txn1["mean_assigned_cos"])) < 1e-12


def test_delete_resume_completes_crashed_attempt(spark, tmp_path):
    """Crash-safety: a live del_intent (the earliest crash point —
    intent written, nothing else done) makes every other writer
    refuse, a different id set refuse, and the same id set RESUME to
    the exact committed state; a mid-flight crash (some partitions
    already rewritten) resumes to the same state because re-scanned
    hits are idempotent and the commit writes the intent's ABSOLUTE
    stats."""
    path = str(tmp_path / "idx")
    corpus = _mk_corpus(spark)
    build_ivf_index(corpus, "vec_id", "embedding", path, n_centroids=4)
    n0, m0 = read_index_stats(spark, path)
    ids = list(range(5, 120, 10))
    # compute what a successful delete commits, from a twin index
    twin = str(tmp_path / "twin")
    build_ivf_index(corpus, "vec_id", "embedding", twin, n_centroids=4)
    want = delete_from_ivf_index(spark, twin, ids)
    # forge the crash state on the victim: intent on disk, rows intact
    txnlog.put(
        path,
        txnlog.DELETE_INTENT,
        {
            "digest": _delete_ids_digest(ids),
            "affected": want["affected_list_ids"],
            "d_n": want["n_deleted"],
            "post_n": want["n_after"],
            "post_mean": want["mean_after"],
            "list_counts": {
                str(k): v for k, v in want["list_counts"].items()
            },
        },
    )
    # every other writer refuses while the intent is live
    with pytest.raises(RuntimeError, match="delete intent"):
        append_ivf_index(
            corpus.limit(3).select(
                (F.col("vec_id") + 900).alias("vec_id"), "embedding"
            ),
            "vec_id", "embedding", path,
        )
    with pytest.raises(RuntimeError, match="delete intent"):
        rebalance_ivf_index(spark, path)
    with pytest.raises(RuntimeError, match="delete intent"):
        compact_ivf_index(spark, path)
    # a different id set refuses (not a resume)
    with pytest.raises(RuntimeError, match="DIFFERENT id set"):
        delete_from_ivf_index(spark, path, ids[:-1])
    # the same ids resume and land exactly where the twin landed
    rep = delete_from_ivf_index(spark, path, ids)
    assert rep["resumed"] is True
    assert (rep["n_deleted"], rep["n_after"]) == (
        want["n_deleted"], want["n_after"],
    )
    assert txnlog.read(path, txnlog.DELETE_INTENT) is None
    assert read_index_stats(spark, path) == (
        want["n_after"], want["mean_after"],
    )
    survivors = spark.read.parquet(path + "/lists")
    assert survivors.filter(F.col("vec_id").isin(ids)).count() == 0
    assert survivors.count() == want["n_after"]


def test_delete_refuses_under_uncommitted_append_intent(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark), "vec_id", "embedding", path, n_centroids=4
    )
    txnlog.put(
        path, txnlog.APPEND_INTENT, {"batch_id": 3, "touched": [0]}
    )
    with pytest.raises(RuntimeError, match="append intent"):
        delete_from_ivf_index(spark, path, [1, 2])
    os.remove(txnlog.local_path(path, txnlog.APPEND_INTENT))


def test_delete_rejects_object_store_paths(spark):
    with pytest.raises(ValueError, match="local filesystem"):
        delete_from_ivf_index(spark, "s3://bucket/idx", [1])


def test_delete_hit_scan_pushes_id_predicate(spark, tmp_path):
    """A literal id list must reach the parquet scan as a pushed
    filter (row-group min/max pruning — the claim the 100 TB scan
    cost rests on): assert the optimized plan of the same hit scan
    shape carries the In() pushdown."""
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark), "vec_id", "embedding", path, n_centroids=4
    )
    ids = [3, 17, 44]
    scan = spark.read.parquet(path + "/lists").filter(
        F.col("vec_id").isin(ids)
    )
    plan = scan._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "In(vec_id" in plan

"""Round-9 batch upsert API (upsert_ivf_index): delete-old +
append-new composed on the shared _upsert_phase1 machinery, so batch
pipelines and the CDC maintainer run ONE implementation (VERDICT r8
task 4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_alchemy_spark.operators import txnlog
from spark_alchemy_spark.operators.similarity import (
    build_ivf_index,
    read_index_stats,
    upsert_ivf_index,
)


def _mk_corpus(spark, lo, hi, dim=8, phase=0.0):
    """Deterministic vectors; ``phase`` shifts them so an upsert's
    replacement vectors are distinguishable from the originals."""
    return spark.range(lo, hi).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: 1.0 + F.cos(i * (1.0 + F.col("id") % 7) + phase),
        ).alias("embedding"),
    )


def _vecs(spark, path, ids):
    return {
        int(r["vec_id"]): [round(float(x), 9) for x in r["__v"]]
        for r in spark.read.parquet(path + "/lists")
        .filter(F.col("vec_id").isin([int(x) for x in ids]))
        .collect()
    }


def test_upsert_batch_count_neutral_replaces_vectors(spark, tmp_path):
    """Upserting already-indexed ids is count-neutral and the stored
    vectors become the replacement vectors; stats stay in lockstep."""
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 80), "vec_id", "embedding", path, n_centroids=4
    )
    ids = list(range(10, 30))
    repl = _mk_corpus(spark, 10, 30, phase=2.0)
    want = {
        int(r["vec_id"]): [round(float(x), 9) for x in r["embedding"]]
        for r in repl.collect()
    }
    rep = upsert_ivf_index(repl, "vec_id", "embedding", path)
    assert rep["n_replaced"] == 20 and rep["n_rows"] == 20
    assert not rep["skipped_replay"]
    rows = spark.read.parquet(path + "/lists")
    assert rows.count() == 80
    assert rows.select("vec_id").distinct().count() == 80
    assert _vecs(spark, path, ids) == want
    n, _ = read_index_stats(spark, path)
    assert n == 80


def test_upsert_new_ids_degrade_to_insert(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 40), "vec_id", "embedding", path, n_centroids=4
    )
    rep = upsert_ivf_index(
        _mk_corpus(spark, 100, 110), "vec_id", "embedding", path
    )
    assert rep["n_replaced"] == 0 and rep["n_rows"] == 10
    assert spark.read.parquet(path + "/lists").count() == 50


def test_upsert_dataframe_ids_route(spark, tmp_path):
    """A DataFrame id set (the mass-re-embedding shape) behaves exactly
    like the default df.select(id) route."""
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 60), "vec_id", "embedding", path, n_centroids=4
    )
    batch = _mk_corpus(spark, 20, 40, phase=1.0)
    rep = upsert_ivf_index(
        batch, "vec_id", "embedding", path,
        upsert_ids=batch.select("vec_id"),
    )
    assert rep["n_replaced"] == 20
    assert spark.read.parquet(path + "/lists").count() == 60


def test_upsert_retry_heals_half_appended_batch(spark, tmp_path):
    """Batch-mode crash mid-phase-2: half the new versions landed
    (same ids, __batch=-1 — indistinguishable from base rows).  A
    RETRY of the same upsert must self-heal: its unscoped phase-1
    delete removes old AND half-appended versions, phase 2 re-appends
    whole — count-neutral and duplicate-free again."""
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 50), "vec_id", "embedding", path, n_centroids=4
    )
    repl = _mk_corpus(spark, 0, 20, phase=3.0)
    # simulate the crash window: phase 1 completed, phase 2 wrote only
    # HALF the batch rows (an append is per-partition files, so a
    # crash strands a prefix) — done here by upserting the half batch
    # for real, which leaves exactly the half-appended state a crashed
    # full upsert would
    upsert_ivf_index(
        repl.filter(F.col("vec_id") < 10), "vec_id", "embedding", path,
        upsert_ids=repl.select("vec_id"),
    )
    # the RETRY: same full batch (the simulated phase-1 already
    # dropped all 20 OLD versions, so the retry's delete finds exactly
    # the 10 half-appended new versions)
    rep = upsert_ivf_index(repl, "vec_id", "embedding", path)
    assert rep["n_replaced"] == 10
    rows = spark.read.parquet(path + "/lists")
    assert rows.count() == 50
    assert rows.select("vec_id").distinct().count() == 50
    want = {
        int(r["vec_id"]): [round(float(x), 9) for x in r["embedding"]]
        for r in repl.collect()
    }
    assert _vecs(spark, path, range(20)) == want


def test_upsert_streaming_batchid_replay_skips(spark, tmp_path):
    """With batch_id, a replay of a committed upsert is a wholesale
    no-op skip (the txn high-water mark) — byte-identical index."""
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 40), "vec_id", "embedding", path, n_centroids=4
    )
    repl = _mk_corpus(spark, 5, 15, phase=1.5)
    rep0 = upsert_ivf_index(repl, "vec_id", "embedding", path, batch_id=0)
    assert rep0["n_replaced"] == 10 and not rep0["skipped_replay"]
    st = read_index_stats(spark, path)
    rep1 = upsert_ivf_index(repl, "vec_id", "embedding", path, batch_id=0)
    assert rep1["skipped_replay"] and rep1["n_rows"] == 0
    assert rep1["delete_report"] is None
    assert read_index_stats(spark, path) == st
    assert spark.read.parquet(path + "/lists").count() == 40
    assert int(txnlog.read(path, txnlog.COMMIT)["last_batch_id"]) == 0


def test_upsert_phase1_skipped_under_live_append_intent(
    spark, tmp_path, monkeypatch
):
    """Streaming shape, crash inside phase 2 after the append intent:
    the retry must SKIP phase 1 (the intent proves it committed) and
    let the append's replay repair run — ending exactly-once."""
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 40), "vec_id", "embedding", path, n_centroids=4
    )
    repl = _mk_corpus(spark, 0, 10, phase=2.5)

    real_write = txnlog.put
    state = {"crashed": False}

    def crash_on_commit(p, name, obj):
        if name == txnlog.COMMIT and not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("injected crash before append commit")
        real_write(p, name, obj)

    monkeypatch.setattr(txnlog, "put", crash_on_commit)
    with pytest.raises(RuntimeError, match="injected crash"):
        upsert_ivf_index(repl, "vec_id", "embedding", path, batch_id=0)
    monkeypatch.setattr(txnlog, "put", real_write)

    rep = upsert_ivf_index(repl, "vec_id", "embedding", path, batch_id=0)
    assert rep["delete_report"] is None  # phase 1 skipped on the replay
    assert not rep["skipped_replay"]
    rows = spark.read.parquet(path + "/lists")
    assert rows.count() == 40
    assert rows.select("vec_id").distinct().count() == 40
    n, _ = read_index_stats(spark, path)
    assert n == 40

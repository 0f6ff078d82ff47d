"""Round-9 drift-triggered RETRAIN (retrain_ivf_index): the sixth
lifecycle leg — re-train centroids on the index's current contents
through a crash-safe staged swap that PRESERVES the transaction
history (a fresh-history rebuild would strip a live stream's replay
protection)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_alchemy_spark.operators import txnlog
from spark_alchemy_spark.operators.similarity import (
    append_ivf_index,
    build_ivf_index,
    compact_ivf_index,
    delete_from_ivf_index,
    read_index_stats,
    rebalance_ivf_index,
    retrain_ivf_index,
)


def _mk_corpus(spark, lo, hi, dim=8, sign=1.0):
    return spark.range(lo, hi).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: sign * (1.0 + F.cos(i * (1.0 + F.col("id") % 7))),
        ).alias("embedding"),
    )


def _drifted_index(spark, tmp_path):
    """Standing corpus + an appended NEGATED batch: every appended
    vector points away from every centroid, so drift flags retrain."""
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 60), "vec_id", "embedding", path, n_centroids=4
    )
    rep = append_ivf_index(
        _mk_corpus(spark, 100, 140, sign=-1.0), "vec_id", "embedding",
        path, batch_id=0,
    )
    assert rep["retrain_recommended"] is True
    return path


def test_retrain_conserves_rows_improves_mean_keeps_txn(spark, tmp_path):
    path = _drifted_index(spark, tmp_path)
    mean_before = read_index_stats(spark, path)[1]
    rep = retrain_ivf_index(spark, path)
    assert rep["resumed"] is False
    assert rep["n"] == 100 and rep["n_centroids"] == 4
    assert rep["mean_after"] > rep["mean_before"] == mean_before
    rows = spark.read.parquet(path + "/lists")
    assert rows.count() == 100
    assert rows.select("vec_id").distinct().count() == 100
    n, m = read_index_stats(spark, path)
    assert n == 100 and abs(m - rep["mean_after"]) < 1e-12
    # txn CONTINUITY: the commit record survives, so a replay of the
    # already-committed batch is still a no-op skip
    assert int(txnlog.read(path, txnlog.COMMIT)["last_batch_id"]) == 0
    replay = append_ivf_index(
        _mk_corpus(spark, 100, 140, sign=-1.0), "vec_id", "embedding",
        path, batch_id=0,
    )
    assert replay["skipped_replay"] is True
    assert spark.read.parquet(path + "/lists").count() == 100
    # no leftover machinery
    for name in ("lists_stage", "centroids_stage", "lists_trash",
                 "centroids_trash"):
        assert not os.path.exists(os.path.join(path, name))
    assert txnlog.read(path, txnlog.RETRAIN_INTENT) is None


def test_retrain_crash_mid_swap_resumes(spark, tmp_path, monkeypatch):
    """Kill between the two sidecar swaps: the live intent wedges every
    other writer; a re-run completes the swap to the exact state an
    uninterrupted retrain produces."""
    path = _drifted_index(spark, tmp_path)
    real_rename = os.rename
    state = {"renames": 0}

    def crash_on_second_rename(a, b):
        state["renames"] += 1
        if state["renames"] == 3:  # lists swapped (2 renames), crash on
            raise OSError("injected crash mid-swap")  # centroids' first
        real_rename(a, b)

    monkeypatch.setattr(os, "rename", crash_on_second_rename)
    with pytest.raises(OSError, match="injected crash"):
        retrain_ivf_index(spark, path)
    monkeypatch.setattr(os, "rename", real_rename)

    # the intent is live: every other writer refuses
    for fn in (
        lambda: append_ivf_index(
            _mk_corpus(spark, 500, 510), "vec_id", "embedding", path
        ),
        lambda: delete_from_ivf_index(spark, path, [1]),
        lambda: rebalance_ivf_index(spark, path, id_col="vec_id"),
        lambda: compact_ivf_index(spark, path),
    ):
        with pytest.raises(RuntimeError, match="retrain intent"):
            fn()

    rep = retrain_ivf_index(spark, path)  # resume completes the swap
    assert rep["resumed"] is True and rep["n"] == 100
    rows = spark.read.parquet(path + "/lists")
    assert rows.count() == 100
    assert rows.select("vec_id").distinct().count() == 100
    n, m = read_index_stats(spark, path)
    assert n == 100 and abs(m - rep["mean_after"]) < 1e-12
    assert int(txnlog.read(path, txnlog.COMMIT)["last_batch_id"]) == 0
    assert txnlog.read(path, txnlog.RETRAIN_INTENT) is None
    for name in ("lists_stage", "centroids_stage", "lists_trash",
                 "centroids_trash"):
        assert not os.path.exists(os.path.join(path, name))


def test_retrain_crash_before_intent_leaves_index_untouched(
    spark, tmp_path
):
    """Garbage stage dirs from a crash BEFORE the intent are invisible
    to readers and overwritten by the next retrain."""
    path = _drifted_index(spark, tmp_path)
    os.makedirs(os.path.join(path, "lists_stage", "list_id=999"))
    pre = spark.read.parquet(path + "/lists").count()
    assert pre == 100  # readers untouched by stage garbage
    rep = retrain_ivf_index(spark, path)
    assert rep["resumed"] is False and rep["n"] == 100
    assert not os.path.exists(os.path.join(path, "lists_stage"))


def test_retrain_refuses_under_other_intents(spark, tmp_path):

    path = _drifted_index(spark, tmp_path)
    txnlog.put(
        path, txnlog.APPEND_INTENT, {"batch_id": 5, "touched": [0]}
    )
    with pytest.raises(RuntimeError, match="append intent"):
        retrain_ivf_index(spark, path)
    os.remove(os.path.join(path, "txn_intent.json"))
    txnlog.put(
        path, txnlog.DELETE_INTENT,
        {"digest": {"kind": "list", "sha": "x", "exclude_batch": None},
         "affected": [], "d_n": 0, "post_n": 100, "post_mean": 0.5,
         "list_counts": {}},
    )
    with pytest.raises(RuntimeError, match="delete intent"):
        retrain_ivf_index(spark, path)


def test_build_clears_retrain_machinery(spark, tmp_path):

    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 40), "vec_id", "embedding", path, n_centroids=4
    )
    txnlog.put(
        path, txnlog.RETRAIN_INTENT,
        {"n": 1, "mean_assigned_cos": 0.5, "n_centroids": 4},
    )
    os.makedirs(os.path.join(path, "centroids_stage"), exist_ok=True)
    build_ivf_index(
        _mk_corpus(spark, 0, 40), "vec_id", "embedding", path, n_centroids=4
    )
    assert txnlog.read(path, txnlog.RETRAIN_INTENT) is None
    assert not os.path.exists(os.path.join(path, "centroids_stage"))


def test_maintainer_in_stream_retrain_trigger(spark, tmp_path):
    """retrain_after_drift_batches=2: two consecutive drifted batches
    fire the in-stream retrain; the size map re-seeds from the
    re-tiled layout, the streak resets, and a post-retrain clean batch
    reports healthy drift."""
    from spark_alchemy_spark.operators.similarity import (
        _list_sizes,
        make_streaming_ivf_maintainer,
    )

    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 60), "vec_id", "embedding", path, n_centroids=4
    )
    maintain, log = make_streaming_ivf_maintainer(
        spark, path, id_col="vec_id", vec_col="embedding",
        retrain_after_drift_batches=2,
    )
    maintain(_mk_corpus(spark, 100, 120, sign=-1.0), 0)
    assert log[-1]["retrained"] is False  # streak 1 < 2
    maintain(_mk_corpus(spark, 120, 140, sign=-1.0), 1)
    assert log[-1]["retrained"] is True
    rt = log[-1]["retrain_report"]
    assert rt["n"] == 100 and rt["mean_after"] > rt["mean_before"]
    sizes_after_retrain = _list_sizes(spark, path)
    assert sum(sizes_after_retrain.values()) == 100
    # post-retrain batch: same-direction vectors now have centroids,
    # so the streak stays reset and no second retrain fires
    maintain(_mk_corpus(spark, 140, 160, sign=-1.0), 2)
    assert log[-1]["retrained"] is False
    # the re-seeded size map advanced exactly by the batch's counts
    assert sum(_list_sizes(spark, path).values()) == 120
    rows = spark.read.parquet(path + "/lists")
    assert rows.count() == 120
    assert rows.select("vec_id").distinct().count() == 120
    n, _ = read_index_stats(spark, path)
    assert n == 120
    # replay protection survived the in-stream retrain
    maintain(_mk_corpus(spark, 140, 160, sign=-1.0), 2)
    assert log[-1]["skipped_replay"] is True
    assert spark.read.parquet(path + "/lists").count() == 120


@pytest.mark.parametrize("crash_at", [1, 2, 3, 4])
def test_retrain_resume_converges_from_every_rename(
    spark, tmp_path, monkeypatch, crash_at
):
    """EXHAUSTIVE crash-point sweep over the swap's rename sequence
    (lists: live→trash, stage→live; centroids: live→trash,
    stage→live): killing at EVERY rename leaves a live intent whose
    resume converges to the identical final state."""
    path = _drifted_index(spark, tmp_path)
    real_rename = os.rename
    state = {"renames": 0}

    def crash_at_k(a, b):
        state["renames"] += 1
        if state["renames"] == crash_at:
            raise OSError(f"injected crash at rename {crash_at}")
        real_rename(a, b)

    monkeypatch.setattr(os, "rename", crash_at_k)
    with pytest.raises(OSError, match="injected crash"):
        retrain_ivf_index(spark, path)
    monkeypatch.setattr(os, "rename", real_rename)
    assert txnlog.read(path, txnlog.RETRAIN_INTENT) is not None

    rep = retrain_ivf_index(spark, path)
    assert rep["resumed"] is True and rep["n"] == 100
    rows = spark.read.parquet(path + "/lists")
    assert rows.count() == 100
    assert rows.select("vec_id").distinct().count() == 100
    n, m = read_index_stats(spark, path)
    assert n == 100 and abs(m - rep["mean_after"]) < 1e-12
    assert spark.read.parquet(path + "/centroids").count() == 4
    assert txnlog.read(path, txnlog.RETRAIN_INTENT) is None
    for name in ("lists_stage", "centroids_stage", "lists_trash",
                 "centroids_trash"):
        assert not os.path.exists(os.path.join(path, name))

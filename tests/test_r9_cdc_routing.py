"""Round-9 CDC id routing (VERDICT r8 task 1): D/U id sets at or
under cdc_driver_id_cap route as driver lists (isin → row-group
pruning); larger sets route as DataFrames straight into
delete_from_ivf_index's broadcast anti-join — a mass decontamination
delete never materializes ids on the driver.  Plus the round-8 ADVICE
guards: NULL-id D/U rows fail loud, rebalance refuses under an
uncommitted append intent, and a same-process retry never folds its
log delta into a stale entry."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_alchemy_spark.operators import txnlog
from spark_alchemy_spark.operators.similarity import (
    build_ivf_index,
    make_streaming_ivf_maintainer,
    read_index_stats,
    rebalance_ivf_index,
)


def _mk_corpus(spark, lo, hi, dim=8):
    return spark.range(lo, hi).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: 1.0 + F.cos(i * (1.0 + F.col("id") % 7)),
        ).alias("embedding"),
    )


def _with_op(df, op):
    return df.withColumn("op", F.lit(op))


def _dels(spark, ids):
    return spark.createDataFrame(
        [(int(x), None, "D") for x in ids],
        "vec_id long, embedding array<double>, op string",
    )


def _state(spark, path):
    ids = {
        int(r[0])
        for r in spark.read.parquet(path + "/lists").select("vec_id").collect()
    }
    return ids, read_index_stats(spark, path)


def test_cdc_df_route_equals_list_route(spark, tmp_path):
    """The route is an EXECUTION choice, never a semantics one: the
    same op-tagged batches through a cap-1 maintainer (every D/U set
    routes as a DataFrame) and a default-cap maintainer (driver lists)
    end in identical membership and stats."""
    outcomes = {}
    for name, cap in (("list", 10_000), ("df", 1)):
        path = str(tmp_path / f"idx_{name}")
        build_ivf_index(
            _mk_corpus(spark, 0, 60), "vec_id", "embedding", path,
            n_centroids=4,
        )
        maintain, log = make_streaming_ivf_maintainer(
            spark, path, id_col="vec_id", vec_col="embedding",
            op_col="op", cdc_driver_id_cap=cap,
        )
        b0 = _with_op(_mk_corpus(spark, 200, 220), "I").unionByName(
            _dels(spark, [5, 10, 205])
        )
        maintain(b0, 0)
        b1 = _with_op(_mk_corpus(spark, 210, 215, dim=8), "U").unionByName(
            _dels(spark, [212, 30])
        )
        maintain(b1, 1)
        expect_route = "df" if cap == 1 else "list"
        assert log[0]["d_id_route"] == expect_route
        assert log[1]["d_id_route"] == expect_route
        assert log[1]["u_id_route"] == expect_route
        assert log[0]["u_id_route"] is None
        outcomes[name] = _state(spark, path)
    assert outcomes["list"] == outcomes["df"]


def test_cdc_mass_delete_routes_df_no_driver_ids(spark, tmp_path):
    """The VERDICT r8 task-1 proof: a 100k-id decontamination delete
    through the CDC maintainer takes the DataFrame route (ids stay
    executor-side; the driver sees at most cdc_driver_id_cap sampled
    ids) and lands exactly."""
    path = str(tmp_path / "idx")
    n_corpus, n_del = 120_000, 100_000
    build_ivf_index(
        _mk_corpus(spark, 0, n_corpus, dim=4), "vec_id", "embedding",
        path, n_centroids=8,
    )
    maintain, log = make_streaming_ivf_maintainer(
        spark, path, id_col="vec_id", vec_col="embedding", op_col="op"
    )
    batch = spark.range(n_del).select(
        F.col("id").alias("vec_id"),
        F.lit(None).cast("array<double>").alias("embedding"),
        F.lit("D").alias("op"),
    )
    maintain(batch, 0)
    assert log[-1]["d_id_route"] == "df"
    assert log[-1]["n_deleted"] == n_del
    left = spark.read.parquet(path + "/lists")
    assert left.count() == n_corpus - n_del
    assert left.agg(F.min("vec_id")).collect()[0][0] == n_del
    n, _ = read_index_stats(spark, path)
    assert n == n_corpus - n_del


def test_cdc_null_id_delete_fails_loud(spark, tmp_path):
    """Round-8 ADVICE: a NULL-id 'D' row used to silently no-op
    (collect_set skips NULLs); now it's a dedicated loud error."""
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 40), "vec_id", "embedding", path, n_centroids=4
    )
    maintain, _log = make_streaming_ivf_maintainer(
        spark, path, id_col="vec_id", vec_col="embedding", op_col="op"
    )
    bad = spark.createDataFrame(
        [(None, None, "D"), (3, None, "D")],
        "vec_id long, embedding array<double>, op string",
    )
    with pytest.raises(ValueError, match="NULL ids"):
        maintain(bad, 0)
    bad_u = spark.createDataFrame(
        [(None, [1.0] * 8, "U")],
        "vec_id long, embedding array<double>, op string",
    )
    with pytest.raises(ValueError, match="NULL ids"):
        maintain(bad_u, 0)


def test_rebalance_refuses_uncommitted_append_intent(spark, tmp_path):
    """Round-8 ADVICE: rebalance now mirrors compact/delete — a direct
    rebalance under a crashed append's live intent would move the dead
    attempt's tagged rows out of the intent's touched partitions."""

    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 40), "vec_id", "embedding", path, n_centroids=4
    )
    txnlog.put(
        path, txnlog.APPEND_INTENT, {"batch_id": 0, "touched": [0]}
    )
    with pytest.raises(RuntimeError, match="uncommitted append intent"):
        rebalance_ivf_index(spark, path, id_col="vec_id")


def test_cdc_retry_log_totals_exact(spark, tmp_path, monkeypatch):
    """Round-8 ADVICE: a same-process foreachBatch retry (crash in
    phase 3, no restart) must not double-report — per-batch counters
    summed over ALL log entries stay exact."""
    import spark_alchemy_spark.operators.similarity as sim

    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 40), "vec_id", "embedding", path, n_centroids=4
    )
    maintain, log = make_streaming_ivf_maintainer(
        spark, path, id_col="vec_id", vec_col="embedding", op_col="op"
    )
    batch = _with_op(_mk_corpus(spark, 100, 120), "I").unionByName(
        _dels(spark, [3, 7])
    )
    real_delete = sim.delete_from_ivf_index
    state = {"crashed": False}

    def crash_once(*a, **kw):
        if not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("injected crash in phase 3")
        return real_delete(*a, **kw)

    monkeypatch.setattr(sim, "delete_from_ivf_index", crash_once)
    with pytest.raises(RuntimeError, match="injected crash"):
        maintain(batch, 0)
    maintain(batch, 0)  # same-process retry
    # the crashed attempt's insert-leg entry never got its delta keys;
    # the retry's counters live on the retry's OWN entry, not folded
    # into the stale one (round-8 ADVICE) — totals stay exact
    assert sum(e.get("n_appended", 0) for e in log) == 20
    assert sum(e.get("n_deleted", 0) for e in log) == 2
    ids, (n, _) = _state(spark, path)
    want = (set(range(40)) | set(range(100, 120))) - {3, 7}
    assert ids == want and n == len(want)


def test_cdc_driver_id_cap_validated(spark, tmp_path):
    """cap < 1 would hand the capped-sample slice a non-positive
    length — reject at construction, like the trigger-ratio guard."""
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 40), "vec_id", "embedding", path, n_centroids=4
    )
    with pytest.raises(ValueError, match="cdc_driver_id_cap"):
        make_streaming_ivf_maintainer(
            spark, path, id_col="vec_id", vec_col="embedding",
            op_col="op", cdc_driver_id_cap=0,
        )


def test_cdc_phase3_df_route_crash_resume(spark, tmp_path, monkeypatch):
    """The DataFrame-routed delete's crash window: phase 3's delete
    fully committed its rewrite but crashed before removing its intent
    (and before the batch marker).  The retry must recompute the SAME
    df digest from the replayed batch (the route is deterministic),
    jump straight to phase 3, resume idempotently, and land the
    marker — the df twin of the r8 list-route resume test."""
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 60), "vec_id", "embedding", path, n_centroids=4
    )
    maintain, log = make_streaming_ivf_maintainer(
        spark, path, id_col="vec_id", vec_col="embedding",
        op_col="op", cdc_driver_id_cap=1,  # force the df route
    )
    batch = _with_op(_mk_corpus(spark, 200, 220), "I").unionByName(
        _dels(spark, [5, 10])
    )
    real_put = txnlog.put

    def crash_remove(p, name, obj):
        if name == txnlog.DELETE_INTENT and obj is None:
            raise RuntimeError("injected crash before intent removal")
        real_put(p, name, obj)

    monkeypatch.setattr(txnlog, "put", crash_remove)
    with pytest.raises(RuntimeError, match="injected crash"):
        maintain(batch, 0)
    monkeypatch.setattr(txnlog, "put", real_put)
    assert txnlog.read(path, txnlog.DELETE_INTENT) is not None  # live

    maintain(batch, 0)  # the replay
    assert log[-1]["d_id_route"] == "df"
    assert log[-1]["delete_report"]["resumed"] is True
    assert log[-1]["upsert_delete_report"] is None
    ids, (n, _) = _state(spark, path)
    want = (set(range(60)) | set(range(200, 220))) - {5, 10}
    assert ids == want and n == len(want)
    assert txnlog.read(path, txnlog.DELETE_INTENT) is None
    assert int(txnlog.read(path, txnlog.COMMIT)["last_cdc_batch_id"]) == 0

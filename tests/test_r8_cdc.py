"""Round-8 CDC sink mode of the streaming IVF maintainer
(make_streaming_ivf_maintainer(op_col=...)): op-tagged insert/delete
micro-batches applied exactly-once — inserts first, deletes second,
batch-complete marker last.  Driven by direct maintain() calls (the
foreachBatch contract) plus one engine-real kill/restart."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_alchemy_spark.operators import txnlog
from spark_alchemy_spark.operators.similarity import (
    append_ivf_index,
    build_ivf_index,
    make_streaming_ivf_maintainer,
    read_index_stats,
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


def _ids(spark, path):
    return {
        int(r[0])
        for r in spark.read.parquet(path + "/lists").select("vec_id").collect()
    }


def test_cdc_membership_and_marker(spark, tmp_path):
    """Three CDC batches: inserts, inserts + deletes (including a
    same-batch insert+delete, which must end DELETED), pure deletes —
    final membership, stats n, and the last_cdc_batch_id marker are
    exact."""
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 60), "vec_id", "embedding", path, n_centroids=4
    )
    maintain, log = make_streaming_ivf_maintainer(
        spark, path, id_col="vec_id", vec_col="embedding", op_col="op"
    )
    maintain(_with_op(_mk_corpus(spark, 200, 220), "I"), 0)
    b1 = _with_op(_mk_corpus(spark, 220, 240), "I").unionByName(
        _dels(spark, [205, 210, 225, 3])  # 225 inserted in THIS batch
    )
    maintain(b1, 1)
    maintain(_dels(spark, [201, 50]), 2)
    want = (set(range(60)) | set(range(200, 240))) - {205, 210, 225, 3, 201, 50}
    assert _ids(spark, path) == want
    n, _ = read_index_stats(spark, path)
    assert n == len(want)
    txn = txnlog.read(path, txnlog.COMMIT)
    assert int(txn["last_cdc_batch_id"]) == 2
    assert int(txn["n"]) == len(want)
    assert [e["n_deleted"] for e in log] == [0, 4, 2]
    assert log[1]["n_appended"] == 20


def test_cdc_replay_skips_wholesale(spark, tmp_path):
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 40), "vec_id", "embedding", path, n_centroids=4
    )
    maintain, log = make_streaming_ivf_maintainer(
        spark, path, id_col="vec_id", vec_col="embedding", op_col="op"
    )
    b0 = _with_op(_mk_corpus(spark, 100, 120), "I").unionByName(
        _dels(spark, [5, 110])
    )
    maintain(b0, 0)
    before = _ids(spark, path)
    st = read_index_stats(spark, path)
    maintain(b0, 0)  # replay of a fully-committed batch
    assert log[-1]["skipped_replay"] is True and log[-1]["n_deleted"] == 0
    assert _ids(spark, path) == before
    assert read_index_stats(spark, path) == st


def test_cdc_resumes_after_crash_before_marker(spark, tmp_path):
    """Crash window: insert leg COMMITTED (txn high-water mark moved)
    but the batch's deletes and the cdc marker never ran.  A fresh
    maintainer (restart) replaying the same batch must skip the
    insert leg internally, apply the deletes, and land the marker —
    membership identical to the no-crash run."""
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 40), "vec_id", "embedding", path, n_centroids=4
    )
    # simulate the crash state: the insert leg of batch 0 committed
    # directly (what _maintain_inserts does), nothing else
    append_ivf_index(
        _mk_corpus(spark, 100, 120), "vec_id", "embedding", path, batch_id=0
    )
    assert "last_cdc_batch_id" not in txnlog.read(path, txnlog.COMMIT)
    maintain, log = make_streaming_ivf_maintainer(
        spark, path, id_col="vec_id", vec_col="embedding", op_col="op"
    )
    b0 = _with_op(_mk_corpus(spark, 100, 120), "I").unionByName(
        _dels(spark, [7, 105])
    )
    maintain(b0, 0)  # the replay
    want = (set(range(40)) | set(range(100, 120))) - {7, 105}
    assert _ids(spark, path) == want
    assert read_index_stats(spark, path)[0] == len(want)
    assert int(txnlog.read(path, txnlog.COMMIT)["last_cdc_batch_id"]) == 0
    assert log[-1]["skipped_replay"] is True  # the INSERT leg skipped
    assert log[-1]["n_deleted"] == 2  # ...but the deletes applied


def test_cdc_rejects_unknown_ops(spark, tmp_path):
    import pytest

    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 30), "vec_id", "embedding", path, n_centroids=4
    )
    maintain, _ = make_streaming_ivf_maintainer(
        spark, path, id_col="vec_id", vec_col="embedding", op_col="op"
    )
    bad = _with_op(_mk_corpus(spark, 100, 105), "X")
    with pytest.raises(ValueError, match="'I'/'D'/'U'"):
        maintain(bad, 0)


def test_cdc_kill_restart_through_engine(spark, tmp_path):
    """Engine-real exactly-once: batch 0 fully commits, the stream is
    killed before the ENGINE checkpoint commit, and the restarted
    stream replays batch 0 (wholesale skip) then runs batch 1 — every
    insert and delete applied exactly once."""
    import glob
    import os

    from spark_alchemy_spark.streaming import _drain_foreach_batch

    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 40), "vec_id", "embedding", path, n_centroids=4
    )
    arrivals = str(tmp_path / "arrivals")
    b0 = _with_op(_mk_corpus(spark, 100, 130), "I").unionByName(
        _dels(spark, [5, 110])
    )
    b1 = _with_op(_mk_corpus(spark, 130, 140), "I").unionByName(
        _dels(spark, [135, 101])
    )
    for i, b in enumerate((b0, b1)):
        sub = os.path.join(arrivals, f"f{i}")
        b.coalesce(1).write.mode("overwrite").parquet(sub)
        for leaf in glob.glob(os.path.join(sub, "*.parquet")):
            os.utime(leaf, (1_700_000_000 + i * 100,) * 2)

    def read_stream():
        return (
            spark.readStream.schema(
                "vec_id long, embedding array<double>, op string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(arrivals + "/*")
        )

    chk = str(tmp_path / "chk")
    m1, _log1 = make_streaming_ivf_maintainer(
        spark, path, id_col="vec_id", vec_col="embedding", op_col="op"
    )

    def crash_after_commit(batch_df, batch_id):
        m1(batch_df, batch_id)
        raise RuntimeError("injected crash after cdc commit")

    try:
        _drain_foreach_batch(
            read_stream(), crash_after_commit, state_partitions=8,
            checkpoint=chk,
        )
    except Exception as e:
        assert "injected crash" in str(e)
    m2, log2 = make_streaming_ivf_maintainer(
        spark, path, id_col="vec_id", vec_col="embedding", op_col="op"
    )
    progress: list = []
    _drain_foreach_batch(
        read_stream(), m2, state_partitions=8, progress_out=progress,
        checkpoint=chk,
    )
    assert log2[0]["skipped_replay"] is True  # batch 0 wholesale skip
    want = (set(range(40)) | set(range(100, 140))) - {5, 110, 135, 101}
    assert _ids(spark, path) == want
    n, _ = read_index_stats(spark, path)
    assert n == len(want)
    lists = spark.read.parquet(path + "/lists")
    assert lists.count() == lists.select("vec_id").distinct().count() == len(want)
    assert all(p["stateOperators"] == [] for p in progress)  # stateless


def _ups(spark, ids, dim=8, shift=100.0):
    """Upsert rows: REPLACEMENT vectors clearly different from the
    originals (constant direction + shift so the new version is
    detectable by value)."""
    return spark.createDataFrame(
        [(int(x), [shift + i for i in range(dim)], "U") for x in ids],
        "vec_id long, embedding array<double>, op string",
    )


def test_cdc_upsert_replaces_vector(spark, tmp_path):
    """'U' replaces the standing vector: membership unchanged for
    upserted ids (no duplicates), and the stored vector is the NEW
    one; same-batch U + D ends deleted (delete-wins)."""
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 60), "vec_id", "embedding", path, n_centroids=4
    )
    maintain, log = make_streaming_ivf_maintainer(
        spark, path, id_col="vec_id", vec_col="embedding", op_col="op"
    )
    b0 = (
        _with_op(_mk_corpus(spark, 100, 110), "I")
        .unionByName(_ups(spark, [3, 17, 105]))  # 105 inserted same batch
        .unionByName(_dels(spark, [17]))  # U+D same batch: D wins
    )
    maintain(b0, 0)
    want = (set(range(60)) | set(range(100, 110))) - {17}
    assert _ids(spark, path) == want
    lists = spark.read.parquet(path + "/lists")
    assert lists.count() == len(want)  # no duplicate versions
    # upserted ids carry the REPLACEMENT vector
    for vid in (3, 105):
        v = lists.filter(F.col("vec_id") == vid).select("__v").collect()
        assert len(v) == 1 and v[0][0][0] == 100.0
    # non-upserted ids untouched
    v5 = lists.filter(F.col("vec_id") == 5).select("__v").collect()
    assert v5[0][0][0] != 100.0
    n, _ = read_index_stats(spark, path)
    assert n == len(want)
    assert log[-1]["n_upserted"] == 3 and log[-1]["n_deleted"] == 1


def test_cdc_upsert_replay_after_insert_commit_keeps_new_version(
    spark, tmp_path
):
    """THE upsert crash window: the insert leg committed (new versions
    appended, txn high-water mark moved) but the batch marker never
    landed.  The replay's phase-1 delete is scoped to rows NOT tagged
    with this batch, so it must NOT eat the new versions — final state
    identical to the no-crash run."""
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 60), "vec_id", "embedding", path, n_centroids=4
    )
    # no-crash reference on a twin
    twin = str(tmp_path / "twin")
    build_ivf_index(
        _mk_corpus(spark, 0, 60), "vec_id", "embedding", twin, n_centroids=4
    )
    b0 = _ups(spark, [3, 17])
    mt, _ = make_streaming_ivf_maintainer(
        spark, twin, id_col="vec_id", vec_col="embedding", op_col="op"
    )
    mt(b0, 0)
    # victim: simulate the crash state by running phases 1-2 directly
    from spark_alchemy_spark.operators.similarity import (
        delete_from_ivf_index,
    )

    delete_from_ivf_index(spark, path, [3, 17], exclude_batch=0)
    append_ivf_index(
        b0.drop("op"), "vec_id", "embedding", path, batch_id=0
    )
    assert "last_cdc_batch_id" not in txnlog.read(path, txnlog.COMMIT)
    # restart: fresh maintainer replays batch 0
    maintain, log = make_streaming_ivf_maintainer(
        spark, path, id_col="vec_id", vec_col="embedding", op_col="op"
    )
    maintain(b0, 0)
    assert int(txnlog.read(path, txnlog.COMMIT)["last_cdc_batch_id"]) == 0
    lists = spark.read.parquet(path + "/lists")
    assert _ids(spark, path) == set(range(60))
    assert lists.count() == 60  # new versions kept, old ones gone
    for vid in (3, 17):
        v = lists.filter(F.col("vec_id") == vid).select("__v").collect()
        assert len(v) == 1 and v[0][0][0] == 100.0
    # state identical to the no-crash twin
    tw = spark.read.parquet(twin + "/lists")
    assert sorted(
        (int(r["vec_id"]), tuple(r["__v"])) for r in lists.collect()
    ) == sorted((int(r["vec_id"]), tuple(r["__v"])) for r in tw.collect())
    assert read_index_stats(spark, path) == read_index_stats(spark, twin)


def test_cdc_phase3_intent_replay_skips_to_phase3(spark, tmp_path):
    """Crash mid-phase-3 (the plain-delete leg's intent is live): the
    replay must NOT re-run phases 1-2 (the phase-1 delete would trip
    the digest guard) — it resumes phase 3 and lands the marker."""
    from spark_alchemy_spark.operators.similarity import (
        _delete_ids_digest,
        delete_from_ivf_index,
    )

    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 60), "vec_id", "embedding", path, n_centroids=4
    )
    b0 = _ups(spark, [3]).unionByName(_dels(spark, [7, 11]))
    # run phases 1-2 for real, then forge a live phase-3 intent from a
    # twin's completed delete
    delete_from_ivf_index(spark, path, [3], exclude_batch=0)
    append_ivf_index(
        b0.filter("op = 'U'").drop("op"), "vec_id", "embedding", path,
        batch_id=0,
    )
    twin = str(tmp_path / "twin")
    build_ivf_index(
        _mk_corpus(spark, 0, 60), "vec_id", "embedding", twin, n_centroids=4
    )
    delete_from_ivf_index(spark, twin, [3], exclude_batch=0)
    append_ivf_index(
        b0.filter("op = 'U'").drop("op"), "vec_id", "embedding", twin,
        batch_id=0,
    )
    want = delete_from_ivf_index(spark, twin, [7, 11])
    txnlog.put(
        path,
        txnlog.DELETE_INTENT,
        {
            "digest": _delete_ids_digest([7, 11]),
            "affected": want["affected_list_ids"],
            "d_n": want["n_deleted"],
            "post_n": want["n_after"],
            "post_mean": want["mean_after"],
            "list_counts": {
                str(k): v for k, v in want["list_counts"].items()
            },
        },
    )
    maintain, log = make_streaming_ivf_maintainer(
        spark, path, id_col="vec_id", vec_col="embedding", op_col="op"
    )
    maintain(b0, 0)  # the replay
    assert log[-1]["delete_report"]["resumed"] is True
    assert log[-1]["upsert_delete_report"] is None  # phase 1 skipped
    assert _ids(spark, path) == set(range(60)) - {7, 11}
    assert read_index_stats(spark, path) == (
        want["n_after"], want["mean_after"],
    )
    assert int(txnlog.read(path, txnlog.COMMIT)["last_cdc_batch_id"]) == 0


def test_cdc_upsert_replay_after_crash_mid_append(spark, tmp_path, monkeypatch):
    """THE wedge window (review finding): phase 1's old-version delete
    committed, phase 2's append wrote its intent + rows but CRASHED
    before the txn commit.  The replay must not re-run phase 1 (the
    live append intent would make the delete refuse — permanently
    wedging the stream); it must let phase 2's repair clear the
    intent, re-append, and complete the batch."""
    path = str(tmp_path / "idx")
    build_ivf_index(
        _mk_corpus(spark, 0, 60), "vec_id", "embedding", path, n_centroids=4
    )
    twin = str(tmp_path / "twin")
    build_ivf_index(
        _mk_corpus(spark, 0, 60), "vec_id", "embedding", twin, n_centroids=4
    )
    b0 = _ups(spark, [3, 17]).unionByName(_dels(spark, [7]))
    mt, _ = make_streaming_ivf_maintainer(
        spark, twin, id_col="vec_id", vec_col="embedding", op_col="op"
    )
    mt(b0, 0)  # the no-crash reference

    # inject a crash on the FIRST append commit (txn.json write) —
    # after phase 1's delete and phase 2's intent + rows landed
    orig = txnlog.put
    crashed = []

    def crashing(p, name, obj):
        if name == txnlog.COMMIT and not crashed:
            crashed.append(1)
            raise RuntimeError("injected crash before append commit")
        return orig(p, name, obj)

    monkeypatch.setattr(txnlog, "put", crashing)
    m1, _ = make_streaming_ivf_maintainer(
        spark, path, id_col="vec_id", vec_col="embedding", op_col="op"
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="injected crash"):
        m1(b0, 0)
    assert crashed  # the crash really landed mid-phase-2
    intent = txnlog.read(path, txnlog.APPEND_INTENT)
    assert intent is not None and int(intent["batch_id"]) == 0

    # restart: fresh maintainer, same batch — must complete, not wedge
    monkeypatch.setattr(txnlog, "put", orig)
    m2, log2 = make_streaming_ivf_maintainer(
        spark, path, id_col="vec_id", vec_col="embedding", op_col="op"
    )
    m2(b0, 0)
    assert int(txnlog.read(path, txnlog.COMMIT)["last_cdc_batch_id"]) == 0
    lists = spark.read.parquet(path + "/lists")
    tw = spark.read.parquet(twin + "/lists")
    assert sorted(
        (int(r["vec_id"]), tuple(r["__v"])) for r in lists.collect()
    ) == sorted((int(r["vec_id"]), tuple(r["__v"])) for r in tw.collect())
    assert read_index_stats(spark, path) == read_index_stats(spark, twin)

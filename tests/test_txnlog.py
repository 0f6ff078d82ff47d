"""Spark-free unit tests for the index/probe transaction log
(``operators/txnlog.py``): the atomic write/remove primitive, the
local-filesystem guard, the fresh-history reset, the writer-exclusion
guard, the stats-commit rule, the staged swap, and the replay-guarded
fold."""

from __future__ import annotations

import json
import os

import pytest

from spark_alchemy_spark.operators import txnlog

INDEX_RECORDS = (
    txnlog.COMMIT,
    txnlog.APPEND_INTENT,
    txnlog.DELETE_INTENT,
    txnlog.RETRAIN_INTENT,
)


def test_crash_mid_write_leaves_previous_record(tmp_path, monkeypatch):
    path = str(tmp_path)
    txnlog.put(path, txnlog.COMMIT, {"last_batch_id": 0, "n": 5})

    def torn_dump(obj, f):
        f.write('{"last_batch_id": 1, "n"')  # half a record, then die
        raise OSError("disk full")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        txnlog.put(path, txnlog.COMMIT, {"last_batch_id": 1, "n": 9})
    monkeypatch.undo()
    assert txnlog.read(path, txnlog.COMMIT) == {"last_batch_id": 0, "n": 5}
    assert os.listdir(path) == [txnlog.COMMIT]  # no tmp file left behind


def test_put_none_removes_and_tolerates_missing(tmp_path):
    path = str(tmp_path)
    txnlog.put(path, txnlog.APPEND_INTENT, {"batch_id": 3})
    assert txnlog.read(path, txnlog.APPEND_INTENT) == {"batch_id": 3}
    txnlog.put(path, txnlog.APPEND_INTENT, None)
    assert txnlog.read(path, txnlog.APPEND_INTENT) is None
    txnlog.put(path, txnlog.APPEND_INTENT, None)  # already gone: no-op


def test_object_store_paths_are_rejected():
    path = "s3a://bucket/idx"
    assert not txnlog.possible(path)
    assert txnlog.possible("file:///tmp/idx") and txnlog.possible("/tmp/idx")
    for call in (
        lambda: txnlog.local_path(path, txnlog.COMMIT),
        lambda: txnlog.read(path, txnlog.COMMIT),
        lambda: txnlog.put(path, txnlog.COMMIT, {"n": 1}),
    ):
        with pytest.raises(ValueError, match="local-filesystem"):
            call()
    # the leg-level entry points stand down instead of raising
    assert txnlog.guard(path) is None
    txnlog.reset(path)


def test_file_scheme_resolves_to_the_local_path(tmp_path):
    txnlog.put("file://" + str(tmp_path), txnlog.COMMIT, {"n": 1})
    assert txnlog.read(str(tmp_path), txnlog.COMMIT) == {"n": 1}


def test_reset_clears_every_record_and_stage_trash_dir(tmp_path):
    path = str(tmp_path)
    for name in INDEX_RECORDS:
        txnlog.put(path, name, {"batch_id": 1})
    for sidecar in ("lists", "centroids"):
        os.makedirs(os.path.join(path, txnlog.stage(sidecar), "x"))
        os.makedirs(os.path.join(path, sidecar))
    os.makedirs(os.path.join(path, "lists_trash", "x"))
    os.makedirs(os.path.join(path, "centroids_trash"))
    txnlog.reset(path)
    assert sorted(os.listdir(path)) == ["centroids", "lists"]
    for name in INDEX_RECORDS:
        assert txnlog.read(path, name) is None


def test_guard_refuses_other_legs_intents(tmp_path):
    path = str(tmp_path)
    assert txnlog.guard(path) is None
    txnlog.put(path, txnlog.COMMIT, {"last_batch_id": 4, "n": 1})
    assert txnlog.guard(path) == {"last_batch_id": 4, "n": 1}

    # an append intent at or below the high-water mark is dead
    txnlog.put(path, txnlog.APPEND_INTENT, {"batch_id": 4})
    assert txnlog.live_append(path, txnlog.read(path, txnlog.COMMIT)) is None
    txnlog.guard(path)
    txnlog.put(path, txnlog.APPEND_INTENT, {"batch_id": 5})
    with pytest.raises(RuntimeError, match="uncommitted append intent"):
        txnlog.guard(path)
    assert txnlog.guard(path, owner=txnlog.APPEND_INTENT)["n"] == 1
    txnlog.put(path, txnlog.APPEND_INTENT, None)

    for name, match in (
        (txnlog.DELETE_INTENT, "uncommitted delete intent"),
        (txnlog.RETRAIN_INTENT, "uncommitted retrain intent"),
    ):
        txnlog.put(path, name, {"n": 1})
        with pytest.raises(RuntimeError, match=match):
            txnlog.guard(path)
        txnlog.guard(path, owner=name)  # the owning leg resumes it
        txnlog.put(path, name, None)


def test_commit_stats_keeps_both_records_in_lockstep(tmp_path):
    path = str(tmp_path)
    sidecar = []
    txnlog.commit_stats(path, 10, 0.5, lambda n, m: sidecar.append((n, m)))
    assert sidecar == [(10, 0.5)]
    assert txnlog.read(path, txnlog.COMMIT) is None  # no record: no new one

    txnlog.put(
        path,
        txnlog.COMMIT,
        {
            "last_batch_id": 3,
            "last_cdc_batch_id": 2,
            "n": 10,
            "mean_assigned_cos": 0.5,
        },
    )
    txnlog.commit_stats(path, 12, 0.25, lambda n, m: sidecar.append((n, m)))
    assert sidecar[-1] == (12, 0.25)
    assert txnlog.read(path, txnlog.COMMIT) == {
        "last_batch_id": 3,
        "last_cdc_batch_id": 2,
        "n": 12,
        "mean_assigned_cos": 0.25,
    }


def test_swap_staged_is_idempotent(tmp_path):
    path = str(tmp_path)
    for sidecar in ("lists", "centroids"):
        os.makedirs(os.path.join(path, sidecar, "old"))
        os.makedirs(os.path.join(path, txnlog.stage(sidecar), "new"))
    txnlog.swap_staged(path)
    txnlog.swap_staged(path)  # a re-run after a crash mid-swap
    txnlog.drop_trash(path)
    assert sorted(os.listdir(path)) == ["centroids", "lists"]
    for sidecar in ("lists", "centroids"):
        assert os.listdir(os.path.join(path, sidecar)) == ["new"]


def test_replay_guarded_fold_commits_before_the_state_update(
    tmp_path, monkeypatch
):
    path = str(tmp_path)

    def make():
        return txnlog.replay_guarded_fold(
            path, txnlog.PROBE, "total", 0, int, str, lambda df, t: t + df
        )

    fold, state = make()
    fold(5, 0)
    fold(7, 1)
    assert state["total"] == 12 and state["last_batch_id"] == 1
    assert txnlog.read(path, txnlog.PROBE) == {"last_batch_id": 1, "total": "12"}

    # a crash at the commit leaves memory and record on the previous fold
    def crash(*args):
        raise OSError("crash")

    monkeypatch.setattr(txnlog, "put", crash)
    with pytest.raises(OSError):
        fold(100, 2)
    monkeypatch.undo()
    assert state["total"] == 12 and state["last_batch_id"] == 1

    # a restarted fold re-seeds from the record and skips replays
    fold2, state2 = make()
    assert state2["total"] == 12
    fold2(7, 1)
    assert state2["log"] == [{"batch_id": 1, "skipped_replay": True}]
    fold2(100, 2)
    assert state2["total"] == 112

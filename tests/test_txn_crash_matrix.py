"""Crash matrix for the IVF index commit protocol (INDEX COMMIT
PROTOCOL in ``operators/txnlog.py``).

For each lifecycle leg, a spy on ``txnlog.put`` — the one primitive
every record write and removal goes through — records the sequence of
record operations of an uninterrupted run.  The leg is then re-run
from the same starting index once per recorded operation, crashing
just before that operation, and restarted the way a real deployment
would (a fresh streaming maintainer, or the same call again).  Every
restart must land on exactly the uninterrupted twin: the same
``(vec_id, __v)`` multiset, the same ``read_index_stats`` and the same
``txn.json``.

Every leg starts from a TRANSACTIONAL index (build + one committed
streaming batch), so the commit record exists and the stats-commit
rule's record writes are part of every leg's sequence."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from spark_alchemy_spark.operators import txnlog
from spark_alchemy_spark.operators.similarity import (
    append_ivf_index,
    build_ivf_index,
    delete_from_ivf_index,
    make_streaming_ivf_maintainer,
    read_index_stats,
    retrain_ivf_index,
    upsert_ivf_index,
)


class Crash(Exception):
    """The injected process death."""


def _vecs(spark, lo, hi, phase=1.0, dim=8):
    return spark.range(lo, hi).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: 1.0 + F.cos(i * (phase + F.col("id") % 7)),
        ).alias("embedding"),
    )


def _cdc_batch(spark):
    """I (new ids 200-209), U (re-embedded ids 3, 17, 40), D (ids 7,
    41 — 41 was appended by the base's streaming batch)."""
    ins = _vecs(spark, 200, 210).withColumn("op", F.lit("I"))
    ups = (
        _vecs(spark, 0, 50, phase=2.5)
        .filter(F.col("vec_id").isin(3, 17, 40))
        .withColumn("op", F.lit("U"))
    )
    dels = spark.createDataFrame(
        [(7, None, "D"), (41, None, "D")],
        "vec_id long, embedding array<double>, op string",
    )
    return ins.unionByName(ups).unionByName(dels)


def _run_streaming_append(spark, path):
    append_ivf_index(
        _vecs(spark, 100, 112, phase=3.0), "vec_id", "embedding", path,
        batch_id=1,
    )


def _run_cdc(spark, path):
    maintain, _ = make_streaming_ivf_maintainer(
        spark, path, id_col="vec_id", vec_col="embedding", op_col="op"
    )
    maintain(_cdc_batch(spark), 1)


def _run_delete(spark, path):
    delete_from_ivf_index(spark, path, [2, 5, 11, 41, 999], id_col="vec_id")


def _run_retrain(spark, path):
    retrain_ivf_index(spark, path, id_col="vec_id", n_centroids=3)


def _run_upsert(spark, path):
    upsert_ivf_index(
        _vecs(spark, 30, 36, phase=4.0), "vec_id", "embedding", path,
        batch_id=1,
    )


#: leg -> run; a restart is the same call again (the CDC leg's call
#: builds a fresh maintainer, as a restarted stream would)
LEGS = {
    "streaming_append": _run_streaming_append,
    "cdc_iud": _run_cdc,
    "batch_delete": _run_delete,
    "retrain": _run_retrain,
    "upsert_batch_id": _run_upsert,
}


def _state(spark, path):
    rows = sorted(
        (int(r["vec_id"]), tuple(r["__v"]))
        for r in spark.read.parquet(path + "/lists")
        .select("vec_id", "__v")
        .collect()
    )
    return rows, read_index_stats(spark, path), txnlog.read(path, txnlog.COMMIT)


def _spy(monkeypatch, ops, crash_at=None):
    real = txnlog.put

    def put(path, name, obj):
        if len(ops) == crash_at:
            raise Crash(f"crash before op {crash_at}")
        ops.append((name, "remove" if obj is None else "write"))
        real(path, name, obj)

    monkeypatch.setattr(txnlog, "put", put)
    return real


@pytest.fixture(scope="module")
def base_index(spark, tmp_path_factory):
    """build (50 vectors, 4 lists) + one committed streaming batch."""
    path = str(tmp_path_factory.mktemp("crash_matrix") / "base")
    build_ivf_index(
        _vecs(spark, 0, 40), "vec_id", "embedding", path, n_centroids=4
    )
    append_ivf_index(
        _vecs(spark, 40, 50), "vec_id", "embedding", path, batch_id=0
    )
    return path


@pytest.fixture(scope="module")
def twins(spark, base_index, tmp_path_factory):
    """leg -> (record-op sequence, final state) of an uninterrupted run."""
    out = {}
    root = tmp_path_factory.mktemp("crash_matrix_twins")
    mp = pytest.MonkeyPatch()
    try:
        for leg, run in LEGS.items():
            path = str(root / leg)
            shutil.copytree(base_index, path)
            ops: list = []
            _spy(mp, ops)
            run(spark, path)
            mp.undo()
            out[leg] = (ops, _state(spark, path))
    finally:
        mp.undo()
    return out


#: record-op count per leg in an uninterrupted run; the matrix
#: parametrizes one crash case per op
N_OPS = {
    # intent write, commit write
    "streaming_append": 2,
    # phase 1 delete (intent, stats, intent removal), phase 2 append
    # (intent, commit), phase 3 delete (intent, stats, intent
    # removal), batch-complete marker
    "cdc_iud": 9,
    # intent, stats, intent removal
    "batch_delete": 3,
    # intent, stats, intent removal
    "retrain": 3,
    # phase 1 delete (intent, stats, intent removal), append (intent,
    # commit)
    "upsert_batch_id": 5,
}


def test_matrix_covers_every_record_op(twins):
    for leg, (ops, _) in twins.items():
        assert len(ops) == N_OPS[leg], (leg, ops)


@pytest.mark.parametrize(
    "leg,crash_at",
    [(leg, k) for leg, n in N_OPS.items() for k in range(n)],
)
def test_crash_restart_equals_uninterrupted_twin(
    spark, base_index, twins, tmp_path, monkeypatch, leg, crash_at
):
    want_ops, want = twins[leg]
    path = str(tmp_path / "idx")
    shutil.copytree(base_index, path)
    ops: list = []
    real = _spy(monkeypatch, ops, crash_at=crash_at)
    with pytest.raises(Crash):
        LEGS[leg](spark, path)
    assert ops == want_ops[:crash_at]  # died exactly where intended
    monkeypatch.setattr(txnlog, "put", real)
    LEGS[leg](spark, path)  # restart
    assert _state(spark, path) == want

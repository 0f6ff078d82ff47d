"""StreamLib (STRM) codec tests — mirrors the reference's
conversion-accuracy suite (HLLFunctionsTest.scala:356-377: p=20,
n=10000, estimates within +-1) and its two-backend byte-format
guarantees (hll/Implementation.scala:92-102), re-targeted at this
engine's DS execution backend:

  STRM bytes -> registers -> AgKn bytes   (read path, the reference's
                                           own STRM -> AGKN conversion)
  DS bytes   -> STRM bytes                (export path)
"""

from __future__ import annotations

import numpy as np
import pytest

from spark_alchemy_spark.conf import resolve_backend
from spark_alchemy_spark.functions import hll
from spark_alchemy_spark.functions.agkn import agkn_cardinality
from spark_alchemy_spark.functions.sketch_codec import ds_registers
from spark_alchemy_spark.functions.strm import (
    strm_cardinality,
    strm_from_registers,
    strm_registers,
    strm_to_agkn,
)


def _registers_from_hashes(p: int, hashes: np.ndarray) -> np.ndarray:
    """Dense HLL registers from uniform 64-bit hashes, the HLL+ NORMAL
    update rule: idx = top p bits, rho = leading zeros of the remaining
    64-p bits + 1."""
    u = hashes.astype(np.uint64)
    idx = (u >> np.uint64(64 - p)).astype(np.int64)
    w = (u << np.uint64(p)) & np.uint64(0xFFFFFFFFFFFFFFFF)
    rho = np.ones(len(u), dtype=np.int64)
    mask = np.uint64(1 << 63)
    cur = w.copy()
    for _ in range(64 - p):
        top_zero = (cur & mask) == 0
        live = top_zero & (cur != 0)
        rho[live] += 1
        cur = np.where(top_zero, cur << np.uint64(1), cur)
    rho[w == 0] = 64 - p + 1
    regs = np.zeros(1 << p, dtype=np.uint8)
    np.maximum.at(regs, idx, np.minimum(rho, 31).astype(np.uint8))
    return regs


@pytest.mark.parametrize("p", [4, 11, 20])
def test_strm_register_roundtrip(p):
    rng = np.random.default_rng(p)
    regs = rng.integers(0, 32, size=1 << p).astype(np.uint8)
    back_p, back = strm_registers(strm_from_registers(p, regs))
    assert back_p == p
    assert np.array_equal(back, regs)


def test_strm_conversion_accuracy_10k():
    """The reference's config: p=20, n=10000 — the AgKn image converted
    from STRM bytes must estimate within +-1 of the STRM-native
    estimate, and both within the HLL error bound of the true count."""
    rng = np.random.default_rng(7)
    hashes = rng.integers(0, 2**64, size=10_000, dtype=np.uint64)
    regs = _registers_from_hashes(20, hashes)
    image = strm_from_registers(20, regs)
    native = strm_cardinality(image)
    converted = agkn_cardinality(strm_to_agkn(image))
    assert abs(round(native) - round(converted)) <= 1
    assert abs(native - 10_000) / 10_000 < 0.01  # ~3 sigma at p=20


def test_ds_to_strm_column_roundtrip(spark):
    """hll_convert(DS -> STRM) on a real aggregated sketch: registers
    survive byte-exactly (capped at the 5-bit STRM width) and the
    chained DS -> STRM -> AGKN estimate stays within the error bound."""
    from pyspark.sql import functions as F

    df = spark.range(10_000).select(F.xxhash64("id").alias("h"))
    agg = df.agg(F.hll_sketch_agg("h", F.lit(14)).alias("sk"))
    out = agg.select(
        "sk",
        hll.hll_convert("sk", "DS", "STRM").alias("strm"),
        hll.hll_cardinality("sk").alias("ds_est"),
    ).collect()[0]
    ds_lgk, ds_regs = ds_registers(bytes(out["sk"]))
    strm_p, strm_regs = strm_registers(bytes(out["strm"]))
    assert strm_p == ds_lgk == 14
    assert np.array_equal(strm_regs, np.minimum(ds_regs, 31))

    chained = agkn_cardinality(strm_to_agkn(bytes(out["strm"])))
    assert abs(chained - 10_000) / 10_000 < 0.03
    assert abs(out["ds_est"] - 10_000) / 10_000 < 0.03


def test_strm_to_agkn_column(spark):
    """hll_convert(STRM -> AGKN) as a Column over STRM images built by
    the Python writer."""
    from pyspark.sql import functions as F

    rng = np.random.default_rng(3)
    images = [
        (i, strm_from_registers(11, _registers_from_hashes(
            11, rng.integers(0, 2**64, size=n, dtype=np.uint64))))
        for i, n in ((0, 100), (1, 2_000))
    ]
    df = spark.createDataFrame(images, "id long, strm binary")
    rows = df.select(
        "id", hll.hll_convert("strm", "STRM", "AGKN").alias("agkn")
    ).collect()
    for r, (_, img) in zip(sorted(rows, key=lambda r: r["id"]), images):
        assert abs(
            agkn_cardinality(bytes(r["agkn"])) - strm_cardinality(img)
        ) <= 1


def test_sparse_and_bad_images_rejected():
    import struct

    sparse = struct.pack(">i", -2) + bytes([11, 25, 1, 0])
    with pytest.raises(NotImplementedError, match="SPARSE"):
        strm_registers(sparse)
    v1 = struct.pack(">i", -1) + bytes([11, 0, 0, 0])
    with pytest.raises(ValueError, match="version"):
        strm_registers(v1)


def test_resolve_backend_conversion_formats(spark):
    assert resolve_backend("STRM") == "STRM"
    assert resolve_backend("StreamLib") == "STRM"
    assert resolve_backend("AGKN") == "AGKN"

"""The nine-function HLL sketch algebra, PySpark-native.

Re-expresses the reference's product surface (reference
alchemy/.../hll/HLLFunctionRegistration.scala:8-18, DSL
hll/HLLFunctions.scala:676-792) on top of Spark >=3.5's built-in
Datasketches HLL expressions, keeping 100% of aggregation inside
codegen'd Catalyst operators:

  ===========================  =====================================
  reference SQL name           engine implementation
  ===========================  =====================================
  hll_init                     Arrow UDF over the one per-row sketch
                               kernel (sketch_codec.row_images; no
                               shuffle) fed the JVM cardinality hash
  hll_init_collection          same kernel, per collection element
  hll_init_agg                 hll_sketch_agg  (+ null-algebra guard)
  hll_init_collection_agg      hll_union_agg over per-row collection
                               sketches
  hll_merge                    hll_union_agg   (+ null-algebra guard)
  hll_row_merge                hll_union folded with null-skip
  hll_cardinality              hll_sketch_estimate
  hll_intersect_cardinality    inclusion-exclusion composition
  hll_convert                  Arrow UDF over one (from, to) table of
                               byte transcoders (agkn.py, strm.py)
  ===========================  =====================================

Null algebra reproduced from the reference:
* aggregates skip null inputs; an empty / all-null group yields a NULL
  sketch, not an empty one (HLLFunctions.scala:135-142, :158-159);
* scalar init of NULL -> NULL (nullable = child.nullable, :192-218);
* row-merge skips null sketches, all-null row -> NULL (:486-499);
* intersection: both NULL -> NULL, one NULL -> 0 (:604-611).

All value inputs are first normalized to a 64-bit "cardinality hash"
(see ``hashing.py``) so that every Spark type — including arrays, maps
and structs, which Spark's built-in sketch functions reject — sketches
consistently across the scalar (Python) and aggregate (JVM) paths.
"""

from __future__ import annotations

import functools

import numpy as np
import pyarrow as pa  # module-level: arrow_udf type hints resolve here
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import arrow_udf

from ..conf import (
    DEFAULT_RELATIVE_SD,
    precision_from_error,
    resolve_backend,
)
from . import agkn, strm
from .hashing import BINARY_SEED, cardinality_hash, element_hashes
from .pyxxh import hash_arrow_values, xxh64_long
from .sketch_codec import row_images, sketch_bytes_from_hashes_vec, union_images

__all__ = [
    "hll_init",
    "hll_init_collection",
    "hll_init_agg",
    "hll_init_collection_agg",
    "hll_merge",
    "hll_row_merge",
    "hll_cardinality",
    "hll_intersect_cardinality",
    "hll_convert",
    "BoundHLL",
    "bound_hll",
    "register",
]


def _col(c) -> Column:
    return c if isinstance(c, Column) else F.col(c)


def _lg_k(relative_sd: float | None) -> int:
    """Error resolution with the reference's precedence: explicit arg >
    session conf (``spark.alchemy.hll.relativeSD``) > 0.05 default
    (reference HLLFunctions.scala:24-61)."""
    if relative_sd is None:
        from pyspark.sql import SparkSession

        from ..conf import DEFAULT_ERROR_CONF_KEY

        spark = SparkSession.getActiveSession()
        if spark is not None:
            conf_sd = spark.conf.get(DEFAULT_ERROR_CONF_KEY, None)
            if conf_sd is not None:
                relative_sd = float(conf_sd)
    return precision_from_error(
        DEFAULT_RELATIVE_SD if relative_sd is None else relative_sd
    )


# ---------------------------------------------------------------------------
# Per-row scalar init (Arrow-batched sketch-byte writer; zero shuffle)
# ---------------------------------------------------------------------------


@functools.lru_cache(maxsize=None)
def _init_udf(lg_k: int, collection: bool, raw: bool):
    """The per-row init Arrow UDF of both surfaces: one image per row of
    the row's value, or with ``collection`` of its non-null elements.
    The DataFrame API feeds it the JVM ``cardinality_hash`` /
    ``element_hashes`` BIGINTs; the SQL names feed it ``raw`` values,
    hashed here by :mod:`.pyxxh` bit-identically.  NULL in -> NULL out."""

    @arrow_udf("binary")
    def init(v: pa.Array) -> pa.Array:
        v = v.combine_chunks() if isinstance(v, pa.ChunkedArray) else v
        flat = pc.list_flatten(v) if collection else v
        rows = pc.list_parent_indices(v) if collection else pa.array(np.arange(len(v)))
        if flat.null_count:
            valid = pc.is_valid(flat)
            flat, rows = flat.filter(valid), rows.filter(valid)
        hashes = (
            hash_arrow_values(flat, xxh64_long(BINARY_SEED))
            if raw
            else flat.to_numpy(zero_copy_only=False)
        )
        nulls = v.is_null().to_numpy(zero_copy_only=False)
        return row_images(hashes, rows.to_numpy(zero_copy_only=False), len(v), nulls, lg_k)

    return init


def hll_init(col, relative_sd: float | None = None, dtype: T.DataType | None = None) -> Column:
    """Per-row sketch of one value; NULL in -> NULL out.

    reference: HyperLogLogInitSimple, HLLFunctions.scala:192-218.
    ``dtype`` is required only for array/map/struct inputs.
    """
    return _init_udf(_lg_k(relative_sd), False, False)(cardinality_hash(col, dtype))


def hll_init_collection(
    col, relative_sd: float | None = None, dtype: T.DataType | None = None
) -> Column:
    """Per-row sketch of a collection's *elements* (map: k->v entries).

    Null elements are skipped, an empty collection yields a cardinality-0
    sketch, a NULL collection yields NULL.
    reference: HyperLogLogInitCollection, HLLFunctions.scala:294-321,
    offer logic :103-124.
    """
    return _init_udf(_lg_k(relative_sd), True, False)(element_hashes(col, dtype))


# ---------------------------------------------------------------------------
# Aggregates (pure JVM: Datasketches TypedImperativeAggregate + codegen)
# ---------------------------------------------------------------------------


def hll_init_agg(
    col, relative_sd: float | None = None, dtype: T.DataType | None = None
) -> Column:
    """One sketch per group from raw values; empty/all-null group -> NULL.

    reference: HyperLogLogInitSimpleAgg, HLLFunctions.scala:240-273.
    """
    c = _col(col)
    lg_k = _lg_k(relative_sd)
    h = cardinality_hash(c, dtype)
    return F.when(
        F.count(h) > 0, F.hll_sketch_agg(h, F.lit(lg_k))
    ).otherwise(F.lit(None).cast("binary"))


def hll_init_collection_agg(
    col, relative_sd: float | None = None, dtype: T.DataType | None = None
) -> Column:
    """One sketch per group from all elements of all collections.

    reference: HyperLogLogInitCollectionAgg, HLLFunctions.scala:343-377.
    Composition: per-row collection sketches unioned by the JVM
    aggregate.  NULL collections are skipped; a group of only NULLs (or
    no rows) -> NULL; empty collections contribute empty sketches, so a
    group of them -> cardinality-0 sketch (matching the reference's
    offer semantics).
    """
    sk = hll_init_collection(col, relative_sd, dtype)
    return hll_merge(sk)


def hll_merge(col) -> Column:
    """Union many sketches into one (the reaggregation operator).

    Skips NULL sketches; no non-null input -> NULL.
    reference: HyperLogLogMerge, HLLFunctions.scala:396-439.
    """
    c = _col(col)
    return F.when(
        F.count(c) > 0, F.hll_union_agg(c, F.lit(True))
    ).otherwise(F.lit(None).cast("binary"))


def hll_row_merge(*cols) -> Column:
    """Variadic scalar union of N sketch columns within one row.

    NULL sketches are skipped; all-NULL -> NULL.
    reference: HyperLogLogRowMerge, HLLFunctions.scala:458-505.
    """
    if not cols:
        raise ValueError("hll_row_merge requires at least one column")
    acc = _col(cols[0])
    for nxt in cols[1:]:
        n = _col(nxt)
        acc = (
            F.when(acc.isNull(), n)
            .when(n.isNull(), acc)
            .otherwise(F.hll_union(acc, n, True))
        )
    return acc


def hll_cardinality(col) -> Column:
    """Sketch -> estimated distinct count; NULL -> NULL.

    reference: HyperLogLogCardinality, HLLFunctions.scala:523-544.
    """
    return F.hll_sketch_estimate(_col(col))


def hll_intersect_cardinality(left, right) -> Column:
    """Inclusion-exclusion intersection estimate.

    ``max(|A| + |B| - |A u B|, 0)``; both NULL -> NULL, one NULL -> 0.
    reference: HyperLogLogIntersectionCardinality,
    HLLFunctions.scala:573-618 (:604-611 for the null rules).
    """
    a, b = _col(left), _col(right)
    est = F.greatest(
        F.hll_sketch_estimate(a)
        + F.hll_sketch_estimate(b)
        - F.hll_sketch_estimate(F.hll_union(a, b, True)),
        F.lit(0).cast("long"),
    )
    return (
        F.when(a.isNull() & b.isNull(), F.lit(None).cast("long"))
        .when(a.isNull() | b.isNull(), F.lit(0).cast("long"))
        .otherwise(est)
    )


def hll_convert(col, impl_from: str = "DS", impl_to: str = "AGKN") -> Column:
    """Convert sketch bytes between backend formats, register-by-register.

    Supported: DS -> AGKN (postgresql-hll compatible), STRM -> AGKN
    (the reference's own conversion, HLLFunctions.scala:641-670; codec
    hll/package.scala:15-61), and DS -> STRM (export for consumers
    reading stream-lib bytes).  Converted sketches estimate the same
    cardinality but must never be MERGED with natively-built sketches
    of the other system (different input hashes —
    HLLFunctions.scala:628-630).  Format names are case-insensitive and
    ``StreamLib`` means ``STRM``, as for the SQL ``hll_convert``.
    """
    return _convert_udf(impl_from, impl_to)(_col(col))


#: The one conversion table: normalized (from, to) format names -> byte
#: transcoder.  Both ``hll_convert`` surfaces resolve through it.
_CONVERSIONS = {
    ("DS", "AGKN"): agkn.ds_to_agkn,
    ("STRM", "AGKN"): strm.strm_to_agkn,
    ("DS", "STRM"): strm.ds_to_strm,
}


@functools.lru_cache(maxsize=None)
def _converter(impl_from: str | None, impl_to: str | None):
    key = (resolve_backend(impl_from), resolve_backend(impl_to))
    if key not in _CONVERSIONS:
        raise ValueError(
            f"Conversion from {impl_from!r} to {impl_to!r} is not supported "
            "(DS -> AGKN, STRM -> AGKN, DS -> STRM)."
        )
    return _CONVERSIONS[key]


@functools.lru_cache(maxsize=None)
def _convert_udf(impl_from: str, impl_to: str):
    """Arrow UDF converting sketch bytes for one (from, to) pair; raises
    at once on an unsupported pair.  Its one sketch argument lets Spark
    fuse chained conversions into one Python stage."""
    convert = _converter(impl_from, impl_to)

    @arrow_udf("binary")
    def udf(sk: pa.Array) -> pa.Array:
        return pa.array([None if b is None else convert(b) for b in sk.to_pylist()], type=pa.binary())

    return udf


@functools.lru_cache(maxsize=None)
def agkn_cardinality_udf():
    """Arrow UDF: AgKn FULL bytes -> rounded estimate, NULL -> NULL
    (mirrors postgresql-hll's ``hll_cardinality``, which the reference's
    interop test reads back from Postgres — PostgresInteropTest.scala:88-98).
    ``register`` exposes it as the SQL ``agkn_cardinality``."""

    @arrow_udf("bigint")
    def estimate(images: pa.Array) -> pa.Array:
        out = [None if b is None else round(agkn.agkn_cardinality(b)) for b in images.to_pylist()]
        return pa.array(out, type=pa.int64())

    return estimate


# ---------------------------------------------------------------------------
# BoundHLL: fix the error rate once (reference hll/BoundHLL.scala:12-58)
# ---------------------------------------------------------------------------


class BoundHLL:
    """All ``hll_init*`` variants with the error bound fixed up front."""

    def __init__(self, relative_sd: float):
        precision_from_error(relative_sd)  # eager validation, like the reference
        self.relative_sd = relative_sd

    def hll_init(self, col, dtype=None) -> Column:
        return hll_init(col, self.relative_sd, dtype)

    def hll_init_collection(self, col, dtype=None) -> Column:
        return hll_init_collection(col, self.relative_sd, dtype)

    def hll_init_agg(self, col, dtype=None) -> Column:
        return hll_init_agg(col, self.relative_sd, dtype)

    def hll_init_collection_agg(self, col, dtype=None) -> Column:
        return hll_init_collection_agg(col, self.relative_sd, dtype)

    # error-independent functions pass through for convenience
    hll_merge = staticmethod(hll_merge)
    hll_row_merge = staticmethod(hll_row_merge)
    hll_cardinality = staticmethod(hll_cardinality)
    hll_intersect_cardinality = staticmethod(hll_intersect_cardinality)


def bound_hll(relative_sd: float) -> BoundHLL:
    return BoundHLL(relative_sd)


# ---------------------------------------------------------------------------
# SQL registration
# ---------------------------------------------------------------------------


def register(spark) -> None:
    """Register ALL NINE reference SQL names on a session, so
    ``spark.sql("SELECT hll_init_agg(x) ... GROUP BY g")`` resolves the
    same surface as the reference's registry
    (expressions/NativeFunctionRegistration.scala:13-85, name list
    HLLFunctionRegistration.scala:8-18).

    Two tiers:

    * ``hll_cardinality`` / ``hll_intersect_cardinality`` /
      ``hll_row_merge`` are SQL macros over the JVM built-ins — fully
      Catalyst-inlined, zero Python.
    * the init/aggregate/convert forms are Arrow UDFs / UDAFs hashing
      with :mod:`pyxxh` (bit-identical to the JVM ``cardinality_hash``),
      so SQL-built sketches MERGE correctly with DataFrame-built ones.
      ``hll_init`` / ``hll_init_collection`` are the DataFrame API's own
      per-row UDF (one :func:`.sketch_codec.row_images` kernel) fed raw
      values instead of JVM hashes, so both surfaces write byte-identical
      images; ``hll_convert`` resolves per row through the DataFrame
      API's conversion table, and ``agkn_cardinality`` is the very UDF
      the battery applies to DataFrame columns.
      Note the UDAF forms materialize each group's values (no partial
      aggregation — a Spark grouped-agg UDF limitation); they are the
      SQL *compatibility* surface.  The DataFrame API
      (``hll_init_agg``/``hll_merge`` above) stays on codegen'd JVM
      aggregates and is the path for heavy pipelines.
    """
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hll_cardinality(sk BINARY) "
        "RETURNS BIGINT RETURN hll_sketch_estimate(sk)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hll_intersect_cardinality("
        "a BINARY, b BINARY) RETURNS BIGINT RETURN "
        "CASE WHEN a IS NULL AND b IS NULL THEN CAST(NULL AS BIGINT) "
        "WHEN a IS NULL OR b IS NULL THEN 0L "
        "ELSE greatest(hll_sketch_estimate(a) + hll_sketch_estimate(b) "
        "- hll_sketch_estimate(hll_union(a, b, true)), 0L) END"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION hll_row_merge(a BINARY, b BINARY) "
        "RETURNS BINARY RETURN CASE WHEN a IS NULL THEN b WHEN b IS NULL THEN a "
        "ELSE hll_union(a, b, true) END"
    )
    lg_k = _lg_k(None)  # error resolution at registration time
    bin_seed = xxh64_long(BINARY_SEED)

    @arrow_udf("binary")
    def _sql_init_agg(v: pa.Array) -> bytes:
        hashes = hash_arrow_values(v, bin_seed)
        if len(hashes) == 0:
            return None  # empty / all-null group -> NULL sketch
        return sketch_bytes_from_hashes_vec(hashes, lg_k)

    @arrow_udf("binary")
    def _sql_init_collection_agg(v: pa.Array) -> bytes:
        v = v.combine_chunks() if isinstance(v, pa.ChunkedArray) else v
        if v.null_count == len(v):
            return None  # only NULL collections -> NULL sketch
        # flatten() drops null lists; null ELEMENTS are skipped by the
        # hash layer — matching element_hashes / the reference's offers
        return sketch_bytes_from_hashes_vec(
            hash_arrow_values(v.flatten(), bin_seed), lg_k
        )

    @arrow_udf("binary")
    def _sql_merge(v: pa.Array) -> bytes:
        return union_images(v.to_pylist())

    @arrow_udf("binary")
    def _sql_convert(sk: pa.Array, impl_from: pa.Array, impl_to: pa.Array) -> pa.Array:
        names = zip(impl_from.to_pylist(), impl_to.to_pylist())
        out = [None if b is None else _converter(f, t)(b) for b, (f, t) in zip(sk.to_pylist(), names)]
        return pa.array(out, type=pa.binary())

    spark.udf.register("hll_init_agg", _sql_init_agg)
    spark.udf.register("hll_init_collection_agg", _sql_init_collection_agg)
    spark.udf.register("hll_merge", _sql_merge)
    spark.udf.register("hll_init", _init_udf(lg_k, False, True))
    spark.udf.register("hll_init_collection", _init_udf(lg_k, True, True))
    spark.udf.register("hll_convert", _sql_convert)
    spark.udf.register("agkn_cardinality", agkn_cardinality_udf())

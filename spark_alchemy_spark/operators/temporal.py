"""Temporal operators: as-of join, range pair join, sessionization,
longest streak, EWMA — each in an exact single-window form AND a
skew-resilient bucketed form.

The reference delegates all joins to stock Spark (SURVEY.md §2.2);
these add the time-series operators Spark lacks as built-ins,
expressed so Catalyst keeps them shuffle-minimal:

* ``as_of_join`` — one shuffle on the join key via the union+window
  trick (no per-row range explosion, no broadcast of the big side).
* ``range_pair_join`` — equi-join on the key plus range predicates;
  Catalyst plans a shuffled hash/sort-merge join on the key and the
  band condition stays a cheap post-join filter.
* ``sessionize`` — lag + cumulative-sum gap sessionization, one
  window shuffle per key.
* ``longest_streak`` — gap-group run detection, one shuffle, all
  codegen.
* ``ewma`` — per-key Arrow scan of the literal recurrence.

The ``*_bucketed`` variants answer the 100 TB hot-key question: an
ordered per-key window puts one key's ENTIRE history in one task, and
AQE cannot split an ordered window.  Each bucketed form partitions by
(key, time-bucket), reduces every bucket to a constant-size summary,
and stitches buckets per key over the summary table (#buckets rows) —
sessions merge at boundaries, streak runs chain suffix-to-prefix,
as-of carries fall back across buckets, EWMA factors its linear
recurrence.  All are property-tested equal to their exact forms
(EWMA to float-regrouping tolerance).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
    tolerance: Column | None = None,
    tie_break: str | None = None,
    direction: str = "backward",
) -> DataFrame:
    """As-of join: each left row picks the closest right row for the
    same ``on`` key — the most recent with ``right_ts <= left_ts``
    (``direction="backward"``, default) or the earliest with
    ``right_ts >= left_ts`` (``direction="forward"``).

    Implementation: tag both inputs, union them on a shared timeline,
    and carry the latest right payload forward with
    ``last(..., ignorenulls=True)`` over a per-key window — a single
    shuffle on ``on`` regardless of how many right rows precede each
    left row.  At equal timestamps right rows sort before left rows
    (inclusive semantics); ties among right rows resolve to the largest
    ``tie_break`` value.

    Left rows with no preceding right row keep a NULL payload
    (drop with ``.filter(...isNotNull())`` for inner semantics).
    ``tolerance`` (an interval Column) discards matches older than
    ``left_ts - tolerance``.

    Right payload columns must not collide with left column names — the
    output carries both sides flat, so a collision would silently
    overwrite the left value; rename/alias on the right side first.
    """
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward/forward, got {direction!r}")
    right_cols = right_cols or [c for c in right.columns if c not in (on, right_ts)]
    collisions = sorted(set(right_cols) & set(left.columns))
    if collisions:
        raise ValueError(
            f"as_of_join: right payload column(s) {collisions} collide with "
            "left columns; alias them on the right DataFrame (e.g. "
            ".withColumnRenamed) before joining"
        )
    payload = F.struct(F.col(right_ts).alias("__rts"), *[F.col(c) for c in right_cols])

    # forward = the same one-shuffle carry, scanning time reversed;
    # right rows still sort before left at equal timestamps (inclusive)
    ts_order = F.col("__t") if direction == "backward" else F.col("__t").desc()
    order_cols = [ts_order, F.col("__src")]
    if tie_break:
        order_cols.append(F.col("__tie").asc_nulls_first())
        r = right.select(
            F.col(on).alias(on),
            F.col(right_ts).alias("__t"),
            F.lit(0).alias("__src"),
            F.col(tie_break).alias("__tie"),
            payload.alias("__payload"),
        )
        l = left.select(
            "*",
            F.col(left_ts).alias("__t"),
            F.lit(1).alias("__src"),
            F.lit(None).alias("__tie"),
            F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        )
    else:
        r = right.select(
            F.col(on).alias(on),
            F.col(right_ts).alias("__t"),
            F.lit(0).alias("__src"),
            payload.alias("__payload"),
        )
        l = left.select(
            "*",
            F.col(left_ts).alias("__t"),
            F.lit(1).alias("__src"),
            F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        )

    # Align schemas: union by name with missing left columns nulled on right.
    lcols = [c for c in l.columns]
    r_full = r.select(
        *[
            F.col(c) if c in r.columns else F.lit(None).cast(l.schema[c].dataType).alias(c)
            for c in lcols
        ]
    )
    u = l.unionByName(r_full)

    w = (
        Window.partitionBy(on)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    picked = u.withColumn("__match", F.last("__payload", ignorenulls=True).over(w))
    out = picked.filter(F.col("__src") == 1)
    if tolerance is not None:
        in_tol = (
            F.col("__match.__rts") >= F.col("__t") - tolerance
            if direction == "backward"
            else F.col("__match.__rts") <= F.col("__t") + tolerance
        )
        out = out.withColumn("__match", F.when(in_tol, F.col("__match")))
    keep = [c for c in left.columns]
    for c in right_cols:
        out = out.withColumn(c, F.col(f"__match.{c}"))
    return out.select(*keep, *right_cols)


def as_of_join_bucketed(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    right_cols: list[str] | None = None,
    tolerance: Column | None = None,
    tie_break: str | None = None,
    direction: str = "backward",
    bucket: Column | None = None,
) -> DataFrame:
    """Skew-resilient :func:`as_of_join`: identical matches, but the
    carry window partitions by (key, time-bucket) instead of key — a
    viral key (one hot symbol holding most of a 100 TB tape) spreads
    across buckets instead of pinning one sorted task.

    Rows first match within their own bucket (same union+carry trick,
    narrower partitions).  Rows whose bucket holds no preceding right
    row fall back to the previous buckets' carry: each bucket's FINAL
    carried payload (computed by the same window, so tie resolution is
    identical) is summarized to one row per (key, bucket), and a
    per-key ``last(ignorenulls)`` over strictly-earlier buckets (in
    time order; reversed for ``direction="forward"``) supplies the
    fallback.  The summary table is #buckets rows per key, so the
    cross-bucket pass is negligible; everything stays JVM window
    algebra.

    ``bucket`` is an expression over the shared timeline column ``__t``
    exposed to it via :func:`pyspark.sql.functions.col`; default
    ``date_trunc('day', __t)``.  Must be monotone in ``__t``.  Same
    determinism contract as :func:`as_of_join`: equal right timestamps
    need ``tie_break`` for a deterministic pick."""
    if direction not in ("backward", "forward"):
        raise ValueError(f"direction must be backward/forward, got {direction!r}")
    right_cols = right_cols or [c for c in right.columns if c not in (on, right_ts)]
    collisions = sorted(set(right_cols) & set(left.columns))
    if collisions:
        raise ValueError(
            f"as_of_join_bucketed: right payload column(s) {collisions} "
            "collide with left columns; alias them on the right DataFrame "
            "first"
        )
    payload = F.struct(F.col(right_ts).alias("__rts"), *[F.col(c) for c in right_cols])

    ts_order = F.col("__t") if direction == "backward" else F.col("__t").desc()
    order_cols = [ts_order, F.col("__src")]
    if tie_break:
        order_cols.append(F.col("__tie").asc_nulls_first())
        r = right.select(
            F.col(on).alias(on),
            F.col(right_ts).alias("__t"),
            F.lit(0).alias("__src"),
            F.col(tie_break).alias("__tie"),
            payload.alias("__payload"),
        )
        l = left.select(
            "*",
            F.col(left_ts).alias("__t"),
            F.lit(1).alias("__src"),
            F.lit(None).alias("__tie"),
            F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        )
    else:
        r = right.select(
            F.col(on).alias(on),
            F.col(right_ts).alias("__t"),
            F.lit(0).alias("__src"),
            payload.alias("__payload"),
        )
        l = left.select(
            "*",
            F.col(left_ts).alias("__t"),
            F.lit(None).cast(r.schema["__payload"].dataType).alias("__payload"),
        )
        l = l.withColumn("__src", F.lit(1))
    lcols = list(l.columns)
    r_full = r.select(
        *[
            F.col(c)
            if c in r.columns
            else F.lit(None).cast(l.schema[c].dataType).alias(c)
            for c in lcols
        ]
    )
    b = bucket if bucket is not None else F.date_trunc("day", F.col("__t"))
    u = l.unionByName(r_full).withColumn("__bkt", b)

    w_cur = (
        Window.partitionBy(on, "__bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = (
        Window.partitionBy(on, "__bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    picked = u.withColumn(
        "__match", F.last("__payload", ignorenulls=True).over(w_cur)
    ).withColumn("__bkt_final", F.last("__payload", ignorenulls=True).over(w_all))

    # one row per (key, bucket): the bucket's final carry; then the
    # strictly-previous buckets' carry per bucket (time order, reversed
    # for forward)
    summ = picked.groupBy(on, "__bkt").agg(
        F.any_value("__bkt_final", True).alias("__lat")
    )
    bkt_ord = F.col("__bkt") if direction == "backward" else F.col("__bkt").desc()
    w_prev = (
        Window.partitionBy(on)
        .orderBy(bkt_ord)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = summ.withColumn(
        "__prev", F.last("__lat", ignorenulls=True).over(w_prev)
    ).select(on, "__bkt", "__prev")

    out = (
        picked.filter(F.col("__src") == 1)
        .join(carry, [on, "__bkt"])
        .withColumn("__match", F.coalesce(F.col("__match"), F.col("__prev")))
    )
    if tolerance is not None:
        in_tol = (
            F.col("__match.__rts") >= F.col("__t") - tolerance
            if direction == "backward"
            else F.col("__match.__rts") <= F.col("__t") + tolerance
        )
        out = out.withColumn("__match", F.when(in_tol, F.col("__match")))
    keep = list(left.columns)
    for c in right_cols:
        out = out.withColumn(c, F.col(f"__match.{c}"))
    return out.select(*keep, *right_cols)


def range_pair_join(
    df: DataFrame,
    key: str,
    ts: str,
    max_gap: Column,
    id_col: str,
) -> DataFrame:
    """Ordered pairs of rows sharing ``key`` with
    ``ts_a < ts_b <= ts_a + max_gap``.

    Equi-join on ``key`` (one shuffle, sort-merge/shuffled-hash) with
    the band predicate applied as a join condition — no cartesian.
    Returns columns ``<id_col>_a``, ``<id_col>_b``, ``key``.
    """
    a = df.select(F.col(key), F.col(ts).alias("__ta"), F.col(id_col).alias(f"{id_col}_a"))
    b = df.select(F.col(key), F.col(ts).alias("__tb"), F.col(id_col).alias(f"{id_col}_b"))
    joined = a.join(b, on=key).filter(
        (F.col("__tb") > F.col("__ta")) & (F.col("__tb") <= F.col("__ta") + max_gap)
    )
    return joined.select(key, f"{id_col}_a", f"{id_col}_b")


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    session_col: str = "session_id",
) -> DataFrame:
    """Assign gap-based session ids per key (new session when the gap
    from the previous event exceeds ``gap_seconds``).

    Batch analogue of Structured Streaming's ``session_window``
    (streaming variant in ``spark_alchemy_spark.streaming``): lag +
    cumulative sum over one per-key window shuffle.
    """
    w = Window.partitionBy(key).orderBy(ts)
    prev = F.lag(F.col(ts)).over(w)
    new_session = (
        prev.isNull()
        | (F.unix_timestamp(F.col(ts)) - F.unix_timestamp(prev) > gap_seconds)
    ).cast("long")
    return df.withColumn(session_col, F.sum(new_session).over(w))


def sessionize_bucketed(
    df: DataFrame,
    key: str,
    ts: str,
    gap_seconds: int,
    bucket: Column | None = None,
    session_col: str = "session_id",
) -> DataFrame:
    """Skew-resilient :func:`sessionize`: identical per-key session ids
    (1..n in time order), but no task ever sorts one key's full
    history.

    Sessions are detected inside (key, time-bucket) partitions, then a
    per-key window over the BUCKET SUMMARIES (#buckets rows, tiny)
    decides where a bucket's first session continues the previous
    bucket's last one (boundary gap <= ``gap_seconds``) and assigns
    each bucket a session-id offset: ``global = offset + local`` with
    ``offset = sessions-in-earlier-buckets − boundary-merges-so-far``.
    Everything stays JVM window algebra — the heavy sort parallelism
    is keys x buckets, the per-key state is one summary row per
    bucket.  ``bucket`` defaults to day-truncation of ``ts`` and must
    be monotone in it."""
    b = bucket if bucket is not None else F.date_trunc("day", F.col(ts))
    src = df.withColumn("__bkt", b)
    w = Window.partitionBy(key, "__bkt").orderBy(ts)
    prev = F.lag(F.col(ts)).over(w)
    new_session = (
        prev.isNull()
        | (F.unix_timestamp(F.col(ts)) - F.unix_timestamp(prev) > gap_seconds)
    ).cast("long")
    rows = src.withColumn("__s_local", F.sum(new_session).over(w))
    summ = rows.groupBy(key, "__bkt").agg(
        F.max("__s_local").alias("__n_sessions"),
        F.min(ts).alias("__first"),
        F.max(ts).alias("__last"),
    )
    ws = Window.partitionBy(key).orderBy("__bkt")
    prev_last = F.lag(F.col("__last")).over(ws)
    merged = (
        prev_last.isNotNull()
        & (
            F.unix_timestamp(F.col("__first")) - F.unix_timestamp(prev_last)
            <= gap_seconds
        )
    ).cast("long")
    offsets = (
        summ.withColumn("__m", merged)
        .withColumn(
            "__cum_prev",
            F.coalesce(
                F.sum("__n_sessions").over(
                    ws.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
        .withColumn(
            "__cum_m",
            F.sum("__m").over(ws.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .select(
            key,
            "__bkt",
            (F.col("__cum_prev") - F.col("__cum_m")).alias("__off"),
        )
    )
    return (
        rows.join(offsets, [key, "__bkt"])
        .withColumn(session_col, F.col("__off") + F.col("__s_local"))
        .drop("__bkt", "__s_local", "__off")
    )


def longest_streak(
    df: DataFrame,
    key: str,
    value_col: str,
    order_cols: list[str],
) -> DataFrame:
    """Per-key longest run of consecutive identical ``value_col``
    values in ``order_cols`` order — the production (all-JVM) form of
    ``functions.udtfs.LongestStreak``.

    Returns (key, best_type, best_streak, n_rows); ties resolve to the
    run seen first in order (same contract as the UDTF).  Entirely
    whole-stage-codegen window algebra with ONE exchange: the gap-group
    trick (break flag -> cumulative sum) tags runs, then the run-length
    and best-run windows partition by supersets of ``key``, which
    Spark's EnsureRequirements satisfies with the existing
    hashpartitioning(key) — they add sorts, not shuffles.  At 100 TB
    the cost is one shuffle of the event columns plus per-partition
    sorts; no Python boundary anywhere (the UDTF variant pays a
    per-row pickle round-trip, kept only as the Spark 4 table-function
    API demonstration)."""
    w = Window.partitionBy(key).orderBy(*order_cols)
    prev = F.lag(F.col(value_col)).over(w)
    brk = F.when(F.col(value_col).eqNullSafe(prev), F.lit(0)).otherwise(F.lit(1))
    g = df.select(key, value_col, *order_cols).withColumn(
        "__grp",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    w_run = Window.partitionBy(key, value_col, "__grp")
    runs = (
        g.withColumn("__rn", F.row_number().over(w_run.orderBy(*order_cols)))
        .withColumn("__len", F.count(F.lit(1)).over(w_run))
        .filter(F.col("__rn") == 1)
    )
    w_key = Window.partitionBy(key)
    w_best = w_key.orderBy(F.col("__len").desc(), *order_cols)
    return (
        runs.withColumn("__n", F.sum("__len").over(w_key))
        .withColumn("__brn", F.row_number().over(w_best))
        .filter(F.col("__brn") == 1)
        .select(
            key,
            F.col(value_col).alias("best_type"),
            F.col("__len").cast("int").alias("best_streak"),
            F.col("__n").cast("int").alias("n_rows"),
        )
    )


def longest_streak_bucketed(
    df: DataFrame,
    key: str,
    value_col: str,
    ts_col: str,
    tiebreak_col: str,
    bucket: Column | None = None,
) -> DataFrame:
    """Skew-resilient ``longest_streak``: identical output, but no
    single task ever holds one key's full history.

    ``longest_streak`` sorts each key's events inside ONE partition —
    correct, but a viral key (10^9 events for one user at 100 TB) pins
    a task, and ordered windows cannot be AQE-split.  This variant
    partitions by (key, time-bucket) instead: each bucket computes a
    constant-size run summary (row count, prefix/suffix/best run with
    run-start tie-break pairs), and a per-key merge folds the bucket
    summaries in time order — runs spanning buckets re-join through
    suffix+prefix chains (a run crossing k>2 buckets passes through
    pure single-run middle buckets).  The merge input is #buckets rows
    per key, so the Arrow ``applyInPandas`` fold is negligible and the
    heavy sort parallelism is keys x buckets.

    ``bucket`` defaults to ``date_trunc('day', ts_col)``; any
    expression MONOTONE in (ts order) works.  Ties inside a timestamp
    must stay within one bucket, which holds for any ts-derived
    bucket.

    Order-key contract (narrower than the exact ``longest_streak``,
    which accepts ANY orderable types): ``ts_col`` and ``tiebreak_col``
    must be timestamp / timestamp_ntz / date / integral — the merge
    fold encodes both as longs.  Anything else (e.g. a string
    tiebreak) raises ValueError up front instead of failing the ANSI
    cast mid-job (or silently NULL-mis-ordering with ANSI off)."""
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    b = bucket if bucket is not None else F.date_trunc("day", F.col(ts_col))
    order_cols = [ts_col, tiebreak_col]
    src = df.select(
        key, value_col, ts_col, tiebreak_col, b.alias("__bkt")
    )
    w = Window.partitionBy(key, "__bkt").orderBy(*order_cols)
    prev = F.lag(F.col(value_col)).over(w)
    brk = F.when(F.col(value_col).eqNullSafe(prev), F.lit(0)).otherwise(F.lit(1))
    g = src.withColumn(
        "__grp",
        F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    runs = g.groupBy(key, "__bkt", value_col, "__grp").agg(
        F.count(F.lit(1)).alias("__len"),
        F.min(F.struct(F.col(ts_col).alias("t"), F.col(tiebreak_col).alias("e"))).alias(
            "__start"
        ),
    )
    # constant-size per-bucket summary: prefix run (min start), suffix
    # run (max start), best run (len desc, start asc), row/run counts
    summaries = runs.groupBy(key, "__bkt").agg(
        F.sum("__len").alias("n_rows"),
        F.count(F.lit(1)).alias("n_runs"),
        F.min(
            F.struct("__start", F.col("__len"), F.col(value_col).alias("v"))
        ).alias("pre"),
        F.max(
            F.struct("__start", F.col("__len"), F.col(value_col).alias("v"))
        ).alias("suf"),
        F.min(
            F.struct(
                (-F.col("__len")).alias("nl"),
                F.col("__start"),
                F.col(value_col).alias("v"),
            )
        ).alias("best"),
    )
    from pyspark.sql.types import (
        DateType,
        IntegralType,
        TimestampNTZType,
        TimestampType,
    )

    _TS_TYPES = (TimestampType, TimestampNTZType)

    def _ord_encoder(col_name: str):
        # long-encode an order key, microsecond-exact for timestamps (a
        # plain long cast truncates to seconds and could mis-order
        # sub-second ties); NTZ casts through LTZ first (driver
        # testdata ships NTZ); dates count days.  Validated up front so
        # unsupported types (e.g. a string tiebreak the exact
        # longest_streak happily orders) fail with a clear error
        # instead of an ANSI cast failure mid-job.
        dtype = df.schema[col_name].dataType
        if isinstance(dtype, _TS_TYPES):
            return lambda c: F.unix_micros(c.cast("timestamp"))
        if isinstance(dtype, DateType):
            return lambda c: F.unix_date(c)
        if isinstance(dtype, IntegralType):
            return lambda c: c.cast("long")
        raise ValueError(
            f"longest_streak_bucketed: column {col_name!r} has type "
            f"{dtype.simpleString()}; supported order-key types are "
            "timestamp, timestamp_ntz, date, and integral numerics "
            "(use longest_streak for other orderable types)"
        )

    _ord = _ord_encoder(ts_col)
    _ord_tie = _ord_encoder(tiebreak_col)

    flat = summaries.select(
        key,
        "__bkt",
        "n_rows",
        "n_runs",
        F.col("pre.v").alias("p_v"),
        F.col("pre.__len").alias("p_len"),
        _ord(F.col("pre.__start.t")).alias("p_t"),
        _ord_tie(F.col("pre.__start.e")).alias("p_e"),
        F.col("suf.v").alias("s_v"),
        F.col("suf.__len").alias("s_len"),
        _ord(F.col("suf.__start.t")).alias("s_t"),
        _ord_tie(F.col("suf.__start.e")).alias("s_e"),
        (-F.col("best.nl")).alias("b_len"),
        F.col("best.v").alias("b_v"),
        _ord(F.col("best.__start.t")).alias("b_t"),
        _ord_tie(F.col("best.__start.e")).alias("b_e"),
    )
    bkt_ord = (
        F.unix_micros(F.col("__bkt").cast("timestamp"))
        if isinstance(flat.schema["__bkt"].dataType, _TS_TYPES)
        else F.col("__bkt").cast("long")
    )
    flat = flat.withColumn("__bkt_ord", bkt_ord)

    key_field = df.schema[key]
    val_field = df.schema[value_col]
    out_schema = StructType(
        [
            StructField(key, key_field.dataType),
            StructField("best_type", val_field.dataType),
            StructField("best_streak", IntegerType()),
            StructField("n_rows", IntegerType()),
        ]
    )

    def _eq(a, b):  # null-safe type equality (None/NaN == None/NaN)
        an, bn = pd.isna(a), pd.isna(b)
        return (an and bn) or (not an and not bn and a == b)

    # the summary columns _merge_rows folds, in its unpack order
    fold_cols = (
        "n_rows", "n_runs", "p_v", "p_len", "s_v", "s_len", "s_t", "s_e",
        "b_len", "b_v", "b_t", "b_e",
    )

    def _merge_rows(rows) -> tuple:
        """Fold one key's bucket summaries (bucket order) → (best_type,
        best_streak, n_rows).  The exact per-key fold the grouped
        applyInPandas version ran — unchanged logic, integer/object
        values only (no float order involved)."""
        best = None  # (len, start_t, start_e, type)

        def candidate(run):
            nonlocal best
            if run is None:
                return
            if (
                best is None
                or run[0] > best[0]
                or (run[0] == best[0] and (run[1], run[2]) < (best[1], best[2]))
            ):
                best = run

        carry = None
        total = 0
        for (
            n_rows, n_runs, p_v, p_len, s_v, s_len, s_t, s_e,
            b_len, b_v, b_t, b_e,
        ) in rows:
            total += int(n_rows)
            joined = None
            if carry is not None and _eq(carry[3], p_v):
                joined = (carry[0] + int(p_len), carry[1], carry[2], carry[3])
            else:
                candidate(carry)
            candidate((int(b_len), int(b_t), int(b_e), b_v))
            if joined is not None and int(n_runs) == 1:
                carry = joined  # whole bucket is one run: keep chaining
                continue
            if joined is not None:
                candidate(joined)
            carry = (int(s_len), int(s_t), int(s_e), s_v)
        candidate(carry)
        bt = best[3]
        if pd.isna(bt):
            bt = None
        return bt, int(best[0]), total

    def merge_partition(batches):
        # ONE pandas pass per PARTITION instead of one applyInPandas
        # call per KEY (r11, guide §4.2): the per-group fold is a few
        # dozen summary rows, so the grouped form's per-group pandas
        # construction dominated (measured: the merge stage was one
        # 2.2s job at sf0.1, ~all per-group overhead).  Rows arrive
        # key-clustered and bucket-sorted (repartition + sortWithin
        # below — the same shuffle the groupBy paid, plus a secondary
        # sort key that replaces the per-group sort_values); key
        # changes flush the running fold.  Buffering is one key's
        # summaries (#buckets rows) — same bound as the grouped form.
        # a key's rows can straddle Arrow batch boundaries (mapInPandas
        # gives no whole-group guarantee) — the running group carries
        # across batches and flushes only on a key CHANGE or at
        # end-of-partition
        cur_key, cur_rows, started = None, [], False
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # positional access: the key need not be a Python
            # identifier (itertuples renames such fields, and a name
            # like ``_1`` would read the wrong one)
            ki = pdf.columns.get_loc(key)
            fold_ix = [pdf.columns.get_loc(c) for c in fold_cols]
            out_k, out_t, out_b, out_n = [], [], [], []
            for row in pdf.itertuples(index=False, name=None):
                kv = row[ki]
                if started and not _eq(kv, cur_key):
                    bt, bs, tot = _merge_rows(cur_rows)
                    out_k.append(cur_key)
                    out_t.append(bt)
                    out_b.append(bs)
                    out_n.append(tot)
                    cur_rows = []
                cur_key, started = kv, True
                cur_rows.append([row[i] for i in fold_ix])
            if out_k:
                yield pd.DataFrame(
                    {
                        key: out_k,
                        "best_type": out_t,
                        "best_streak": out_b,
                        "n_rows": out_n,
                    }
                )
        if started:
            bt, bs, tot = _merge_rows(cur_rows)
            yield pd.DataFrame(
                {
                    key: [cur_key],
                    "best_type": [bt],
                    "best_streak": [bs],
                    "n_rows": [tot],
                }
            )

    return (
        flat.drop("__bkt")  # unused by the fold: don't ship it (§4.1)
        .repartition(key)
        .sortWithinPartitions(key, "__bkt_ord")
        .mapInPandas(merge_partition, out_schema)
    )


def ewma(
    df,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    order_tiebreak: str | None = None,
):
    """Per-key exponentially-weighted moving average, the classic
    order-recursive time-series feature Spark has no built-in for:

        s_1 = x_1;   s_i = alpha * x_i + (1 - alpha) * s_{i-1}

    Runs as one Arrow ``applyInPandas`` pass per key (the recurrence is
    inherently sequential WITHIN a key; keys are independent = full
    parallelism), with the loop written as the literal recurrence so a
    recursive SQL CTE replays it bit-identically (same float ops, same
    order — no pandas ``ewm`` variants, which use a different update
    form).  Adds an ``ewma`` column."""
    import pandas as pd  # noqa: F401  (applyInPandas contract)
    from pyspark.sql.types import DoubleType, StructField, StructType

    order = [ts_col] + ([order_tiebreak] if order_tiebreak else [])
    out_schema = StructType(
        list(df.schema.fields) + [StructField("ewma", DoubleType())]
    )

    def _scan(pdf):
        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        out = []
        s = None
        for x in pdf[value_col].astype("float64"):
            s = x if s is None else alpha * x + (1.0 - alpha) * s
            out.append(s)
        pdf["ewma"] = out
        return pdf

    return df.groupBy(key_col).applyInPandas(_scan, schema=out_schema)


def ewma_bucketed(
    df,
    key_col: str,
    ts_col: str,
    value_col: str,
    alpha: float,
    order_tiebreak: str | None = None,
    bucket: Column | None = None,
):
    """Skew-resilient :func:`ewma`: same recurrence, but no task scans
    one key's full history.

    The recurrence is linear, so a segment's effect factors into
    ``s_i = local0_i + (1-alpha)^i * s_init`` where ``local0`` is the
    zero-init scan of the segment — per-(key, bucket) Arrow scans
    compute ``local0`` and per-row decay, a per-key fold over the
    BUCKET SUMMARIES (end value, end decay, first x — #buckets rows)
    propagates each bucket's incoming state ``s_init``, and a JVM
    projection combines them.  The key's first bucket seeds
    ``s_init = x_1`` (the exact operator's ``s_1 = x_1`` convention).

    Results are mathematically identical but float-REGROUPED, so they
    match :func:`ewma` to ~1e-9 relative, not bit-for-bit — use the
    exact operator when bit-parity with a sequential replay matters,
    this one when a key's history exceeds a task.  ``(1-alpha)^n``
    underflows to 0 for long buckets, which is the correct limit (the
    old state is fully forgotten)."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    order = [ts_col] + ([order_tiebreak] if order_tiebreak else [])
    b = bucket if bucket is not None else F.date_trunc("day", F.col(ts_col))
    src = df.withColumn("__bkt", b)
    local_schema = StructType(
        list(src.schema.fields)
        + [StructField("__local0", DoubleType()), StructField("__rn", LongType())]
    )

    def _local(pdf):
        pdf = pdf.sort_values(order, kind="mergesort").reset_index(drop=True)
        out, s = [], 0.0
        for x in pdf[value_col].astype("float64"):
            s = alpha * x + (1.0 - alpha) * s
            out.append(s)
        pdf["__local0"] = out
        pdf["__rn"] = range(1, len(pdf) + 1)
        return pdf

    local = src.groupBy(key_col, "__bkt").applyInPandas(_local, local_schema)

    summ = local.groupBy(key_col, "__bkt").agg(
        F.max_by("__local0", "__rn").alias("__end0"),
        F.pow(F.lit(1.0 - alpha), F.max("__rn")).alias("__decay"),
        F.min_by(
            F.col(value_col).cast("double"), F.struct(*[F.col(c) for c in order])
        ).alias("__first_x"),
    )

    init_schema = StructType(
        [
            src.schema[key_col],
            src.schema["__bkt"],
            StructField("__s_init", DoubleType()),
        ]
    )

    def _fold(pdf):
        pdf = pdf.sort_values("__bkt").reset_index(drop=True)
        inits, s = [], None
        # zip, not itertuples: dunder column names get positionalized
        for e0, dec, fx in zip(
            pdf["__end0"], pdf["__decay"], pdf["__first_x"]
        ):
            if s is None:
                s = float(fx)  # s_1 = x_1 convention
            inits.append(s)
            s = float(e0) + float(dec) * s
        return pd.DataFrame(
            {
                key_col: pdf[key_col],
                "__bkt": pdf["__bkt"],
                "__s_init": inits,
            }
        )

    inits = summ.groupBy(key_col).applyInPandas(_fold, init_schema)
    return (
        local.join(inits, [key_col, "__bkt"])
        .withColumn(
            "ewma",
            F.col("__local0")
            + F.pow(F.lit(1.0 - alpha), F.col("__rn")) * F.col("__s_init"),
        )
        .drop("__bkt", "__local0", "__rn", "__s_init")
    )


def funnel_counts(
    events,
    user_col: str,
    type_col: str,
    ts_col: str,
    steps: list[str],
):
    """Ordered funnel analysis: how many users performed step 1, then
    step 2 strictly after their first step 1, then step 3 strictly
    after that, ...  Returns one row per step (step_idx, step, users).

    Each stage is a filtered min-timestamp aggregate joined on the user
    key — stages co-partition on the user after the first shuffle, and
    each stage's frontier (first qualifying timestamp) is all later
    stages need, so raw events are scanned once per step, never
    cross-joined."""
    from pyspark.sql import functions as F

    frontier = None
    rows = []
    for idx, step in enumerate(steps):
        stage = events.filter(F.col(type_col) == step).select(
            F.col(user_col).alias("__u"), F.col(ts_col).alias("__t")
        )
        if frontier is not None:
            stage = stage.join(frontier, "__u").filter(
                F.col("__t") > F.col("__ft")
            )
        frontier = stage.groupBy("__u").agg(F.min("__t").alias("__ft"))
        rows.append(
            frontier.agg(
                F.lit(idx + 1).alias("step_idx"),
                F.lit(step).alias("step"),
                F.count(F.lit(1)).alias("users"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out

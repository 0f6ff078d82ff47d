"""Battery extension, round 9: the VERDICT-r8 task list.

* ``quality_probe_model_selection`` — held-out ridge model selection
  gated end to end: a planted noisy near-collinear design where the
  validation R² peaks at a POSITIVE lambda, with every per-lambda row
  (coefficients, train R², validation R²) HUGEINT-replayed by the
  oracle and the selection invariants computed by BOTH engines
  (VERDICT r8 task 3 asked for the λ=0 row; the planted design keeps
  the intermediates small enough to replay the whole sweep).
* ``ann_ivf_upsert`` — the batch upsert API
  (``operators/similarity.py::upsert_ivf_index``): count-neutral
  replacement of standing vectors, insert-degradation for new ids,
  cold partitions byte-identical (VERDICT r8 task 4).

Same determinism conventions as queries.py.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .localframe import local_frame

from .queries import _t, query
from .queries_r6 import _probe_dets_sql, _probe_pin_sql, _probe_sums_sql

# ---------------------------------------------------------------------------
# Held-out ridge model selection (VERDICT r8 task 3)
# ---------------------------------------------------------------------------

#: The swept lambda grid.  Chosen with the planted design below so (a)
#: the validation R² peaks at an INTERIOR positive lambda at both
#: sf0.01 and sf0.1, and (b) every oracle intermediate — including the
#: ppm pins' ×1e6 — stays under HUGEINT (~1.7e38): the determinant
#: grows ~lambda² once lambda dominates the feature moments, so the
#: grid tops out at 32k (measured max magnitude 3.4e34 at sf0.01).
_MS_LAMBDAS = (0, 500, 2000, 8000, 32000)
_MS_N_TRAIN = 24

#: The PLANTED overfit design (both engines compute it identically in
#: pure integer arithmetic): x1 = words//8 is the real feature; x2 =
#: x1 + doc_id%3 is its near-collinear shadow; the label y = x1 +
#: hash-noise (a multiplicative-hash residue of n_chars, linearly
#: uncorrelated with everything) swamps the signal at n_train=24, so
#: the λ=0 OLS fit chases noise through the ill-conditioned (x1, x2)
#: split and a positive lambda wins on held-out data — train R² stays
#: monotone non-increasing (law) while validation R² peaks at λ>0.
_MS_FEATS_SQL = """
    feats AS MATERIALIZED (
      SELECT doc_id,
             len(string_split(text, ' ')) // 8 AS x1,
             len(string_split(text, ' ')) // 8 + doc_id % 3 AS x2,
             len(string_split(text, ' ')) // 8
               + (n_chars * 2654435761) % 53 AS y
      FROM documents WHERE text IS NOT NULL)"""


def _ms_trunc_ppm_sql(num: str, den: str) -> str:
    """trunc-toward-zero ppm of num/den — sign factored out BEFORE the
    division (the _probe_pin_sql convention), HUGEINT throughout."""
    return (
        f"CAST(CASE WHEN ({num} < 0) <> ({den} < 0) THEN -1 ELSE 1 END"
        f" * (abs({num}) * 1000000 // abs({den})) AS BIGINT)"
    )


def _ms_row_sql(lam: int) -> str:
    """One sweep row from the per-lambda train dets × validation sums:
    coefficients via the shared Cramer pin; train R² via the GENERAL
    det² identity (SSE·det² = syy·det² − det·Σdₖbₖ − λ·Σₖ₌₁dₖ² — the
    ridge normal equations, ``operators/probe.py::_r2_ppm_from_dets``);
    validation R² via the general quadratic form (β solves the TRAIN
    system, so no normal-equation shortcut:
    SSE_v·det² = Syy_v·det² − 2·det·Σdₖb_vₖ + Σᵢⱼdᵢdⱼ·Sv_ij,
    ``ridge_validation_sweep``)."""
    sse_t = "(syy*d*d - d*(d0*sy + d1*s1y + d2*s2y) - lam*(d1*d1 + d2*d2))"
    quad = (
        "(d0*d0*n_v + 2*d0*d1*s1_v + 2*d0*d2*s2_v"
        " + d1*d1*s11_v + 2*d1*d2*s12_v + d2*d2*s22_v)"
    )
    sse_v = f"(syy_v*d*d - 2*d*(d0*sy_v + d1*s1y_v + d2*s2y_v) + {quad})"
    r2t = _ms_trunc_ppm_sql(f"(n * {sse_t})", "(d*d*(n*syy - sy*sy))")
    r2v = _ms_trunc_ppm_sql(
        f"(n_v * {sse_v})", "(d*d*(n_v*syy_v - sy_v*sy_v))"
    )
    return f"""
    SELECT CAST({lam} AS BIGINT) AS ridge_lambda,
           CAST(n AS BIGINT) AS n_train,
           CAST(n_v AS BIGINT) AS n_val,
           {_probe_pin_sql("d0")} AS b0_ppm,
           {_probe_pin_sql("d1")} AS b1_ppm,
           {_probe_pin_sql("d2")} AS b2_ppm,
           CAST(1000000 - {r2t} AS BIGINT) AS r2_train_ppm,
           CAST(1000000 - {r2v} AS BIGINT) AS r2_val_ppm
    FROM dt{lam}, vsums"""


_MS_BEST_SQL = (
    "(SELECT min(ridge_lambda) FROM rows"
    " WHERE r2_val_ppm = (SELECT max(r2_val_ppm) FROM rows))"
)

_MS_ORACLE = f"""
    WITH {_MS_FEATS_SQL},
    pfeats AS (SELECT doc_id, x1, x2, y AS n_chars FROM feats),
    train AS MATERIALIZED (
      SELECT * FROM pfeats ORDER BY doc_id LIMIT {_MS_N_TRAIN}),
    val AS MATERIALIZED (
      SELECT * FROM pfeats
      WHERE doc_id > (SELECT max(doc_id) FROM train)),
    {_probe_sums_sql(src="train", name="sums_t")},
    {",".join(
        _probe_dets_sql(name=f"dt{lam}", src="sums_t", ridge=lam)
        for lam in _MS_LAMBDAS
    )},
    vsums AS MATERIALIZED (
      SELECT CAST(count(*) AS HUGEINT) AS n_v,
             CAST(sum(x1) AS HUGEINT) AS s1_v,
             CAST(sum(x2) AS HUGEINT) AS s2_v,
             CAST(sum(n_chars) AS HUGEINT) AS sy_v,
             CAST(sum(CAST(n_chars AS HUGEINT) * n_chars)
                  AS HUGEINT) AS syy_v,
             CAST(sum(x1 * x1) AS HUGEINT) AS s11_v,
             CAST(sum(x1 * x2) AS HUGEINT) AS s12_v,
             CAST(sum(x2 * x2) AS HUGEINT) AS s22_v,
             CAST(sum(x1 * n_chars) AS HUGEINT) AS s1y_v,
             CAST(sum(x2 * n_chars) AS HUGEINT) AS s2y_v
      FROM val),
    rows AS MATERIALIZED (
      {" UNION ALL ".join(_ms_row_sql(lam) for lam in _MS_LAMBDAS)})
    SELECT r.*,
           (NOT EXISTS (SELECT 1 FROM rows a, rows b
                        WHERE b.ridge_lambda > a.ridge_lambda
                          AND b.r2_train_ppm > a.r2_train_ppm))
             AS train_r2_monotone,
           ({_MS_BEST_SQL} > 0) AS val_peak_at_positive_lambda,
           CAST({_MS_BEST_SQL} AS BIGINT) AS best_lambda
    FROM rows r
"""


@query("quality_probe_model_selection", _MS_ORACLE)
def quality_probe_model_selection(spark, sf_dir):
    """HELD-OUT ridge model selection, gated end to end (VERDICT r8
    task 3: ``ridge_validation_sweep`` was the round-8 capability the
    battery didn't exercise).  A deterministic train/validation split
    (the {n_train} lowest doc_ids train; everything after validates)
    over the PLANTED noisy near-collinear design documented at
    ``_MS_FEATS_SQL``: hash-residue label noise swamps the x1 signal
    at this train size, so pure OLS (λ=0) overfits the ill-conditioned
    (x1, x2) split and the validation R² curve PEAKS at a positive
    lambda — the selection decision the sweep exists to make — while
    train R² stays monotone non-increasing (the OLS-always-wins-at-
    home law).

    The corpus is scanned twice total (train sums once, validation
    sums once) no matter how many lambdas are swept — each lambda is a
    driver-side exact-integer re-solve of the same two moment-sum rows
    (``operators/probe.py::ridge_validation_sweep``).  Every row of
    the sweep — coefficients, train R² via the ridge det² identity,
    validation R² via the general quadratic form — is replayed by the
    DuckDB oracle in HUGEINT (the planted design keeps features tiny,
    so even the ppm pins' ×1e6 stays under 2^127; measured max 3.4e34
    at sf0.01), and both selection invariants plus ``best_lambda`` are
    COMPUTED by both engines rather than pinned.  At 100 TB the two
    aggregate passes are the only corpus cost; the sweep itself is
    d²-integer driver arithmetic."""
    from .operators.probe import ridge_validation_sweep

    (documents,) = _t(spark, sf_dir, "documents")
    feats = documents.filter(F.col("text").isNotNull()).selectExpr(
        "doc_id",
        "size(split(text, ' ')) div 8 AS x1",
        "size(split(text, ' ')) div 8 + doc_id % 3 AS x2",
        "size(split(text, ' ')) div 8 + (n_chars * 2654435761) % 53 AS y",
    )
    th = int(
        feats.orderBy("doc_id")
        .limit(_MS_N_TRAIN)
        .agg(F.max("doc_id"))
        .collect()[0][0]
    )
    train = feats.filter(F.col("doc_id") <= th)
    val = feats.filter(F.col("doc_id") > th)
    sweep = ridge_validation_sweep(
        train, val, ["x1", "x2"], "y", list(_MS_LAMBDAS)
    )
    r2t = [r["r2_train_ppm"] for r in sweep]
    mono = all(a >= b for a, b in zip(r2t, r2t[1:]))
    best = min(
        sweep, key=lambda r: (-r["r2_val_ppm"], r["ridge_lambda"])
    )["ridge_lambda"]
    rows = [
        (
            r["ridge_lambda"],
            r["n_train"],
            r["n_val"],
            *r["coeffs_ppm"],
            r["r2_train_ppm"],
            r["r2_val_ppm"],
            mono,
            best > 0,
            best,
        )
        for r in sweep
    ]
    return local_frame(spark, 
        rows,
        "ridge_lambda long, n_train long, n_val long, b0_ppm long,"
        " b1_ppm long, b2_ppm long, r2_train_ppm long, r2_val_ppm long,"
        " train_r2_monotone boolean, val_peak_at_positive_lambda boolean,"
        " best_lambda long",
    )


quality_probe_model_selection.__doc__ = (
    quality_probe_model_selection.__doc__.replace(
        "{n_train}", str(_MS_N_TRAIN)
    )
)


# ---------------------------------------------------------------------------
# Batch upsert API on the persisted IVF index (VERDICT r8 task 4)
# ---------------------------------------------------------------------------


@query(
    "ann_ivf_upsert",
    """
    SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 400) + 10
                AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM embeddings
                 WHERE vec_id < 400 AND vec_id % 10 = 0)
                AS BIGINT) AS n_replaced,
           TRUE AS rows_conserved,
           TRUE AS vectors_replaced,
           TRUE AS only_affected_rewritten,
           TRUE AS stats_exact
    """,
)
def ann_ivf_upsert(spark, sf_dir):
    """BATCH UPSERT into the persisted index
    (``operators/similarity.py::upsert_ivf_index`` — VERDICT r8 task
    4): a re-embedding pipeline hands the index its refreshed vectors
    and the index replaces the standing versions in place — phase 1
    drops the old versions through the delete leg's intent machinery,
    phase 2 appends the new ones through the append leg — the same two
    legs the CDC maintainer composes per micro-batch, now one batch
    call.  Every 10th standing vector is re-embedded as 2× its
    original (deterministic, exactly representable in doubles,
    provably different — and DIRECTION-preserving, so each replacement
    re-lands in its own list and the upsert's write footprint stays
    bounded by the lists that actually hold upserted ids, the 100 TB
    shape); 10 brand-new ids ride the same call (the
    insert-degradation path: ids the index has never seen delete
    nothing).

    Invariants: ``rows_conserved`` — count == distinct ids == standing
    + 10 (replacements are count-neutral); ``vectors_replaced`` — all
    re-embedded ids' stored vectors equal 2× the originals exactly;
    ``only_affected_rewritten`` — every partition file outside the
    delete's affected partitions and the append's touched partitions
    is byte-identical (path+size+mtime snapshot); ``stats_exact`` —
    the running stats record equals the exact post-upsert count and
    its mean matches a full re-score of the index to 1e-9 (the delete
    fold's inverse plus the append fold, composed; the scaled
    replacements keep each row's assigned cosine, so the fold
    round-trips exactly)."""
    import os
    import tempfile

    from .operators.similarity import (
        assign_to_lists,
        centroids_df,
        read_index_stats,
        upsert_ivf_index,
    )
    from .queries import _ivf_standing_index
    from .queries_ext import _sink_name

    (emb,) = _t(spark, sf_dir, "embeddings")
    standing = emb.filter(F.col("vec_id") < 400).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cnt = emb.agg(
        F.count_if(F.col("vec_id") < 400).alias("ns"),
        F.count_if(
            (F.col("vec_id") < 400) & (F.col("vec_id") % 10 == 0)
        ).alias("nr"),
    ).collect()[0]
    n_standing, n_repl = int(cnt["ns"]), int(cnt["nr"])
    n_expected = n_standing + 10

    idx_path = os.path.join(tempfile.gettempdir(), _sink_name("ivf_ups_idx"))
    _ivf_standing_index(spark, sf_dir, 400, dest=idx_path)

    scaled = F.transform("embedding", lambda x: x * 2.0)
    batch = (
        standing.filter(F.col("vec_id") % 10 == 0)
        .select("vec_id", scaled.alias("embedding"))
        .unionByName(
            emb.filter(F.col("vec_id") < 10).select(
                (F.col("vec_id") + F.lit(40_000_000)).alias("vec_id"),
                F.col("embedding").cast("array<double>").alias("embedding"),
            )
        )
    )

    def snapshot(exclude):
        # PARTITION files only: the top-level _SUCCESS marker's mtime
        # churns on every write mode=append job, and it carries no
        # partition data — the invariant is about the cold list dirs
        out = set()
        lists_dir = os.path.join(idx_path, "lists")
        for root, _, files in os.walk(lists_dir):
            part = os.path.basename(root)
            if not part.startswith("list_id="):
                continue
            if any(part == f"list_id={lid}" for lid in exclude):
                continue
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out.add(
                    (os.path.relpath(p, lists_dir), st.st_size,
                     st.st_mtime_ns)
                )
        return out

    pre_all = snapshot([])
    rep = upsert_ivf_index(batch, "vec_id", "embedding", idx_path)
    touched = sorted(
        set(rep["delete_report"]["affected_list_ids"])
        | {int(k) for k in rep["append_report"]["list_counts"]}
    )
    cold_before = {
        t for t in pre_all
        if not any(
            t[0].startswith(f"list_id={lid}/")
            or t[0].startswith(f"list_id={lid}{os.sep}")
            for lid in touched
        )
    }
    cold_after = snapshot(touched)

    lists = spark.read.parquet(idx_path + "/lists")
    want = F.broadcast(
        standing.filter(F.col("vec_id") % 10 == 0).select(
            "vec_id", scaled.alias("__want")
        )
    )
    stats_n, stats_mean = read_index_stats(spark, idx_path)
    cents = centroids_df(spark, idx_path)
    # ONE verify pass (r11, guide §1.2): the replacement checks and the
    # raw count ride the rescore scan as observed metrics on the joined
    # rows (the broadcast left join keeps lists 1:1 — standing ids are
    # unique), the distinct-id count is the rescore output's own
    # non-null-id count, and the mean is the same expression over the
    # same rows (the join adds a column, not rows).
    from pyspark.sql import Observation

    obs = Observation()
    rescored = (
        assign_to_lists(
            lists.join(want, "vec_id", "left").observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.count_if(F.col("__want").isNotNull()).alias(
                    "n_repl_rows"
                ),
                F.count_if(
                    F.col("__want").isNotNull()
                    & (F.col("__v") == F.col("__want"))
                ).alias("n_repl_ok"),
            ),
            "vec_id",
            "__v",
            cents,
        )
        .agg(
            F.count("vec_id").alias("nid"),
            F.avg("__best_cos").alias("m"),
        )
        .collect()[0]
    )
    agg = {
        "n": int(obs.get["n"]),
        "nid": int(rescored["nid"]),
        "n_repl_rows": int(obs.get["n_repl_rows"]),
        "n_repl_ok": int(obs.get["n_repl_ok"]),
    }
    return local_frame(spark, 
        [
            (
                n_expected,
                rep["n_replaced"],
                int(agg["n"]) == n_expected
                and int(agg["nid"]) == n_expected
                and rep["n_rows"] == n_repl + 10,
                int(agg["n_repl_rows"]) == n_repl
                and int(agg["n_repl_ok"]) == n_repl,
                cold_after == cold_before,
                stats_n == n_expected
                and abs(stats_mean - float(rescored["m"])) < 1e-9,
            )
        ],
        "n_rows long, n_replaced long, rows_conserved boolean,"
        " vectors_replaced boolean, only_affected_rewritten boolean,"
        " stats_exact boolean",
    )


# ---------------------------------------------------------------------------
# Drift-triggered retrain: the sixth index lifecycle leg (round 9)
# ---------------------------------------------------------------------------


@query(
    "ann_ivf_retrain",
    """
    SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 300)
                + (SELECT count(*) FROM embeddings WHERE vec_id < 100)
                AS BIGINT) AS n_rows,
           TRUE AS drift_flagged,
           TRUE AS rows_conserved,
           TRUE AS recall_restored,
           TRUE AS txn_continuity,
           TRUE AS stats_exact
    """,
)
def ann_ivf_retrain(spark, sf_dir):
    """The SIXTH lifecycle leg, closing the drift loop the append
    report opens (``operators/similarity.py::retrain_ivf_index``): a
    NEGATED batch (every appended vector points away from every
    centroid — the worst-case embedding-model swap) trips the drift
    detector, and the retrain re-trains the centroids on what the
    index NOW contains through a crash-safe staged swap — lists and
    centroids are staged next to the live trees, an intent with the
    absolute post-retrain stats arms the swap, and the rename sequence
    is idempotent (kill/resume proof: ``tests/test_r9_retrain.py``).
    Unlike a fresh ``build_ivf_index`` rebuild, the transaction record
    CARRIES OVER — proven here behaviorally: a replay of the already-
    committed drift batch is still a no-op skip AFTER the retrain
    (``txn_continuity``), which a fresh-history rebuild would turn
    into a double-insert.

    Invariants: ``drift_flagged`` — the negated batch's append report
    recommends retrain; ``rows_conserved`` — count == distinct ids ==
    standing + appended, unchanged by the retrain AND by the replayed
    batch; ``recall_restored`` — the post-retrain mean assigned cosine
    exceeds the drifted pre-retrain mean (the re-tiling gives the
    negated cluster its own centroids); ``txn_continuity`` — the
    post-retrain replay of batch 0 reports ``skipped_replay``;
    ``stats_exact`` — the stats record equals the exact row count and
    its mean matches a full re-score against the NEW centroids to
    1e-9.  At 100 TB this is the one O(index) leg — the staged swap is
    REPLACE TABLE AS SELECT on a table format — and it runs only when
    the per-batch drift ratio (zero extra scans) says the cheap legs
    stopped helping."""
    import os
    import tempfile

    from .operators.similarity import (
        assign_to_lists,
        centroids_df,
        append_ivf_index,
        read_index_stats,
        retrain_ivf_index,
    )
    from .queries import _ivf_standing_index
    from .queries_ext import _sink_name

    (emb,) = _t(spark, sf_dir, "embeddings")
    standing = emb.filter(F.col("vec_id") < 300).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cnt = emb.agg(
        F.count_if(F.col("vec_id") < 300).alias("ns"),
        F.count_if(F.col("vec_id") < 100).alias("nb"),
    ).collect()[0]
    n_expected = int(cnt["ns"]) + int(cnt["nb"])

    idx_path = os.path.join(tempfile.gettempdir(), _sink_name("ivf_rt_idx"))
    _ivf_standing_index(spark, sf_dir, 300, dest=idx_path)
    drifted = emb.filter(F.col("vec_id") < 100).select(
        (F.col("vec_id") + F.lit(40_000_000)).alias("vec_id"),
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: -x
        ).alias("embedding"),
    )
    arep = append_ivf_index(drifted, "vec_id", "embedding", idx_path,
                            batch_id=0)
    rep = retrain_ivf_index(spark, idx_path, id_col="vec_id")
    replay = append_ivf_index(drifted, "vec_id", "embedding", idx_path,
                              batch_id=0)

    lists = spark.read.parquet(idx_path + "/lists")
    stats_n, stats_mean = read_index_stats(spark, idx_path)
    cents = centroids_df(spark, idx_path)
    # ONE verify pass (r11, guide §1.2): the raw row count rides the
    # rescore scan as an observed metric (pre-collapse), and the
    # distinct-id count is the rescore output's own non-null-id count
    # (assign_to_lists groups by id — same value as the old
    # countDistinct, no expand plan).  Mean unchanged: same rows, same
    # expression.
    from pyspark.sql import Observation

    obs = Observation()
    rescored = (
        assign_to_lists(
            lists.observe(obs, F.count(F.lit(1)).alias("n")),
            "vec_id",
            "__v",
            cents,
        )
        .agg(
            F.count("vec_id").alias("nid"),
            F.avg("__best_cos").alias("m"),
        )
        .collect()[0]
    )
    agg = {"n": int(obs.get["n"]), "nid": int(rescored["nid"])}
    return local_frame(spark,
        [
            (
                n_expected,
                bool(arep["retrain_recommended"]),
                int(agg["n"]) == n_expected
                and int(agg["nid"]) == n_expected
                and rep["n"] == n_expected,
                rep["mean_after"] > rep["mean_before"],
                bool(replay["skipped_replay"]) and not rep["resumed"],
                stats_n == n_expected
                and abs(stats_mean - float(rescored["m"])) < 1e-9,
            )
        ],
        "n_rows long, drift_flagged boolean, rows_conserved boolean,"
        " recall_restored boolean, txn_continuity boolean,"
        " stats_exact boolean",
    )


@query(
    "stream_ivf_drift_retrain",
    """
    SELECT CAST((SELECT count(*) FROM embeddings WHERE vec_id < 300)
                + 3 * (SELECT count(*) FROM embeddings WHERE vec_id < 100)
                AS BIGINT) AS n_rows,
           CAST(3 AS BIGINT) AS n_batches,
           TRUE AS retrained_in_stream,
           TRUE AS streak_gated,
           TRUE AS post_retrain_healthy,
           TRUE AS rows_conserved,
           TRUE AS txn_continuity,
           TRUE AS stateless
    """,
)
def stream_ivf_drift_retrain(spark, sf_dir):
    """The drift loop CLOSED IN-STREAM — the full self-maintaining
    story: an embedding-model swap starts shipping NEGATED vectors
    into a live ingest, the per-batch drift ratio (zero extra scans)
    flags two consecutive batches, and the maintainer runs the sixth
    lifecycle leg inside the second batch
    (``make_streaming_ivf_maintainer(retrain_after_drift_batches=2)``
    → ``retrain_ivf_index``'s crash-safe staged swap) — so the THIRD
    drifted batch lands on re-trained centroids and reports healthy
    drift, no human in the loop.

    Invariants: ``retrained_in_stream`` — batch 1's log entry carries
    the retrain report over the exact pre-batch-2 corpus;
    ``streak_gated`` — batch 0 (streak 1 < 2) did NOT retrain;
    ``post_retrain_healthy`` — batch 2, same drifted direction, no
    longer trips the detector (the re-tiling gave that region its own
    centroids) and fires no second retrain; ``rows_conserved`` —
    count == distinct ids == standing + 3 batches; ``txn_continuity``
    — the commit record's high-water mark reads batch 2 after the
    drain (the staged swap carried the log across the re-tiling);
    ``stateless`` — zero state-store operators (the index + its JSON
    log ARE the state)."""
    import glob
    import os
    import tempfile

    from .operators import txnlog
    from .operators.similarity import (
        make_streaming_ivf_maintainer,
        read_index_stats,
    )
    from .queries import _ivf_standing_index
    from .queries_ext import _sink_name
    from .streaming import _drain_foreach_batch

    (emb,) = _t(spark, sf_dir, "embeddings")
    standing = emb.filter(F.col("vec_id") < 300).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    cnt = emb.agg(
        F.count_if(F.col("vec_id") < 300).alias("ns"),
        F.count_if(F.col("vec_id") < 100).alias("nb"),
    ).collect()[0]
    n_expected = int(cnt["ns"]) + 3 * int(cnt["nb"])

    arrivals_dir = os.path.join(
        tempfile.gettempdir(), _sink_name("ivf_drift_arrivals")
    )
    base = emb.filter(F.col("vec_id") < 100).select(
        "vec_id",
        F.transform(
            F.col("embedding").cast("array<double>"), lambda x: -x
        ).alias("embedding"),
    )
    batches = None
    for r in range(3):
        b = base.select(
            (F.col("vec_id") + F.lit(40_000_000 + r * 1_000_000)).alias(
                "vec_id"
            ),
            "embedding",
            F.lit(r).alias("r"),
        )
        batches = b if batches is None else batches.unionByName(b)
    batches.repartition("r").write.mode("overwrite").partitionBy(
        "r"
    ).parquet(arrivals_dir)
    for i in range(3):
        for leaf in glob.glob(
            os.path.join(arrivals_dir, f"r={i}", "*.parquet")
        ):
            os.utime(leaf, (1_700_000_000 + i * 100,) * 2)

    idx_path = os.path.join(
        tempfile.gettempdir(), _sink_name("ivf_drift_idx")
    )
    _ivf_standing_index(spark, sf_dir, 300, dest=idx_path)
    maintain, log = make_streaming_ivf_maintainer(
        spark, idx_path, id_col="vec_id", vec_col="embedding",
        retrain_after_drift_batches=2,
    )
    arrivals = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir + "/*")
    )
    progress: list = []
    _drain_foreach_batch(
        arrivals, maintain, state_partitions=8, progress_out=progress
    )

    conserve = (
        spark.read.parquet(idx_path + "/lists")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("vec_id").alias("nid"),
        )
        .collect()[0]
    )
    stats_n = read_index_stats(spark, idx_path)[0]
    rt = log[1]["retrain_report"]
    return local_frame(spark, 
        [
            (
                n_expected,
                len(log),
                log[1]["retrained"] is True
                and rt is not None
                and rt["n"] == int(cnt["ns"]) + 2 * int(cnt["nb"])
                and rt["mean_after"] > rt["mean_before"],
                log[0]["retrained"] is False,
                log[2]["retrained"] is False,
                int(conserve["n"]) == n_expected
                and int(conserve["nid"]) == n_expected
                and stats_n == n_expected,
                int(
                    txnlog.read(idx_path, txnlog.COMMIT)["last_batch_id"]
                ) == 2,
                all(p["stateOperators"] == [] for p in progress),
            )
        ],
        "n_rows long, n_batches long, retrained_in_stream boolean,"
        " streak_gated boolean, post_retrain_healthy boolean,"
        " rows_conserved boolean, txn_continuity boolean,"
        " stateless boolean",
    )


# ---------------------------------------------------------------------------
# Isotonic score calibration (round 9): probe -> calibrated probability
# ---------------------------------------------------------------------------


def _iso_ctes_sql(where: str) -> str:
    """The isotonic-fit CTE chain: featurize → histogram → cumulative
    sums → the minimax identity (three bounded joins — trunc-ppm
    commutes with min/max, so this replays PAVA exactly;
    pytest/hypothesis law).  ONE generator feeds the batch,
    CDC-membership, and calibrated-gate variants so the formulas
    cannot drift; ``where`` narrows the corpus.  ``feats`` carries
    doc_id/n_chars through for consumers that gate per document."""
    return f"""
    feats AS MATERIALIZED (
      SELECT doc_id, n_chars,
             least(len(string_split(text, ' ')) // 16, 63) AS score,
             CAST(2 * n_chars > 11 * len(string_split(text, ' '))
                  AS INT) AS label
      FROM documents WHERE text IS NOT NULL{where}),
    hist AS MATERIALIZED (
      SELECT score, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(label) AS BIGINT) AS np
      FROM feats GROUP BY score),
    c AS MATERIALIZED (
      SELECT score, n, np,
             sum(n) OVER (ORDER BY score) AS cn,
             sum(np) OVER (ORDER BY score) AS cp
      FROM hist),
    pairs AS MATERIALIZED (
      SELECT a.score AS si, b.score AS sj,
             (b.cp - a.cp + a.np) * 1000000
               // (b.cn - a.cn + a.n) AS r
      FROM c a JOIN c b ON b.score >= a.score),
    tri AS (
      SELECT k.score AS score, p.si, min(p.r) AS mr
      FROM c k JOIN pairs p ON p.si <= k.score AND p.sj >= k.score
      GROUP BY k.score, p.si),
    rates AS MATERIALIZED (
      SELECT score, CAST(max(mr) AS BIGINT) AS rate_ppm
      FROM tri GROUP BY score)"""


def _iso_oracle_sql(where: str, tail: str) -> str:
    """The per-score fit SELECT over :func:`_iso_ctes_sql`; ``tail``
    appends entry-specific invariant columns."""
    return f"""
    WITH {_iso_ctes_sql(where)}
    SELECT h.score, h.n, h.np AS n_pos, r.rate_ppm{tail}
    FROM hist h JOIN rates r USING (score)
    """


_ISO_BATCH_TAIL = """,
           (SELECT bool_and(ok) FROM (
              SELECT rate_ppm >= coalesce(
                       lag(rate_ppm) OVER (ORDER BY score), 0) AS ok
              FROM rates)) AS monotone,
           ((SELECT count(DISTINCT rate_ppm) FROM rates)
              < (SELECT count(*) FROM rates)) AS pooled"""


@query("quality_probe_isotonic", _iso_oracle_sql("", _ISO_BATCH_TAIL))
def quality_probe_isotonic(spark, sf_dir):
    """ISOTONIC (monotone) calibration of a quality score — the step
    between fitting a probe and gating on it: ranking needs raw
    scores, but sampling/mixing decisions need calibrated
    PROBABILITIES, and isotonic regression is the standard
    distribution-free calibrator.  Score = capped length bucket
    (words div 16, <= 63 buckets); label = long-words indicator
    (chars-per-word > 5.5, all-integer).  The engine runs
    ``operators/probe.py::isotonic_calibration_ppm``: ONE bounded
    histogram aggregate, then exact-integer pool-adjacent-violators on
    the driver.

    The ORACLE never runs PAVA: because trunc-ppm is monotone it
    commutes with min/max, so the pinned rates satisfy the classical
    minimax identity rate(k) = max_{i<=k} min_{j>=k}
    (pos(i..j)*1e6)//n(i..j) EXACTLY — three bounded joins over
    cumulative sums replay the whole fit bit-for-bit (the identity is
    also pytest-law-tested against a Fraction reference).  The
    ``monotone`` and ``pooled`` invariants (PAVA actually merged at
    least one violating pair on this data) are computed by BOTH
    engines from their own rates.  At 100 TB the distributed cost is
    one histogram row per distinct score; the calibrator applies back
    to the corpus as a pure-codegen step-function column
    (``isotonic_transform_ppm``, map-only)."""
    from .operators.probe import isotonic_calibration_ppm

    (documents,) = _t(spark, sf_dir, "documents")
    feats = documents.filter(F.col("text").isNotNull()).selectExpr(
        "least(size(split(text, ' ')) div 16, 63) AS score",
        "CAST(2 * n_chars > 11 * size(split(text, ' ')) AS INT) AS label",
    )
    fit = isotonic_calibration_ppm(feats, "score", "label")
    rates = [r["rate_ppm"] for r in fit]
    mono = rates == sorted(rates)
    pooled = len(set(rates)) < len(rates)
    return local_frame(spark, 
        [
            (r["score"], r["n"], r["n_pos"], r["rate_ppm"], mono, pooled)
            for r in fit
        ],
        "score long, n long, n_pos long, rate_ppm long,"
        " monotone boolean, pooled boolean",
    )


_ISO_SURVIVORS_SQL = (
    " AND ((doc_id % 3 = 0 AND doc_id % 5 <> 0)"
    " OR (doc_id % 3 = 1 AND doc_id % 7 <> 0)"
    " OR doc_id % 3 = 2)"
)


@query(
    "stream_isotonic_cdc_fit",
    _iso_oracle_sql(_ISO_SURVIVORS_SQL, ",\n TRUE AS matches_batch_fit"),
)
def stream_isotonic_cdc_fit(spark, sf_dir):
    """The CALIBRATOR maintained under a change feed, restart-
    recoverable — the histogram twin of ``stream_probe_cdc_fit``: the
    per-score (n, n_pos) counts are a GROUP, so CDC deletes subtract
    their before-images exactly and the re-fit is BIT-IDENTICAL to a
    from-scratch isotonic calibration over the surviving corpus
    (``operators/probe.py::make_streaming_isotonic_maintainer`` —
    per-batch atomic ``iso_txn.json`` commits, the probe maintainer's
    protocol, under a threaded engine checkpoint).

    Same three mtime-ordered micro-batches as the probe twin: thirds
    insert; batches 1-2 delete every 5th of batch 0's docs / every 7th
    of batch 1's, with before-images.  Each batch costs ONE grouped
    aggregate (op × score, bounded); the final driver re-fit
    (``isotonic_fit_from_hist`` — zero corpus passes) must equal the
    batch calibration over survivors, which is exactly what the
    oracle's minimax CTEs compute over the membership predicate and
    what ``matches_batch_fit`` re-asserts engine-side.  At 100 TB this
    is a live calibrated quality gate tracking a curated corpus: one
    bounded histogram row per (op, score) crosses the wire per batch,
    no state store, no corpus rescan, deletes exact."""
    import glob
    import os
    import tempfile

    from pyspark.sql import types as T

    from .operators.probe import (
        isotonic_calibration_ppm,
        isotonic_fit_from_hist,
        make_streaming_isotonic_maintainer,
    )
    from .queries_ext import _sink_name
    from .streaming import _drain_foreach_batch

    (documents,) = _t(spark, sf_dir, "documents")
    d3 = F.col("doc_id") % 3
    ins = documents.withColumn("op", F.lit("I")).withColumn(
        "r", (d3 % 3).cast("int")
    )
    dels = (
        documents.filter((d3 == 0) & (F.col("doc_id") % 5 == 0))
        .withColumn("op", F.lit("D"))
        .withColumn("r", F.lit(1))
        .unionByName(
            documents.filter((d3 == 1) & (F.col("doc_id") % 7 == 0))
            .withColumn("op", F.lit("D"))
            .withColumn("r", F.lit(2))
        )
    )
    arrivals_dir = os.path.join(
        tempfile.gettempdir(), _sink_name("iso_cdc_arrivals")
    )
    ins.unionByName(dels).repartition("r").write.mode(
        "overwrite"
    ).partitionBy("r").parquet(arrivals_dir)
    for i in range(3):
        for leaf in glob.glob(
            os.path.join(arrivals_dir, f"r={i}", "*.parquet")
        ):
            os.utime(leaf, (1_700_000_000 + i * 100,) * 2)

    def featurize(df):
        return df.filter(F.col("text").isNotNull()).selectExpr(
            "least(size(split(text, ' ')) div 16, 63) AS score",
            "CAST(2 * n_chars > 11 * size(split(text, ' ')) AS INT)"
            " AS label",
            "op",
        )

    txn_dir = os.path.join(tempfile.gettempdir(), _sink_name("iso_cdc_txn"))
    fold, st = make_streaming_isotonic_maintainer(
        txn_dir, "score", "label", op_col="op", prepare=featurize
    )
    schema = T.StructType(
        documents.schema.fields + [T.StructField("op", T.StringType())]
    )
    arrivals = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(arrivals_dir + "/*")
    )
    _drain_foreach_batch(arrivals, fold, checkpoint=txn_dir + "_chk")

    fit = isotonic_fit_from_hist(st["hist"])
    surviving = documents.filter(
        ((d3 == 0) & (F.col("doc_id") % 5 != 0))
        | ((d3 == 1) & (F.col("doc_id") % 7 != 0))
        | (d3 == 2)
    )
    batch_fit = isotonic_calibration_ppm(
        featurize(surviving.withColumn("op", F.lit("I"))).drop("op"),
        "score",
        "label",
    )
    matches = fit == batch_fit
    return local_frame(spark, 
        [
            (r["score"], r["n"], r["n_pos"], r["rate_ppm"], matches)
            for r in fit
        ],
        "score long, n long, n_pos long, rate_ppm long,"
        " matches_batch_fit boolean",
    )


@query(
    "prep_calibrated_gate",
    f"""
    WITH {_iso_ctes_sql("")},
    docs AS MATERIALIZED (
      SELECT score, n_chars,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12))
                  AS BIGINT) % 1000000 AS u
      FROM feats)
    SELECT d.score, r.rate_ppm,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN d.u < r.rate_ppm THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept,
           CAST(sum(CASE WHEN d.u < r.rate_ppm THEN d.n_chars ELSE 0 END)
                AS BIGINT) AS kept_chars
    FROM docs d JOIN rates r USING (score)
    GROUP BY d.score, r.rate_ppm
    """,
)
def prep_calibrated_gate(spark, sf_dir):
    """CALIBRATED-PROBABILITY gating — the isotonic tier composed into
    the curation flow: instead of hand-picked per-band keep rates
    (``prep_probe_gated_sample``), each document is kept with
    probability equal to its CALIBRATED quality rate — the isotonic
    fit applied back to the corpus through the pure-codegen
    step-function column (``isotonic_transform_ppm``), so 'sample in
    proportion to estimated quality' needs no thresholds to tune and
    adapts as the calibrator refits.

    The keep decision is the battery's deterministic md5-uniform draw
    per doc_id (replayable in any engine via the hex-prefix trick): a
    doc survives iff u < rate_ppm(score).  The ORACLE replays the
    ENTIRE pipeline — the isotonic fit via the shared minimax CTEs
    (one generator with the fit entries, so the formulas cannot
    drift), the same coin, the same gate — and must agree on every
    score's kept doc and char counts.  Map-only over the corpus
    (bounded CASE + one hash per row) after the one bounded histogram
    aggregate; one groupBy for the report — the 100 TB shape of a
    quality-proportional sampling pass."""
    from .operators.probe import (
        isotonic_calibration_ppm,
        isotonic_transform_ppm,
    )

    (documents,) = _t(spark, sf_dir, "documents")
    feats = documents.filter(F.col("text").isNotNull()).selectExpr(
        "doc_id",
        "n_chars",
        "least(size(split(text, ' ')) div 16, 63) AS score",
        "CAST(2 * n_chars > 11 * size(split(text, ' ')) AS INT) AS label",
    )
    fit = isotonic_calibration_ppm(feats, "score", "label")
    rate = isotonic_transform_ppm(fit, "score")
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 12), 16, 10
        ).cast("long")
        % 1_000_000
    )
    g = feats.select(
        "score", "n_chars", rate.alias("rate_ppm"), u.alias("u")
    )
    kept = F.col("u") < F.col("rate_ppm")
    return g.groupBy("score", "rate_ppm").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(kept.cast("long")).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0))
        .cast("long")
        .alias("kept_chars"),
    )

"""Round-10 wave: the evaluation / decision-science block that rounds
out wave5 — probabilistic-forecast scoring (Brier with the Murphy
decomposition), credit-scoring feature diagnostics (WOE / IV), the
group-sequential experiment monitor (O'Brien-Fleming bounds, the
scheduled-looks companion to the SPRT/mSPRT continuous monitors),
survey-sampling design (Neyman allocation), the t-closeness privacy
audit (EMD over the ordered value histogram — completing k-anonymity /
l-diversity), tie-aware NDCG@k ranking quality, triangle counting on
the co-purchase graph, and corpus n-gram novelty profiling.

Reference parity note: the reference repo (Warhorze/apache_beam_challange)
has no analytics beyond its four cycle-ride queries; this module is
part of the §2.9 extension surface (SURVEY.md) a training-data platform
needs. Conventions follow wave5: fixed-point-before-sum for every
cross-row float, domain-bounded histograms for rank statistics, pinned
literal constants for boundary values, DECIMAL(38,0)/HUGEINT for big
integer sums, and ONE identical double expression per emitted float.

Sign-of-zero rule (round 11, from the heaps_law_fit_tokens driver FAIL):
any hashed float that can be ~0 must come from an EXACT-INTEGER numerator
through a single division by a provably-nonnegative denominator — never
from a double-space subtraction, whose ~0 residual's SIGN is engine-
dependent (Spark emitted 0.0 where DuckDB emitted -0.0, and the driver
hashes "0.0" != "-0.0").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apache_beam_challange_spark.plans.registry import query
from apache_beam_challange_spark.sources.catalog import load_table
from apache_beam_challange_spark.sources.driver import (
    CollectCapExceeded,
    collect_bounded,
    local_frame,
)

#: per-term fixed-point scale for cross-row float sums (wave5 discipline)
_FP9 = 1_000_000_000.0
#: most rows a driver solve collects when its state is bounded by a
#: value domain (Markov transitions, IPF cells, huber cent buckets)
#: rather than by a query parameter. Module-level so the huber fallback
#: test can shrink it.
_DOMAIN_CAP = 2_000_000

# --- Brier score with the Murphy decomposition ---------------------------------

_N_BINS = 20

_BRIER_SQL = f"""
WITH base AS (
    SELECT CAST(FLOOR(value * 100) AS BIGINT) AS vb,
           event_id % 2 AS fold,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
    FROM events
),
mx AS (SELECT MAX(vb) AS maxvb FROM base),
binned AS (
    SELECT CASE WHEN vb * {_N_BINS} // (maxvb + 1) > {_N_BINS - 1}
                THEN {_N_BINS - 1}
                ELSE vb * {_N_BINS} // (maxvb + 1) END AS bin,
           fold, pos
    FROM base, mx
),
cells AS (
    SELECT bin,
           CAST(SUM(CASE WHEN fold = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tr,
           CAST(SUM(CASE WHEN fold = 0 THEN pos ELSE 0 END) AS BIGINT) AS p_tr,
           CAST(SUM(CASE WHEN fold = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_ev,
           CAST(SUM(CASE WHEN fold = 1 THEN pos ELSE 0 END) AS BIGINT) AS p_ev
    FROM binned GROUP BY bin
),
used AS (SELECT * FROM cells WHERE n_tr > 0 AND n_ev > 0),
tot AS (
    SELECT CAST(SUM(n_tr) AS BIGINT) AS n_train,
           CAST(SUM(n_ev) AS BIGINT) AS n_eval,
           CAST(SUM(p_ev) AS BIGINT) AS p_eval,
           CAST(COUNT(*) AS BIGINT) AS n_bins_used
    FROM used
),
terms AS (
    SELECT n_train, n_eval, p_eval, n_bins_used,
           CAST(FLOOR((CAST(n_ev AS DOUBLE)
                       * (CAST(p_tr AS DOUBLE) / CAST(n_tr AS DOUBLE))
                       * (CAST(p_tr AS DOUBLE) / CAST(n_tr AS DOUBLE))
                       - 2.0 * (CAST(p_tr AS DOUBLE) / CAST(n_tr AS DOUBLE))
                         * CAST(p_ev AS DOUBLE)
                       + CAST(p_ev AS DOUBLE))
                      * 1000000000.0 + 0.5) AS BIGINT) AS brier_fp,
           CAST(FLOOR(CAST(n_ev AS DOUBLE)
                      * (CAST(p_tr AS DOUBLE) / CAST(n_tr AS DOUBLE)
                         - CAST(p_ev AS DOUBLE) / CAST(n_ev AS DOUBLE))
                      * (CAST(p_tr AS DOUBLE) / CAST(n_tr AS DOUBLE)
                         - CAST(p_ev AS DOUBLE) / CAST(n_ev AS DOUBLE))
                      * 1000000000.0 + 0.5) AS BIGINT) AS rel_fp,
           CAST(FLOOR(CAST(n_ev AS DOUBLE)
                      * (CAST(p_ev AS DOUBLE) / CAST(n_ev AS DOUBLE)
                         - CAST(p_eval AS DOUBLE) / CAST(n_eval AS DOUBLE))
                      * (CAST(p_ev AS DOUBLE) / CAST(n_ev AS DOUBLE)
                         - CAST(p_eval AS DOUBLE) / CAST(n_eval AS DOUBLE))
                      * 1000000000.0 + 0.5) AS BIGINT) AS res_fp
    FROM used, tot
)
SELECT n_train, n_eval, n_bins_used,
       ROUND(CAST(SUM(brier_fp) AS DOUBLE) / 1000000000.0
             / CAST(n_eval AS DOUBLE), 6) AS brier,
       ROUND(CAST(SUM(rel_fp) AS DOUBLE) / 1000000000.0
             / CAST(n_eval AS DOUBLE), 6) AS reliability,
       ROUND(CAST(SUM(res_fp) AS DOUBLE) / 1000000000.0
             / CAST(n_eval AS DOUBLE), 6) AS resolution,
       ROUND((CAST(p_eval AS DOUBLE) / CAST(n_eval AS DOUBLE))
             * (1.0 - CAST(p_eval AS DOUBLE) / CAST(n_eval AS DOUBLE)), 6)
           AS uncertainty
FROM terms
GROUP BY n_train, n_eval, p_eval, n_bins_used
""".strip()


@query("brier_murphy_decomposition", oracle=_BRIER_SQL)
def brier_murphy_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the "value predicts purchase" forecast with the
    Murphy (1973) decomposition Brier = reliability - resolution +
    uncertainty — the proper-scoring-rule companion to
    ``ece_calibration_value_deciles`` (ECE measures miscalibration only;
    the decomposition separates it from discrimination). Same leakage-
    safe design: per-bin rates FIT on the even event_id fold are the
    forecasts, scored on the odd fold; since forecasts are constant per
    bin, every term collapses onto the 20-bin cells (sum(y^2)=sum(y) for
    binary y), so the data-sized work is ONE conditional aggregate. The
    base rate enters each resolution term as one shared double; per-bin
    terms are 1e-9 fixed-pointed before the cross-bin sums (bounded: 20
    terms <= n_eval*1e9 each, summed in DECIMAL(38,0)); the additive
    identity is test-pinned. Brier 1950 / Murphy 1973."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.floor(F.col("value") * 100).cast("long").alias("vb"),
        (F.col("event_id") % 2).alias("fold"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    )
    mx = base.agg(F.max("vb").alias("maxvb"))
    raw_bin = F.expr(f"vb * {_N_BINS} div (maxvb + 1)")
    binned = base.crossJoin(F.broadcast(mx)).select(
        F.when(raw_bin > _N_BINS - 1, F.lit(_N_BINS - 1))
        .otherwise(raw_bin)
        .alias("bin"),
        "fold",
        "pos",
    )
    cells = (
        binned.groupBy("bin")
        .agg(
            F.sum(F.when(F.col("fold") == 0, 1).otherwise(0))
            .cast("long").alias("n_tr"),
            F.sum(F.when(F.col("fold") == 0, F.col("pos")).otherwise(0))
            .cast("long").alias("p_tr"),
            F.sum(F.when(F.col("fold") == 1, 1).otherwise(0))
            .cast("long").alias("n_ev"),
            F.sum(F.when(F.col("fold") == 1, F.col("pos")).otherwise(0))
            .cast("long").alias("p_ev"),
        )
        .filter((F.col("n_tr") > 0) & (F.col("n_ev") > 0))
    )
    tot = cells.agg(
        F.sum("n_tr").cast("long").alias("n_train"),
        F.sum("n_ev").cast("long").alias("n_eval"),
        F.sum("p_ev").cast("long").alias("p_eval"),
        F.count(F.lit(1)).cast("long").alias("n_bins_used"),
    )
    t = cells.crossJoin(F.broadcast(tot))
    f_k = F.col("p_tr").cast("double") / F.col("n_tr").cast("double")
    o_k = F.col("p_ev").cast("double") / F.col("n_ev").cast("double")
    obar = F.col("p_eval").cast("double") / F.col("n_eval").cast("double")
    n_k = F.col("n_ev").cast("double")

    def fp(x):
        return F.floor(x * F.lit(_FP9) + F.lit(0.5)).cast("long")

    terms = t.select(
        "n_train",
        "n_eval",
        "p_eval",
        "n_bins_used",
        fp(
            n_k * f_k * f_k
            - F.lit(2.0) * f_k * F.col("p_ev").cast("double")
            + F.col("p_ev").cast("double")
        ).alias("brier_fp"),
        fp(n_k * (f_k - o_k) * (f_k - o_k)).alias("rel_fp"),
        fp(n_k * (o_k - obar) * (o_k - obar)).alias("res_fp"),
    )
    n_eval_d = F.col("n_eval").cast("double")
    obar_out = F.col("p_eval").cast("double") / n_eval_d
    return terms.groupBy("n_train", "n_eval", "p_eval", "n_bins_used").agg(
        F.round(
            F.sum(F.col("brier_fp").cast("decimal(38,0)")).cast("double")
            / F.lit(_FP9) / n_eval_d, 6,
        ).alias("brier"),
        F.round(
            F.sum(F.col("rel_fp").cast("decimal(38,0)")).cast("double")
            / F.lit(_FP9) / n_eval_d, 6,
        ).alias("reliability"),
        F.round(
            F.sum(F.col("res_fp").cast("decimal(38,0)")).cast("double")
            / F.lit(_FP9) / n_eval_d, 6,
        ).alias("resolution"),
        F.round(obar_out * (F.lit(1.0) - obar_out), 6).alias("uncertainty"),
    ).drop("p_eval")


# --- weight of evidence / information value ------------------------------------

_WOE_SQL = f"""
WITH base AS (
    SELECT CAST(FLOOR(value * 100) AS BIGINT) AS vb,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
    FROM events
),
mx AS (SELECT MAX(vb) AS maxvb FROM base),
binned AS (
    SELECT CASE WHEN vb * {_N_BINS} // (maxvb + 1) > {_N_BINS - 1}
                THEN {_N_BINS - 1}
                ELSE vb * {_N_BINS} // (maxvb + 1) END AS bin,
           pos
    FROM base, mx
),
cells AS (
    SELECT bin,
           CAST(SUM(pos) AS BIGINT) AS good_b,
           CAST(SUM(1 - pos) AS BIGINT) AS bad_b
    FROM binned GROUP BY bin
),
tot AS (
    SELECT CAST(SUM(good_b) AS BIGINT) AS g_all,
           CAST(SUM(bad_b) AS BIGINT) AS b_all
    FROM cells
)
SELECT bin,
       good_b, bad_b,
       ROUND(LN(CAST(good_b AS DOUBLE) * CAST(b_all AS DOUBLE)
                / (CAST(bad_b AS DOUBLE) * CAST(g_all AS DOUBLE))), 6) AS woe,
       ROUND((CAST(good_b AS DOUBLE) / CAST(g_all AS DOUBLE)
              - CAST(bad_b AS DOUBLE) / CAST(b_all AS DOUBLE))
             * LN(CAST(good_b AS DOUBLE) * CAST(b_all AS DOUBLE)
                  / (CAST(bad_b AS DOUBLE) * CAST(g_all AS DOUBLE))), 6)
           AS iv_term
FROM cells, tot
WHERE good_b > 0 AND bad_b > 0
""".strip()


@query("woe_iv_value_bins", oracle=_WOE_SQL)
def woe_iv_value_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight of evidence and information-value terms of the binned
    ``value`` feature for predicting purchase — the credit-scoring /
    feature-screening classic (Siddiqi 2006) next to the engine's
    out-of-fold target encoder (WOE is the log-odds-space encoding; IV
    = sum of ``(g/G - b/B) * WOE`` ranks features by predictive power,
    with the conventional <0.02 useless / >0.5 suspicious bands). Same
    integer bin math as the calibration family; each output row is
    exact in isolation (single LN of a ratio of exact integer products
    — the ``vocab_js_drift`` per-row design, no cross-row float sum
    anywhere), so the scalar IV is the trivial downstream fold. Bins
    empty of either class are excluded honestly (their WOE is
    undefined); at 100 TB the data-sized work stays ONE map-side
    combined aggregate over the 20-bin histogram."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.floor(F.col("value") * 100).cast("long").alias("vb"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    )
    mx = base.agg(F.max("vb").alias("maxvb"))
    raw_bin = F.expr(f"vb * {_N_BINS} div (maxvb + 1)")
    binned = base.crossJoin(F.broadcast(mx)).select(
        F.when(raw_bin > _N_BINS - 1, F.lit(_N_BINS - 1))
        .otherwise(raw_bin)
        .alias("bin"),
        "pos",
    )
    cells = binned.groupBy("bin").agg(
        F.sum("pos").cast("long").alias("good_b"),
        F.sum(F.lit(1) - F.col("pos")).cast("long").alias("bad_b"),
    )
    tot = cells.agg(
        F.sum("good_b").cast("long").alias("g_all"),
        F.sum("bad_b").cast("long").alias("b_all"),
    )
    t = cells.crossJoin(F.broadcast(tot)).filter(
        (F.col("good_b") > 0) & (F.col("bad_b") > 0)
    )
    ratio = (
        F.col("good_b").cast("double") * F.col("b_all").cast("double")
        / (F.col("bad_b").cast("double") * F.col("g_all").cast("double"))
    )
    woe = F.log(ratio)
    share_gap = (
        F.col("good_b").cast("double") / F.col("g_all").cast("double")
        - F.col("bad_b").cast("double") / F.col("b_all").cast("double")
    )
    return t.select(
        "bin",
        "good_b",
        "bad_b",
        F.round(woe, 6).alias("woe"),
        F.round(share_gap * woe, 6).alias("iv_term"),
    )


# --- O'Brien-Fleming group-sequential monitor ----------------------------------

#: K=5 equally-spaced looks; two-sided alpha=0.05 O'Brien-Fleming
#: boundary z_k = c * sqrt(K/k) with the canonical c = 2.040 — the five
#: bound values are PINNED literals (identical text in both engines):
_OBF_BOUNDS = [(1, 4.562), (2, 3.226), (3, 2.634), (4, 2.281), (5, 2.040)]
#: H0 purchase rate (matches the SPRT/mSPRT monitors): p0 = 0.15 = 3/20,
#: so the z numerator 20*x - 3*n is an EXACT integer.
_OBF_PACK = 1 << 34

_OBF_VALUES = ", ".join(f"({k}, {b})" for k, b in _OBF_BOUNDS)

_OBF_SQL = f"""
WITH ordered AS (
    SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
           ROW_NUMBER() OVER (ORDER BY ts, event_id) AS i
    FROM events
),
walk AS (
    SELECT i,
           CAST(SUM(pos) OVER (
               ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_pos
    FROM ordered
),
tot AS (SELECT CAST(MAX(i) AS BIGINT) AS n FROM walk),
looks AS (SELECT * FROM (VALUES {_OBF_VALUES}) t(k, bound)),
cuts AS (SELECT k, bound, (k * n) // 5 AS n_k FROM looks, tot)
SELECT CAST(c.k AS BIGINT) AS look,
       c.n_k,
       w.cum_pos AS x_k,
       ROUND(CAST(20 * w.cum_pos - 3 * c.n_k AS DOUBLE)
             / (20.0 * SQRT(0.1275 * CAST(c.n_k AS DOUBLE))), 6) AS z,
       CAST(c.bound AS DOUBLE) AS bound,
       CASE WHEN ABS(CAST(20 * w.cum_pos - 3 * c.n_k AS DOUBLE)
                     / (20.0 * SQRT(0.1275 * CAST(c.n_k AS DOUBLE))))
                 >= c.bound
            THEN 1 ELSE 0 END AS crossed
FROM cuts c JOIN walk w ON w.i = c.n_k
""".strip()


@query("obf_group_sequential_monitor", oracle=_OBF_SQL)
def obf_group_sequential_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O'Brien-Fleming group-sequential test of the purchase rate (H0
    p0=0.15, matching the SPRT/mSPRT monitors) at K=5 equally-spaced
    looks over the event stream in arrival order — the SCHEDULED-looks
    member of the sequential family (clinical-trial interim analysis:
    conservative early bounds, near-nominal final bound; bounds c*
    sqrt(K/k), c=2.040 for two-sided alpha=0.05, pinned as literals).
    The running (position, cum_positives) pair rides the same packed
    distributed prefix sum as the SPRT (pos*2^34 + 1 — range-
    partitioned, no single-partition window); look positions are
    ``(k*N) div 5`` exact integers off the attached grand total, and
    each look reads the walk at EXACTLY that row via a 5-row broadcast
    join. z = (20x - 3n)/20 / sqrt(0.1275 n): exact-integer numerator,
    one identical double expression (sqrt is IEEE-correctly-rounded).
    O'Brien & Fleming 1979."""
    from apache_beam_challange_spark.plans.coverage import (
        distributed_prefix_sum,
    )

    ev = load_table(spark, sf_dir, "events")
    packed = ev.select(
        F.col("ts"),
        F.col("event_id"),
        (
            (F.col("event_type") == "purchase").cast("long")
            * F.lit(_OBF_PACK)
            + F.lit(1)
        ).alias("v"),
    )
    cum = distributed_prefix_sum(packed, [F.col("ts"), F.col("event_id")], "v")
    walk = cum.select(
        (F.col("cum") % F.lit(_OBF_PACK)).alias("i"),
        F.expr(f"cum div {_OBF_PACK}").alias("cum_pos"),
        (F.col("total") % F.lit(_OBF_PACK)).alias("n"),
    )
    looks = F.broadcast(
        local_frame(walk.sparkSession, _OBF_BOUNDS, "k long, bound double")
    )
    hit = walk.join(looks, F.expr("i = (k * n) div 5"))
    num = (F.lit(20) * F.col("cum_pos") - F.lit(3) * F.col("i")).cast("double")
    z = num / (F.lit(20.0) * F.sqrt(F.lit(0.1275) * F.col("i").cast("double")))
    return hit.select(
        F.col("k").alias("look"),
        F.col("i").alias("n_k"),
        F.col("cum_pos").alias("x_k"),
        F.round(z, 6).alias("z"),
        F.col("bound").cast("double").alias("bound"),
        (F.abs(z) >= F.col("bound")).cast("int").alias("crossed"),
    )


# --- Neyman optimal stratified allocation --------------------------------------

#: sampling budget to allocate across the event-type strata
_NEYMAN_BUDGET = 1000
#: weight fixed-point scale (1e3: N_h * sd_h * 1e3 stays within LONG
#: far past sf10000; allocation shares only need relative weights)
_NEYMAN_FP = 1_000

_NEYMAN_SQL = f"""
WITH g AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_h,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS HUGEINT) AS s,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                    * CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS HUGEINT) AS q
    FROM events GROUP BY 1
),
w AS (
    SELECT event_type, n_h,
           SQRT(CAST(n_h * q - s * s AS DOUBLE)
                / CAST(n_h * (n_h - 1) AS DOUBLE)) / 100.0 AS sd,
           CAST(FLOOR(CAST(n_h AS DOUBLE)
                      * SQRT(CAST(n_h * q - s * s AS DOUBLE)
                             / CAST(n_h * (n_h - 1) AS DOUBLE)) / 100.0
                      * {_NEYMAN_FP} + 0.5) AS BIGINT) AS w_fp
    FROM g
),
tot AS (SELECT CAST(SUM(w_fp) AS BIGINT) AS w_all FROM w),
base AS (
    SELECT event_type, n_h, sd, w_fp, w_all,
           CAST((CAST({_NEYMAN_BUDGET} AS HUGEINT) * w_fp) // w_all
                AS BIGINT) AS alloc_base,
           CAST((CAST({_NEYMAN_BUDGET} AS HUGEINT) * w_fp) % w_all
                AS BIGINT) AS rem
    FROM w, tot
),
ranked AS (
    SELECT *,
           ROW_NUMBER() OVER (ORDER BY rem DESC, event_type) AS rr,
           CAST({_NEYMAN_BUDGET} AS BIGINT)
               - CAST(SUM(alloc_base) OVER () AS BIGINT) AS leftover
    FROM base
)
SELECT event_type, n_h,
       ROUND(sd, 6) AS sd,
       ROUND(CAST(w_fp AS DOUBLE) / CAST(w_all AS DOUBLE), 6) AS weight_share,
       CAST(alloc_base + CASE WHEN rr <= leftover THEN 1 ELSE 0 END
            AS BIGINT) AS alloc
FROM ranked
""".strip()


@query("neyman_allocation_by_type", oracle=_NEYMAN_SQL)
def neyman_allocation_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman optimal allocation of a {_NEYMAN_BUDGET}-row sampling
    budget across the event-type strata — the survey-sampling design
    rule (allocate proportional to N_h * S_h, Neyman 1934) behind
    variance-optimal data audits and eval-set construction at 100 TB
    (where uniform sampling over-spends on low-variance strata). Per-
    stratum SDs come from EXACT integer cent moments in one map-side-
    combined aggregate (n*q - s^2 in HUGEINT/DECIMAL so the bound holds
    past sf1000); each weight N_h*S_h is one IEEE sqrt+product fixed-
    pointed at 1e3; the integerization is LARGEST-REMAINDER (Hamilton)
    apportionment in pure integer arithmetic — allocations sum to the
    budget BY CONSTRUCTION (the multitouch-attribution discipline),
    remainder ties broken by type name. Everything after the aggregate
    is k-bounded."""
    ev = load_table(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    g = ev.select(F.col("event_type"), v.alias("v")).groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("v").cast("decimal(38,0)").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("decimal(38,0)").alias("q"),
    )
    d38 = "decimal(38,0)"
    var_num = (
        F.col("n_h").cast(d38) * F.col("q") - F.col("s") * F.col("s")
    ).cast("double")
    sd = (
        F.sqrt(
            var_num
            / (F.col("n_h") * (F.col("n_h") - F.lit(1))).cast("double")
        )
        / F.lit(100.0)
    )
    w = g.select(
        "event_type",
        "n_h",
        sd.alias("sd"),
        F.floor(
            F.col("n_h").cast("double") * sd * F.lit(float(_NEYMAN_FP))
            + F.lit(0.5)
        ).cast("long").alias("w_fp"),
    )
    tot = w.agg(F.sum("w_fp").cast("long").alias("w_all"))
    base = w.crossJoin(F.broadcast(tot)).select(
        "*",
        F.expr(
            f"CAST((CAST({_NEYMAN_BUDGET} AS DECIMAL(38,0)) * w_fp)"
            f" div w_all AS BIGINT)"
        ).alias("alloc_base"),
        F.expr(
            f"CAST((CAST({_NEYMAN_BUDGET} AS DECIMAL(38,0)) * w_fp)"
            f" % CAST(w_all AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("rem"),
    )
    wr = Window.orderBy(F.col("rem").desc(), F.col("event_type"))
    ranked = base.select(
        "*",
        F.row_number().over(wr).alias("rr"),
        (
            F.lit(_NEYMAN_BUDGET)
            - F.sum("alloc_base").over(
                Window.rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            )
        ).cast("long").alias("leftover"),
    )
    return ranked.select(
        "event_type",
        "n_h",
        F.round("sd", 6).alias("sd"),
        F.round(
            F.col("w_fp").cast("double") / F.col("w_all").cast("double"), 6
        ).alias("weight_share"),
        (
            F.col("alloc_base")
            + F.when(F.col("rr") <= F.col("leftover"), 1).otherwise(0)
        ).cast("long").alias("alloc"),
    )


# --- t-closeness privacy audit (total variation distance) ----------------------

#: t-closeness threshold t = 0.3 = 3/10: the violation decision is the
#: EXACT integer comparison 10 * sum|c_l*G - g_l*C| > 2 * 3 * C * G
#: (TVD = sum|c_l/C - g_l/G| / 2), so engines cannot disagree at the
#: boundary.
_TCLOSE_NUM = 3
_TCLOSE_DEN = 10


_TCLOSE_SQL = f"""
WITH cls AS (
    SELECT source,
           CAST(FLOOR(CAST(n_chars AS DOUBLE) / 50) AS BIGINT) AS chars_bucket,
           lang,
           CAST(COUNT(*) AS BIGINT) AS c_l
    FROM documents GROUP BY 1, 2, 3
),
langs AS (
    SELECT lang, CAST(SUM(c_l) AS BIGINT) AS g_l FROM cls GROUP BY 1
),
gtot AS (SELECT CAST(SUM(g_l) AS BIGINT) AS g_all FROM langs),
csize AS (
    SELECT source, chars_bucket, CAST(SUM(c_l) AS BIGINT) AS c_all
    FROM cls GROUP BY 1, 2
),
terms AS (
    SELECT s.source, s.chars_bucket, s.c_all, t.g_all,
           CAST(SUM(ABS(CAST(COALESCE(c.c_l, 0) AS DECIMAL(38,0)) * t.g_all
                        - CAST(g.g_l AS DECIMAL(38,0)) * s.c_all))
                AS DECIMAL(38,0)) AS num
    FROM csize s
    CROSS JOIN gtot t
    CROSS JOIN langs g
    LEFT JOIN cls c ON c.source = s.source
        AND c.chars_bucket = s.chars_bucket AND c.lang = g.lang
    GROUP BY 1, 2, 3, 4
),
flagged AS (
    SELECT source, c_all,
           CAST(num AS DOUBLE)
               / (2.0 * CAST(c_all AS DOUBLE) * CAST(g_all AS DOUBLE)) AS tvd,
           CASE WHEN {_TCLOSE_DEN} * num
                     > 2 * {_TCLOSE_NUM} * CAST(c_all AS DECIMAL(38,0)) * g_all
                THEN 1 ELSE 0 END AS viol
    FROM terms
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(viol) AS BIGINT) AS n_violating_classes,
       CAST(SUM(CASE WHEN viol = 1 THEN c_all ELSE 0 END) AS BIGINT)
           AS n_rows_at_risk,
       ROUND(MAX(tvd), 6) AS max_tvd
FROM flagged
GROUP BY source
ORDER BY source
""".strip()


@query("t_closeness_audit", oracle=_TCLOSE_SQL)
def t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li, Li & Venkatasubramanian 2007) — the third
    rung of the privacy ladder the engine already carries (k-anonymity:
    class too small; l-diversity: class too uniform; t-closeness: class
    distribution too FAR from the corpus distribution, which leaks even
    when l is satisfied). Same quasi-identifiers as ``l_diversity_audit``
    ((source, n_chars//50)), sensitive attribute ``lang``, categorical
    variant: per class the total variation distance to the global lang
    distribution. The violation decision ``TVD > t=0.3`` is the EXACT
    cross-multiplied integer comparison ``10*sum|c_l*G - g_l*C| >
    6*C*G`` — zero float at the boundary; max_tvd is reported as one
    double division per class. The lang spine is domain-bounded, so the
    class x lang completion join is class-rows x |langs|, and the only
    data-sized work is the first (source, bucket, lang) aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    cls = (
        docs.select(
            "source",
            F.floor(F.col("n_chars").cast("double") / 50)
            .cast("long")
            .alias("chars_bucket"),
            "lang",
        )
        .groupBy("source", "chars_bucket", "lang")
        .agg(F.count(F.lit(1)).cast("long").alias("c_l"))
    )
    # cls feeds three consumers (glob, csize, terms): materialize the
    # aggregate once — exchange reuse is a courtesy, not a contract.
    cls = cls.localCheckpoint()
    glob = cls.groupBy("lang").agg(F.sum("c_l").cast("long").alias("g_l"))
    gtot = glob.agg(F.sum("g_l").cast("long").alias("g_all"))
    csize = cls.groupBy("source", "chars_bucket").agg(
        F.sum("c_l").cast("long").alias("c_all")
    )
    d38 = "decimal(38,0)"
    spine = csize.crossJoin(F.broadcast(gtot)).crossJoin(F.broadcast(glob))
    terms = (
        spine.join(
            cls.select(
                F.col("source").alias("cs"),
                F.col("chars_bucket").alias("cb"),
                F.col("lang").alias("cl"),
                "c_l",
            ),
            (F.col("source") == F.col("cs"))
            & (F.col("chars_bucket") == F.col("cb"))
            & (F.col("lang") == F.col("cl")),
            "left",
        )
        .groupBy("source", "chars_bucket", "c_all", "g_all")
        .agg(
            F.sum(
                F.abs(
                    F.coalesce(F.col("c_l"), F.lit(0)).cast(d38)
                    * F.col("g_all").cast(d38)
                    - F.col("g_l").cast(d38) * F.col("c_all").cast(d38)
                )
            )
            .cast(d38)
            .alias("num")
        )
    )
    tvd = F.col("num").cast("double") / (
        F.lit(2.0)
        * F.col("c_all").cast("double")
        * F.col("g_all").cast("double")
    )
    viol = (
        F.lit(_TCLOSE_DEN) * F.col("num")
        > F.lit(2 * _TCLOSE_NUM)
        * F.col("c_all").cast(d38)
        * F.col("g_all").cast(d38)
    ).cast("int")
    flagged = terms.select("source", "c_all", tvd.alias("tvd"), viol.alias("viol"))
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum("viol").cast("long").alias("n_violating_classes"),
            F.sum(F.when(F.col("viol") == 1, F.col("c_all")).otherwise(0))
            .cast("long")
            .alias("n_rows_at_risk"),
            F.round(F.max("tvd"), 6).alias("max_tvd"),
        )
        .orderBy("source")
    )


# --- tie-aware NDCG@20 ---------------------------------------------------------

_NDCG_K = 20
#: 1e12 fixed-point DCG discounts disc(i) = 1/log2(i+1), i = 1..K —
#: PINNED integers (computed once in Python), so neither engine touches
#: libm and every discount sum is exact integer arithmetic.
_NDCG_DISC = [
    (1, 1000000000000), (2, 630929753571), (3, 500000000000),
    (4, 430676558073), (5, 386852807235), (6, 356207187108),
    (7, 333333333333), (8, 315464876786), (9, 301029995664),
    (10, 289064826318), (11, 278942945651), (12, 270238154427),
    (13, 262649535037), (14, 255958024810), (15, 250000000000),
    (16, 244650542118), (17, 239812466568), (18, 235408913367),
    (19, 231378213160), (20, 227670248697),
]

_NDCG_DISC_VALUES = ", ".join(f"({i}, {d})" for i, d in _NDCG_DISC)

_NDCG_SQL = f"""
WITH hist AS (
    SELECT CAST(FLOOR(value * 100) AS BIGINT) AS vb,
           CAST(COUNT(*) AS BIGINT) AS n_b,
           CAST(SUM(CASE event_type WHEN 'purchase' THEN 2
                    WHEN 'click' THEN 1 ELSE 0 END) AS BIGINT) AS g_b
    FROM events GROUP BY 1
),
pos AS (
    SELECT vb, n_b, g_b,
           CAST(COALESCE(SUM(n_b) OVER (
               ORDER BY vb DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND 1 PRECEDING), 0) AS BIGINT) + 1 AS a,
           CAST(SUM(n_b) OVER (
               ORDER BY vb DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS b
    FROM hist
),
disc AS (SELECT * FROM (VALUES {_NDCG_DISC_VALUES}) t(i, d_fp)),
grp AS (
    SELECT p.vb, p.n_b, p.g_b,
           CAST(SUM(d.d_fp) AS BIGINT) AS dsum_fp
    FROM pos p JOIN disc d ON d.i >= p.a AND d.i <= p.b
    WHERE p.a <= {_NDCG_K}
    GROUP BY 1, 2, 3
),
dcg AS (
    SELECT CAST(SUM((CAST(g_b AS DECIMAL(38,0)) * dsum_fp) // n_b)
                AS DECIMAL(38,0)) AS dcg_fp
    FROM grp
),
counts AS (
    SELECT CAST(SUM(CASE WHEN g_b2 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS p2,
           CAST(SUM(CASE WHEN g_b2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS p1
    FROM (SELECT CASE event_type WHEN 'purchase' THEN 2
                 WHEN 'click' THEN 1 ELSE 0 END AS g_b2 FROM events)
),
ideal AS (
    SELECT CAST(SUM(CASE WHEN d.i <= c.p2 THEN 2 * d.d_fp
                    WHEN d.i <= c.p2 + c.p1 THEN d.d_fp
                    ELSE 0 END) AS BIGINT) AS idcg_fp
    FROM disc d, counts c
)
SELECT CAST({_NDCG_K} AS BIGINT) AS k,
       ROUND(CAST(dcg_fp AS DOUBLE) / 1000000000000.0, 6) AS dcg,
       ROUND(CAST(idcg_fp AS DOUBLE) / 1000000000000.0, 6) AS idcg,
       ROUND(CAST(dcg_fp AS DOUBLE) / CAST(idcg_fp AS DOUBLE), 6) AS ndcg
FROM dcg, ideal
""".strip()


@query("ndcg_at_k_value_ranking", oracle=_NDCG_SQL)
def ndcg_at_k_value_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-aware NDCG@{_NDCG_K} of ``value`` ranking graded relevance
    (purchase=2, click=1, else 0) — the graded-relevance ranking metric
    completing the eval family (AUC orders pairs, AP integrates the PR
    curve, NDCG discounts by position with multi-level gain). Ties are
    handled by EXPECTED DCG under uniform within-group permutation
    (McSherry & Najork, ECIR 2008): a cent-bucket tie group occupying
    positions [a, b] contributes ``(G_grp/n_grp) * sum(disc(a..min(b,
    K)))``. Every discount is a PINNED 1e-12 fixed-point integer (no
    libm in either engine), group discount sums and the per-group
    ``(G*dsum) div n`` terms are exact integers, and NDCG is one double
    division. Data-sized work: the value histogram + one grade count;
    the position windows run over the VALUE-DOMAIN-bounded histogram
    and only groups intersecting the top-{_NDCG_K} survive the join."""
    ev = load_table(spark, sf_dir, "events")
    grade = (
        F.when(F.col("event_type") == "purchase", 2)
        .when(F.col("event_type") == "click", 1)
        .otherwise(0)
    )
    base = ev.select(
        F.floor(F.col("value") * 100).cast("long").alias("vb"),
        grade.alias("g"),
    )
    # ONE data-sized aggregate keyed (vb, grade); it feeds both the
    # position walk and the ideal-DCG grade counts, so it is
    # materialized once (exchange reuse is a courtesy, not a contract).
    cells = (
        base.groupBy("vb", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .localCheckpoint()
    )
    hist = cells.groupBy("vb").agg(
        F.sum("n").cast("long").alias("n_b"),
        F.sum(F.col("g") * F.col("n")).cast("long").alias("g_b"),
    )
    w_prev = Window.orderBy(F.col("vb").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cur = Window.orderBy(F.col("vb").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    pos = hist.select(
        "vb",
        "n_b",
        "g_b",
        (F.coalesce(F.sum("n_b").over(w_prev), F.lit(0)) + F.lit(1))
        .cast("long")
        .alias("a"),
        F.sum("n_b").over(w_cur).cast("long").alias("b"),
    ).filter(F.col("a") <= _NDCG_K)
    disc = F.broadcast(
        local_frame(ev.sparkSession, _NDCG_DISC, "i long, d_fp long")
    )
    grp = (
        pos.join(disc, (F.col("i") >= F.col("a")) & (F.col("i") <= F.col("b")))
        .groupBy("vb", "n_b", "g_b")
        .agg(F.sum("d_fp").cast("long").alias("dsum_fp"))
    )
    dcg = grp.agg(
        F.sum(F.expr("(CAST(g_b AS DECIMAL(38,0)) * dsum_fp) div n_b"))
        .cast("decimal(38,0)")
        .alias("dcg_fp")
    )
    counts = cells.agg(
        F.sum(F.when(F.col("g") == 2, F.col("n")).otherwise(0))
        .cast("long")
        .alias("p2"),
        F.sum(F.when(F.col("g") == 1, F.col("n")).otherwise(0))
        .cast("long")
        .alias("p1"),
    )
    ideal = disc.crossJoin(F.broadcast(counts)).agg(
        F.sum(
            F.when(F.col("i") <= F.col("p2"), F.lit(2) * F.col("d_fp"))
            .when(F.col("i") <= F.col("p2") + F.col("p1"), F.col("d_fp"))
            .otherwise(F.lit(0))
        )
        .cast("long")
        .alias("idcg_fp")
    )
    return (
        dcg.crossJoin(F.broadcast(ideal))
        .select(
            F.lit(_NDCG_K).cast("long").alias("k"),
            F.round(F.col("dcg_fp").cast("double") / F.lit(1e12), 6).alias(
                "dcg"
            ),
            F.round(F.col("idcg_fp").cast("double") / F.lit(1e12), 6).alias(
                "idcg"
            ),
            F.round(
                F.col("dcg_fp").cast("double")
                / F.col("idcg_fp").cast("double"),
                6,
            ).alias("ndcg"),
        )
    )


# --- Johnson-Lindenstrauss projection + distortion audit -----------------------

_JL_DIM = 64
_JL_OUT = 16
#: audit pairs: consecutive vec_ids below this cutoff (pair = id div 2)
_JL_AUDIT_MAX = 200

_JL_SQL = f"""
WITH pos AS (SELECT unnest(generate_series(1, {_JL_DIM})) AS p),
outs AS (SELECT unnest(generate_series(0, {_JL_OUT - 1})) AS k),
sgn AS (
    SELECT p.p, o.k,
           CASE WHEN STRPOS('0123456789abcdef',
                            SUBSTR(md5(CAST(p.p - 1 AS VARCHAR) || '_'
                                       || CAST(o.k AS VARCHAR)), 1, 1))
                     % 2 = 1
                THEN 1 ELSE -1 END AS s
    FROM pos p, outs o
),
comp AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
),
proj AS MATERIALIZED (
    SELECT c.vec_id, g.k,
           CAST(SUM(g.s * CAST(FLOOR(c.x[g.p] * 1000000000.0 + 0.5)
                               AS BIGINT)) AS BIGINT) AS p_fp
    FROM comp c, sgn g
    GROUP BY 1, 2
),
nv AS (SELECT CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n_vectors FROM proj),
odiff AS (
    SELECT a.vec_id // 2 AS pair,
           CAST(CAST(FLOOR(a.x[p.p] * 1000000000.0 + 0.5) AS BIGINT)
                - CAST(FLOOR(b.x[p.p] * 1000000000.0 + 0.5) AS BIGINT)
                AS HUGEINT) AS dd
    FROM comp a JOIN comp b
        ON a.vec_id // 2 = b.vec_id // 2
        AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
    CROSS JOIN pos p
    WHERE a.vec_id < {_JL_AUDIT_MAX}
),
orig AS (
    SELECT pair, CAST(SUM(dd * dd) AS DECIMAL(38,0)) AS d2o_fp
    FROM odiff GROUP BY 1
),
pdiff AS (
    SELECT a.vec_id // 2 AS pair,
           CAST(a.p_fp - b.p_fp AS HUGEINT) AS pd
    FROM proj a JOIN proj b
        ON a.vec_id // 2 = b.vec_id // 2 AND a.k = b.k
        AND a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
    WHERE a.vec_id < {_JL_AUDIT_MAX}
),
pproj AS (
    SELECT pair, CAST(SUM(pd * pd) AS DECIMAL(38,0)) AS d2p_fp
    FROM pdiff GROUP BY 1
),
ratios AS (
    SELECT o.pair,
           CAST(FLOOR(CAST(p.d2p_fp AS DOUBLE) / {_JL_OUT}.0
                      / CAST(o.d2o_fp AS DOUBLE)
                      * 1000000000.0 + 0.5) AS BIGINT) AS r_fp
    FROM orig o JOIN pproj p ON o.pair = p.pair
)
SELECT nv.n_vectors,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(CAST(SUM(r_fp) AS DOUBLE) / 1000000000.0
             / CAST(COUNT(*) AS DOUBLE), 6) AS mean_ratio,
       ROUND(CAST(MIN(r_fp) AS DOUBLE) / 1000000000.0, 6) AS min_ratio,
       ROUND(CAST(MAX(r_fp) AS DOUBLE) / 1000000000.0, 6) AS max_ratio,
       CAST(SUM(CASE WHEN r_fp BETWEEN 500000000 AND 1500000000
                THEN 1 ELSE 0 END) AS BIGINT) AS n_within_half
FROM ratios, nv
GROUP BY nv.n_vectors
""".strip()


@query("jl_projection_distortion", oracle=_JL_SQL)
def jl_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection of the embedding corpus
    from {_JL_DIM} to {_JL_OUT} dims with a DISTORTION AUDIT — the
    dimensionality-reduction workhorse behind cheap ANN pre-filters and
    sketched joins (JL lemma: pairwise distances survive a random
    +-1/sqrt(d') sign projection up to 1+-eps). The sign matrix is
    DETERMINISTIC (md5 hex parity of "j_k" — reproducible anywhere, the
    seeded-md5 bootstrap discipline), broadcast as a {_JL_DIM}x{_JL_OUT}
    literal-free spine; the projection is the data-sized work: explode x
    sign-join x (vec_id, k) re-aggregate, with every addend 1e-9
    fixed-pointed so the sums are EXACT integers (no float association
    anywhere). The audit re-derives squared distances for the pinned
    consecutive-id pairs below {_JL_AUDIT_MAX} on both sides (exact
    HUGEINT/DECIMAL sums of squared integer diffs) and reports the
    projected/original ratio spread — mean/min/max and the count within
    [0.5, 1.5]. n_vectors counts the FULL projection so the optimizer
    cannot prune the corpus-scale map down to the audit subset."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        "vec_id", F.posexplode("embedding").alias("j", "x")
    ).select(
        "vec_id",
        "j",
        F.floor(F.col("x").cast("double") * F.lit(1e9) + F.lit(0.5))
        .cast("long")
        .alias("xq"),
    )
    spark_s = emb.sparkSession
    jm = spark_s.range(_JL_DIM).select(F.col("id").alias("j"))
    km = spark_s.range(_JL_OUT).select(F.col("id").alias("k"))
    sgn = jm.crossJoin(km).select(
        "j",
        "k",
        F.when(
            F.expr(
                "locate(substring(md5(concat(cast(j as string), '_',"
                " cast(k as string))), 1, 1), '0123456789abcdef') % 2 = 1"
            ),
            F.lit(1),
        )
        .otherwise(F.lit(-1))
        .alias("s"),
    )
    proj = (
        ex.join(F.broadcast(sgn), "j")
        .groupBy("vec_id", "k")
        .agg(F.sum(F.col("s") * F.col("xq")).cast("long").alias("p_fp"))
        .localCheckpoint()  # feeds n_vectors AND the audit pair join
    )
    nv = proj.agg(F.countDistinct("vec_id").cast("long").alias("n_vectors"))
    d38 = "decimal(38,0)"
    exa = ex.filter(F.col("vec_id") < _JL_AUDIT_MAX).select(
        F.expr("vec_id div 2").alias("pair"),
        (F.col("vec_id") % 2).alias("side"),
        "j",
        "xq",
    )
    piv = exa.groupBy("pair", "j").agg(
        F.max(F.when(F.col("side") == 0, F.col("xq"))).alias("xa"),
        F.max(F.when(F.col("side") == 1, F.col("xq"))).alias("xb"),
    )
    dd = (F.col("xa") - F.col("xb")).cast(d38)
    orig = piv.groupBy("pair").agg(
        F.sum(dd * dd).cast(d38).alias("d2o_fp")
    )
    pp = proj.filter(F.col("vec_id") < _JL_AUDIT_MAX).select(
        F.expr("vec_id div 2").alias("pair"),
        (F.col("vec_id") % 2).alias("side"),
        "k",
        "p_fp",
    )
    ppiv = pp.groupBy("pair", "k").agg(
        F.max(F.when(F.col("side") == 0, F.col("p_fp"))).alias("pa"),
        F.max(F.when(F.col("side") == 1, F.col("p_fp"))).alias("pb"),
    )
    pd = (F.col("pa") - F.col("pb")).cast(d38)
    pproj = ppiv.groupBy("pair").agg(
        F.sum(pd * pd).cast(d38).alias("d2p_fp")
    )
    # drop unpaired audit vectors (odd total below the cutoff leaves one
    # side NULL → NULL sums); the oracle's inner pair join never sees them
    ratios = orig.join(pproj, "pair").filter(
        F.col("d2o_fp").isNotNull() & F.col("d2p_fp").isNotNull()
    ).select(
        "pair",
        F.floor(
            F.col("d2p_fp").cast("double")
            / F.lit(float(_JL_OUT))
            / F.col("d2o_fp").cast("double")
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("r_fp"),
    )
    return ratios.crossJoin(F.broadcast(nv)).groupBy("n_vectors").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.round(
            F.sum("r_fp").cast("double") / F.lit(1e9)
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_ratio"),
        F.round(F.min("r_fp").cast("double") / F.lit(1e9), 6).alias(
            "min_ratio"
        ),
        F.round(F.max("r_fp").cast("double") / F.lit(1e9), 6).alias(
            "max_ratio"
        ),
        F.sum(
            (
                (F.col("r_fp") >= 500000000) & (F.col("r_fp") <= 1500000000)
            ).cast("long")
        )
        .cast("long")
        .alias("n_within_half"),
    )


# --- Markov removal-effect attribution -----------------------------------------

#: absorption-probability iteration rounds (monotone from below; the
#: oracle walks the IDENTICAL integer sequence, so the hash matches at
#: any T — 24 puts the residual under ~3% of the absorbing mass on
#: journey mixes like this corpus's)
_MRK_T = 24
#: 1e-12 fixed point for absorption probabilities: every iteration is
#: EXACT integer arithmetic (sum(c * x_fp) div tot), so the trajectory
#: is engine-independent by construction.
_MRK_FP = 10**12

_MRK_SQL = f"""
WITH RECURSIVE seq AS (
    SELECT user_id,
           CASE WHEN event_type = 'purchase' THEN 'CONV'
                ELSE event_type END AS cur,
           LAG(CASE WHEN event_type = 'purchase' THEN 'CONV'
               ELSE event_type END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) = 1 AS is_last
    FROM events
),
raw AS (
    SELECT CASE WHEN prev IS NULL OR prev = 'CONV' THEN 'START'
                ELSE prev END AS f,
           cur AS t
    FROM seq
    UNION ALL
    SELECT cur AS f, 'NULL' AS t FROM seq WHERE is_last AND cur <> 'CONV'
),
trans AS (
    SELECT f, t, CAST(COUNT(*) AS BIGINT) AS c FROM raw GROUP BY 1, 2
    UNION ALL
    SELECT 'CONV', 'CONV', 1
),
tot AS (SELECT f, CAST(SUM(c) AS BIGINT) AS n FROM trans GROUP BY 1),
chan AS (
    SELECT DISTINCT event_type AS ch FROM events
    WHERE event_type <> 'purchase'
),
scen AS (SELECT ch AS removed FROM chan UNION ALL SELECT ''),
walk(r, removed, state, x_fp) AS (
    SELECT 0, removed, 'CONV', CAST({_MRK_FP} AS HUGEINT) FROM scen
    UNION ALL
    SELECT w.r + 1, w.removed, tr.f,
           SUM(CAST(tr.c AS HUGEINT) * w.x_fp) // MIN(tt.n)
    FROM walk w
    JOIN trans tr ON tr.t = w.state
    JOIN tot tt ON tt.f = tr.f
    WHERE w.r < {_MRK_T} AND tr.f <> w.removed
    GROUP BY w.r, w.removed, tr.f
),
fin AS (
    -- a scenario whose START state never earns absorbing mass produces
    -- NO walk row: that is absorption probability ZERO, not a missing
    -- scenario
    SELECT s.removed, CAST(COALESCE(w.x_fp, 0) AS BIGINT) AS start_fp
    FROM scen s LEFT JOIN (
        SELECT removed, x_fp FROM walk
        WHERE r = {_MRK_T} AND state = 'START'
    ) w ON w.removed = s.removed
),
base AS (SELECT start_fp AS base_fp FROM fin WHERE removed = ''),
eff AS (
    SELECT f.removed AS channel,
           b.base_fp,
           f.start_fp AS rm_fp,
           b.base_fp - f.start_fp AS effect_fp
    FROM fin f, base b WHERE f.removed <> ''
),
tot_eff AS (SELECT CAST(SUM(effect_fp) AS BIGINT) AS e_all FROM eff)
SELECT channel,
       ROUND(CAST(base_fp AS DOUBLE) / {_MRK_FP}.0, 6) AS base_cvr,
       ROUND(CAST(rm_fp AS DOUBLE) / {_MRK_FP}.0, 6) AS removal_cvr,
       CASE WHEN base_fp = 0 THEN NULL
            ELSE ROUND(CAST(effect_fp AS DOUBLE) / CAST(base_fp AS DOUBLE), 6)
       END AS removal_effect,
       CASE WHEN e_all = 0 THEN NULL
            ELSE ROUND(CAST(effect_fp AS DOUBLE) / CAST(e_all AS DOUBLE), 6)
       END AS attribution_share
FROM eff, tot_eff
ORDER BY channel
""".strip()


@query("markov_removal_attribution", oracle=_MRK_SQL)
def markov_removal_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution (Anderl et al. 2016 — the
    data-driven alternative to the positional/linear rules the engine's
    ``multitouch_attribution`` implements): user journeys become a
    first-order chain over channels with START plus absorbing CONV
    (purchase) / NULL (journey end) states, and a channel's credit is
    its REMOVAL EFFECT — how much the chain's START->CONV absorption
    probability drops when journeys through it are cut. The data-sized
    work is one user-partitioned ordered pass (LAG + last-row flag) and
    one transition count; everything after runs on the <=7-state
    transition matrix. The absorption solve is a monotone fixed-point
    iteration kept EXACT: x' = sum(c * x_fp) div tot in 1e-12 integer
    fixed point, all scenarios (base + one per removed channel) iterated
    together on a (scenario, state) frame, CONV carried as a virtual
    self-loop so one join rule covers absorbers and transients; the
    oracle walks the identical integer trajectory in a recursive CTE,
    so engines agree bit-for-bit at ANY round count. Attribution shares
    are divisions of exact integer effect numerators (base_fp - rm_fp),
    never a float sum across channels."""
    ev = load_table(spark, sf_dir, "events")
    cur = F.when(F.col("event_type") == "purchase", F.lit("CONV")).otherwise(
        F.col("event_type")
    )
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_rev = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    seq = ev.select(
        cur.alias("cur"),
        F.lag(cur).over(w_ord).alias("prev"),
        (F.row_number().over(w_rev) == 1).alias("is_last"),
    )
    fwd = seq.select(
        F.when(
            F.col("prev").isNull() | (F.col("prev") == "CONV"), F.lit("START")
        )
        .otherwise(F.col("prev"))
        .alias("f"),
        F.col("cur").alias("t"),
    )
    ends = seq.filter(F.col("is_last") & (F.col("cur") != "CONV")).select(
        F.col("cur").alias("f"), F.lit("NULL").alias("t")
    )
    # r13 restructure (guide §1.2 step 1 — the serve-core discipline):
    # the data-sized work is exactly ONE ordered pass + transition count;
    # everything after runs on a <= (channels+3)^2 matrix. Previously the
    # 24-round fixed-point walked that tiny frame through ~30 Spark
    # join/groupBy jobs plus 4 eager localCheckpoints. The matrix is
    # parameter-bounded, so collect it ONCE and run the IDENTICAL exact
    # integer trajectory in the driver: x' = sum(c * x_fp) div n in 1e-12
    # fixed point — Python ints are exact, and `//` equals Spark's `div`
    # on these nonnegative decimals, so every scenario trajectory is
    # bit-identical (including row existence: a (removed, f) state exists
    # iff a join partner existed, zero sums kept). The channel set needs
    # no second scan: every event row contributes its cur as a t value,
    # so distinct event_type != purchase is exactly {t} - {CONV, NULL}.
    # Final rounding stays in Spark via the SAME expressions, so float
    # formatting matches the oracle unchanged.
    trans_rows = collect_bounded(
        fwd.unionAll(ends)
        .groupBy("f", "t")
        .agg(F.count(F.lit(1)).cast("long").alias("c")),
        _DOMAIN_CAP,
    ) + [("CONV", "CONV", 1)]
    tot: dict[str, int] = {}
    for f, _t, c in trans_rows:
        tot[f] = tot.get(f, 0) + c
    channels = sorted({t for _f, t, _c in trans_rows} - {"CONV", "NULL"})
    scenarios = channels + [""]
    x: dict[tuple[str, str], int] = {
        (rm, "CONV"): _MRK_FP for rm in scenarios
    }
    for _r in range(_MRK_T):
        acc: dict[tuple[str, str], int] = {}
        for f, t, c in trans_rows:
            for rm in scenarios:
                if f == rm:
                    continue
                xv = x.get((rm, t))
                if xv is not None:
                    acc[(rm, f)] = acc.get((rm, f), 0) + c * xv
        x = {k: v // tot[k[1]] for k, v in acc.items()}
    # a scenario whose START never earns absorbing mass has NO x row:
    # that is probability zero, not a missing scenario
    base_fp = x.get(("", "START"), 0)
    eff_rows = [
        (rm, base_fp, x.get((rm, "START"), 0)) for rm in channels
    ]
    eff_rows = [
        (ch, b, rm_fp, b - rm_fp) for ch, b, rm_fp in eff_rows
    ]
    e_all = sum(r[3] for r in eff_rows)
    return (
        local_frame(
            ev.sparkSession,
            [r + (e_all,) for r in eff_rows],
            "channel string, base_fp long, rm_fp long, "
            "effect_fp long, e_all long",
        )
        .select(
            "channel",
            F.round(F.col("base_fp").cast("double") / F.lit(float(_MRK_FP)), 6)
            .alias("base_cvr"),
            F.round(F.col("rm_fp").cast("double") / F.lit(float(_MRK_FP)), 6)
            .alias("removal_cvr"),
            F.when(F.col("base_fp") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    F.col("effect_fp").cast("double")
                    / F.col("base_fp").cast("double"),
                    6,
                )
            )
            .alias("removal_effect"),
            F.when(F.col("e_all") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    F.col("effect_fp").cast("double")
                    / F.col("e_all").cast("double"),
                    6,
                )
            )
            .alias("attribution_share"),
        )
        .orderBy("channel")
    )


# --- Hilbert-curve layout keys -------------------------------------------------

def _hilbert_oracle_sql() -> str:
    from apache_beam_challange_spark.functions.layout import (
        hilbert_step_exprs,
        scale_to_bits_sql,
    )

    steps = hilbert_step_exprs(8, "//")
    chain = []
    prev = "h0"
    for i, (nx, ny, nd) in enumerate(steps, start=1):
        chain.append(
            f"h{i} AS (SELECT o_orderkey, {nx} AS x, {ny} AS y,"
            f" {nd} AS d FROM {prev})"
        )
        prev = f"h{i}"
    za = scale_to_bits_sql("o_custkey", "mn_c", "mx_c")
    zb = scale_to_bits_sql("day", "mn_d", "mx_d")
    chain_sql = ",\n".join(chain)
    return f"""
WITH dims AS (
    SELECT o_orderkey, o_custkey,
           CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day
    FROM orders
),
b AS (
    SELECT MIN(o_custkey) AS mn_c, MAX(o_custkey) AS mx_c,
           MIN(day) AS mn_d, MAX(day) AS mx_d
    FROM dims
),
h0 AS (
    SELECT o_orderkey, {za} AS x, {zb} AS y, 0 AS d
    FROM dims, b
),
{chain_sql}
SELECT o_orderkey, CAST(d AS BIGINT) AS hkey FROM {prev}
""".strip()


@query("hilbert_orders_keys", oracle=_hilbert_oracle_sql())
def hilbert_orders_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hilbert-curve layout keys over (o_custkey, order day) — the
    better-locality twin of ``zorder_orders_keys``: the Hilbert curve
    visits grid cells in UNIT steps (every consecutive pair of keys is
    an adjacent cell — property-tested), so sorted row groups cover
    even tighter rectangles than Morton order, whose bit-interleave
    jumps across the plane at power-of-two boundaries (the layout
    choice Delta Lake exposes as liquid-clustering-style curves). Both
    dimensions scale to 8-bit ranks by the shared exact monotone map;
    the xy2d walk runs as 8 materialized integer projections (one per
    bit level, XOR-free quadrant arithmetic), generated from ONE
    expression builder for both engines — keys are engine-identical by
    construction. Scale shape: narrow projection against broadcast
    global bounds; the sort itself is the range-partitioned write the
    compaction operator owns."""
    from apache_beam_challange_spark.functions.layout import (
        hilbert_step_exprs,
        scale_to_bits,
    )

    orders = load_table(spark, sf_dir, "orders")
    dims = orders.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
        .cast("long")
        .alias("day"),
    )
    b = dims.agg(
        F.min("o_custkey").alias("mn_c"),
        F.max("o_custkey").alias("mx_c"),
        F.min("day").alias("mn_d"),
        F.max("day").alias("mx_d"),
    )
    h = dims.crossJoin(F.broadcast(b)).select(
        "o_orderkey",
        scale_to_bits(F.col("o_custkey"), F.col("mn_c"), F.col("mx_c")).alias(
            "x"
        ),
        scale_to_bits(F.col("day"), F.col("mn_d"), F.col("mx_d")).alias("y"),
        F.lit(0).cast("long").alias("d"),
    )
    for nx, ny, nd in hilbert_step_exprs(8, "div"):
        h = h.select(
            "o_orderkey",
            F.expr(nx).alias("x"),
            F.expr(ny).alias("y"),
            F.expr(nd).alias("d"),
        )
    return h.select("o_orderkey", F.col("d").cast("long").alias("hkey"))


# --- n-gram novelty profile by source ------------------------------------------

_NOVEL_SQL = """
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
),
pos AS (
    SELECT doc_id, tokens,
           unnest(generate_series(1, greatest(len(tokens) - 2, 1))) AS i
    FROM tok
),
sh AS (
    SELECT doc_id, array_to_string(tokens[i:i+2], ' ') AS shingle
    FROM pos
),
occ AS (
    SELECT doc_id, shingle, CAST(COUNT(*) AS BIGINT) AS c
    FROM sh GROUP BY 1, 2
),
firsts AS (
    SELECT shingle, CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM occ GROUP BY 1
),
pairs AS (
    SELECT o.doc_id, o.c,
           CASE WHEN o.doc_id = f.first_doc THEN 1 ELSE 0 END AS novel
    FROM occ o JOIN firsts f ON o.shingle = f.shingle
)
SELECT d.source,
       CAST(SUM(p.c) AS BIGINT) AS n_occurrences,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(p.novel) AS BIGINT) AS n_novel_pairs,
       ROUND(CAST(SUM(p.novel) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS novelty_rate,
       ROUND(CAST(SUM(p.c) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
           AS repetition
FROM pairs p JOIN documents d ON d.doc_id = p.doc_id
GROUP BY d.source
ORDER BY d.source
""".strip()


@query("ngram_novelty_by_source", oracle=_NOVEL_SQL)
def ngram_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram novelty profile per source — the stream-order curation
    diagnostic next to Heaps' law (which fits VOCABULARY growth; this
    measures how much of each source's n-gram inventory is introduced
    by that source vs already seen earlier in the corpus): a (doc,
    shingle) pair is NOVEL iff the doc is the shingle's corpus-wide
    MINIMUM doc_id — the same first-occurrence trick that makes
    ``heaps_law_fit_tokens`` exact with no prefix replay. Reports
    occurrence and distinct-pair counts, the novelty rate, and the
    within-doc repetition factor (occurrences per distinct pair — the
    boilerplate signal). Data-sized work: the shingle explode and two
    shingle-keyed aggregates (the MinHash pipeline's shuffle shape);
    the backfill joins are doc-keyed."""
    from apache_beam_challange_spark.operators.dedup import shingles

    docs = load_table(spark, sf_dir, "documents")
    sh = shingles(docs, "text", 3)
    occ = sh.groupBy("doc_id", "shingle").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # occ feeds the firsts aggregate AND the novelty join: materialize
    # the shingle shuffle once.
    occ = occ.localCheckpoint()
    firsts = occ.groupBy("shingle").agg(
        F.min("doc_id").cast("long").alias("first_doc")
    )
    pairs = occ.join(firsts, "shingle").select(
        "doc_id",
        "c",
        (F.col("doc_id") == F.col("first_doc")).cast("long").alias("novel"),
    )
    return (
        pairs.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_occurrences"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("novel").cast("long").alias("n_novel_pairs"),
            F.round(
                F.sum("novel").cast("double")
                / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("novelty_rate"),
            F.round(
                F.sum("c").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("repetition"),
        )
        .orderBy("source")
    )


# --- exact Shapley-value attribution -------------------------------------------

#: factorial lookup spine (covers k <= 7 channels; the corpus has 4)
_SHAP_FACT = [(0, 1), (1, 1), (2, 2), (3, 6), (4, 24), (5, 120), (6, 720), (7, 5040)]
_SHAP_FACT_VALUES = ", ".join(f"({i}, {f})" for i, f in _SHAP_FACT)

_SHAP_SQL = f"""
WITH seq AS (
    SELECT user_id, event_type, ts, event_id,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1
                             ELSE 0 END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS journey
    FROM events
),
chan AS (
    SELECT event_type AS ch,
           CAST(ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS BIGINT) AS bit
    FROM (SELECT DISTINCT event_type FROM events
          WHERE event_type <> 'purchase')
),
k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM chan),
jy AS (
    SELECT s.user_id, s.journey,
           CAST(SUM(DISTINCT CASE WHEN s.event_type <> 'purchase'
                    THEN CAST(POWER(2, c.bit) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS mask,
           CAST(MAX(CASE WHEN s.event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS conv
    FROM seq s LEFT JOIN chan c ON c.ch = s.event_type
    GROUP BY 1, 2
),
masks AS (
    SELECT mask, CAST(SUM(conv) AS BIGINT) AS convs FROM jy GROUP BY 1
),
coal AS (
    SELECT unnest(generate_series(0, CAST(POWER(2, (SELECT k FROM k))
                                          AS BIGINT) - 1)) AS s
),
v AS (
    SELECT c.s, CAST(COALESCE(SUM(m.convs), 0) AS BIGINT) AS v_s
    FROM coal c LEFT JOIN masks m ON (m.mask & c.s) = m.mask
    GROUP BY 1
),
fact AS (SELECT * FROM (VALUES {_SHAP_FACT_VALUES}) t(i, f)),
terms AS (
    SELECT ch.ch AS channel,
           CAST(SUM(fs.f * fks.f
                    * (vwith.v_s - v.v_s)) AS BIGINT) AS phi_kfact
    FROM chan ch
    CROSS JOIN k
    JOIN v ON (v.s & CAST(POWER(2, ch.bit) AS BIGINT)) = 0
    JOIN v vwith ON vwith.s = v.s + CAST(POWER(2, ch.bit) AS BIGINT)
    JOIN fact fs ON fs.i = bit_count(v.s)
    JOIN fact fks ON fks.i = k.k - bit_count(v.s) - 1
    GROUP BY 1
),
kf AS (SELECT f.f AS kfact FROM k JOIN fact f ON f.i = k.k),
tot AS (SELECT CAST(SUM(phi_kfact) AS BIGINT) AS phi_all FROM terms)
SELECT channel,
       ROUND(CAST(phi_kfact AS DOUBLE) / CAST(kfact AS DOUBLE), 6)
           AS shapley_conversions,
       CASE WHEN phi_all = 0 THEN NULL
            ELSE ROUND(CAST(phi_kfact AS DOUBLE) / CAST(phi_all AS DOUBLE), 6)
       END AS attribution_share
FROM terms, kf, tot
ORDER BY channel
""".strip()


@query("shapley_attribution", oracle=_SHAP_SQL)
def shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Shapley-value attribution over journey channel coalitions
    (Shapley 1953; the coalition-game companion to
    ``markov_removal_attribution`` and the rule-based splitter): the
    characteristic function v(S) = conversions reachable using only
    channels in S (journeys whose touched-channel set is a subset),
    and a channel's credit is its exact Shapley value — computed with
    ZERO approximation because the channel universe is small (k <= 7
    guarded by the factorial spine; this corpus has 4, so 16
    coalitions). Journeys reuse the Markov query's definition (user
    stream split after each purchase); each journey collapses to a
    (bitmask, converted) pair, v(S) is a subset-sum join over the
    <=2^k mask table, and phi * k! is an EXACT integer (factorial
    weights from a pinned lookup spine, bit_count spelled identically
    in both engines) — shares are divisions of exact integers. The
    data-sized work is one user-partitioned window + one journey
    aggregate; everything after is 2^k-bounded."""
    ev = load_table(spark, sf_dir, "events")
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "event_type",
        F.coalesce(
            F.sum((F.col("event_type") == "purchase").cast("long")).over(
                w_prev
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("journey"),
    )
    chan = (
        ev.filter(F.col("event_type") != "purchase")
        .select(F.col("event_type").alias("ch"))
        .distinct()
        .select(
            "ch",
            (F.row_number().over(Window.orderBy("ch")) - 1)
            .cast("long")
            .alias("bit"),
        )
    )
    kf = chan.agg(F.count(F.lit(1)).cast("long").alias("k"))
    jy = (
        seq.join(F.broadcast(chan), seq["event_type"] == chan["ch"], "left")
        .groupBy("user_id", "journey")
        .agg(
            F.sum_distinct(
                F.when(
                    F.col("event_type") != "purchase",
                    F.pow(F.lit(2), F.col("bit")).cast("long"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("mask"),
            F.max((F.col("event_type") == "purchase").cast("long")).alias(
                "conv"
            ),
        )
    )
    masks = jy.groupBy("mask").agg(F.sum("conv").cast("long").alias("convs"))
    spark_s = ev.sparkSession
    coal = (
        F.broadcast(kf)
        .crossJoin(spark_s.range(128).select(F.col("id").alias("s")))
        .filter(F.expr("s < CAST(pow(2, k) AS BIGINT)"))
        .select("s")
    )
    v = (
        coal.join(
            masks, F.expr("(mask & s) = mask"), "left"
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("convs"), F.lit(0)).cast("long").alias("v_s"))
        .localCheckpoint()  # tiny; feeds two sides of the pair join
    )
    fact = F.broadcast(
        local_frame(spark_s, _SHAP_FACT, "i long, f long")
    )
    vwith = v.select(F.col("s").alias("s2"), F.col("v_s").alias("v_with"))
    terms = (
        chan.crossJoin(F.broadcast(kf))
        .join(v, F.expr("(s & CAST(pow(2, bit) AS BIGINT)) = 0"))
        .join(vwith, F.expr("s2 = s + CAST(pow(2, bit) AS BIGINT)"))
        .join(fact.select(F.col("i").alias("i1"), F.col("f").alias("f1")),
              F.expr("i1 = bit_count(s)"))
        .join(fact.select(F.col("i").alias("i2"), F.col("f").alias("f2")),
              F.expr("i2 = k - bit_count(s) - 1"))
        .groupBy("ch")
        .agg(
            F.sum(F.col("f1") * F.col("f2") * (F.col("v_with") - F.col("v_s")))
            .cast("long")
            .alias("phi_kfact")
        )
    )
    kfact = kf.join(fact, F.expr("i = k")).select(F.col("f").alias("kfact"))
    tot = terms.agg(F.sum("phi_kfact").cast("long").alias("phi_all"))
    return (
        terms.crossJoin(F.broadcast(kfact))
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("ch").alias("channel"),
            F.round(
                F.col("phi_kfact").cast("double")
                / F.col("kfact").cast("double"),
                6,
            ).alias("shapley_conversions"),
            F.when(F.col("phi_all") == 0, F.lit(None).cast("double"))
            .otherwise(
                F.round(
                    F.col("phi_kfact").cast("double")
                    / F.col("phi_all").cast("double"),
                    6,
                )
            )
            .alias("attribution_share"),
        )
        .orderBy("channel")
    )


# --- split-conformal prediction intervals --------------------------------------

#: miscoverage level alpha = 0.1 -> 90% marginal coverage target
_CONF_ALPHA_NUM = 9   # 1 - alpha = 9/10, kept as exact integers
_CONF_ALPHA_DEN = 10

_CONF_SQL = f"""
WITH base AS (
    SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
           event_id % 2 AS fold
    FROM events
),
fit AS (
    SELECT h,
           CAST(SUM(vc) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS pred_c
    FROM base WHERE fold = 0 GROUP BY 1
),
scores AS (
    SELECT ABS(b.vc - f.pred_c) AS r
    FROM base b JOIN fit f ON f.h = b.h
    WHERE b.fold = 1
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM scores),
hist AS (
    SELECT r, CAST(COUNT(*) AS BIGINT) AS c FROM scores GROUP BY 1
),
cum AS (
    SELECT r, CAST(SUM(c) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED
               PRECEDING AND CURRENT ROW) AS BIGINT) AS cumc
    FROM hist
),
q AS (
    SELECT MIN(r) AS q_c FROM cum, n
    WHERE cumc >= ({_CONF_ALPHA_NUM} * (n_cal + 1) + {_CONF_ALPHA_DEN} - 1)
                  // {_CONF_ALPHA_DEN}
),
cov AS (
    SELECT CAST(SUM(CASE WHEN r <= q_c THEN 1 ELSE 0 END) AS BIGINT) AS n_in
    FROM scores, q
)
SELECT f.h AS hour,
       ROUND(CAST(f.pred_c AS DOUBLE) / 100.0, 6) AS pred,
       ROUND(CAST(f.pred_c - q.q_c AS DOUBLE) / 100.0, 6) AS lo,
       ROUND(CAST(f.pred_c + q.q_c AS DOUBLE) / 100.0, 6) AS hi,
       n.n_cal,
       ROUND(CAST(cov.n_in AS DOUBLE) / CAST(n.n_cal AS DOUBLE), 6)
           AS calib_coverage
FROM fit f, q, n, cov
ORDER BY f.h
""".strip()


@query("conformal_value_intervals", oracle=_CONF_SQL)
def conformal_value_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction intervals (Vovk et al.; the
    distribution-free uncertainty wrapper every point predictor should
    ship with): the hour-of-day cent-mean fit on the even event_id fold
    is the model, absolute residuals on the odd fold are the
    nonconformity scores, and the interval half-width is the
    ceil((n+1)(1-alpha))-th smallest score — guaranteed >= 90% marginal
    coverage with NO distributional assumption. Everything is exact
    integers: the fit is an integer-div cent mean (documented floor),
    scores are integer cents, the quantile is a threshold pick over the
    DOMAIN-bounded score histogram (ceil spelled ``(9(n+1)+9) div 10``),
    and the realized calibration coverage is an exact count ratio. Two
    conditional aggregates + one broadcast fit join are the data-sized
    work."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("vc"),
        F.hour("ts").cast("long").alias("h"),
        (F.col("event_id") % 2).alias("fold"),
    )
    # base feeds the fit aggregate and the calibration join
    base = base.localCheckpoint()
    fit = (
        base.filter(F.col("fold") == 0)
        .groupBy("h")
        .agg(F.expr("CAST(sum(vc) div count(1) AS BIGINT)").alias("pred_c"))
    )
    scores = (
        base.filter(F.col("fold") == 1)
        .join(F.broadcast(fit), "h")
        .select(F.abs(F.col("vc") - F.col("pred_c")).alias("r"))
    )
    hist = (
        scores.groupBy("r")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()  # feeds n_cal, the cum walk, and coverage
    )
    n = hist.agg(F.sum("c").cast("long").alias("n_cal"))
    w_cum = Window.orderBy("r").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select("r", F.sum("c").over(w_cum).cast("long").alias("cumc"))
    thresh = F.expr(
        f"({_CONF_ALPHA_NUM} * (n_cal + 1) + {_CONF_ALPHA_DEN} - 1)"
        f" div {_CONF_ALPHA_DEN}"
    )
    q = (
        cum.crossJoin(F.broadcast(n))
        .filter(F.col("cumc") >= thresh)
        .agg(F.min("r").alias("q_c"))
    )
    cov = (
        hist.crossJoin(F.broadcast(q))
        .agg(
            F.sum(F.when(F.col("r") <= F.col("q_c"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_in")
        )
    )
    return (
        fit.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(cov))
        .select(
            F.col("h").alias("hour"),
            F.round(F.col("pred_c").cast("double") / F.lit(100.0), 6).alias(
                "pred"
            ),
            F.round(
                (F.col("pred_c") - F.col("q_c")).cast("double") / F.lit(100.0),
                6,
            ).alias("lo"),
            F.round(
                (F.col("pred_c") + F.col("q_c")).cast("double") / F.lit(100.0),
                6,
            ).alias("hi"),
            "n_cal",
            F.round(
                F.col("n_in").cast("double") / F.col("n_cal").cast("double"),
                6,
            ).alias("calib_coverage"),
        )
        .orderBy("hour")
    )


# --- jackknife variance of a ratio metric --------------------------------------

#: user-hash buckets for the delete-one-group jackknife
_JK_BUCKETS = 32
#: pinned z for the 95% interval (shared literal, zero libm)
_Z95 = 1.959963984540054

_JK_SQL = f"""
WITH per AS (
    SELECT user_id % {_JK_BUCKETS} AS b,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS r_b,
           CAST(COUNT(*) AS BIGINT) AS s_b
    FROM events GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(r_b) AS BIGINT) AS r_all,
           CAST(SUM(s_b) AS BIGINT) AS s_all,
           CAST(COUNT(*) AS BIGINT) AS nb
    FROM per
),
loo AS (
    SELECT p.b, t.r_all, t.s_all, t.nb,
           CAST(FLOOR(CAST(t.r_all - p.r_b AS DOUBLE)
                      / CAST(t.s_all - p.s_b AS DOUBLE)
                      * 1000000000000.0 + 0.5) AS BIGINT) AS theta_fp
    FROM per p, tot t
),
bar AS (
    SELECT r_all, s_all, nb,
           CAST(SUM(theta_fp) AS BIGINT) AS theta_sum
    FROM loo GROUP BY 1, 2, 3
),
dev AS (
    SELECT l.r_all, l.s_all, l.nb,
           CAST(SUM(CAST((CAST(l.nb AS HUGEINT) * l.theta_fp - b.theta_sum)
                         * (CAST(l.nb AS HUGEINT) * l.theta_fp - b.theta_sum)
                         AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS ss
    FROM loo l JOIN bar b USING (r_all, s_all, nb)
    GROUP BY 1, 2, 3
)
SELECT CAST(nb AS BIGINT) AS n_buckets,
       ROUND(CAST(r_all AS DOUBLE) / CAST(s_all AS DOUBLE) / 100.0, 6)
           AS ratio,
       ROUND(SQRT(CAST(ss AS DOUBLE) * CAST(nb - 1 AS DOUBLE)
                  / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)
                     * CAST(nb AS DOUBLE)))
             / 1000000000000.0 / 100.0, 6) AS jk_se,
       ROUND(CAST(r_all AS DOUBLE) / CAST(s_all AS DOUBLE) / 100.0
             - {_Z95} * SQRT(CAST(ss AS DOUBLE) * CAST(nb - 1 AS DOUBLE)
                  / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)
                     * CAST(nb AS DOUBLE)))
               / 1000000000000.0 / 100.0, 6) AS lo95,
       ROUND(CAST(r_all AS DOUBLE) / CAST(s_all AS DOUBLE) / 100.0
             + {_Z95} * SQRT(CAST(ss AS DOUBLE) * CAST(nb - 1 AS DOUBLE)
                  / (CAST(nb AS DOUBLE) * CAST(nb AS DOUBLE)
                     * CAST(nb AS DOUBLE)))
               / 1000000000000.0 / 100.0, 6) AS hi95
FROM dev
""".strip()


@query("jackknife_ratio_variance", oracle=_JK_SQL)
def jackknife_ratio_variance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-bucket jackknife for the RATIO metric "purchase cents
    per event" — the experimentation answer to a question the per-row
    bootstrap cannot pose: ratio metrics (revenue/session, CTR) have
    correlated numerator and denominator, so their variance needs
    resampling at the RANDOMIZATION-UNIT level. Users hash into
    {_JK_BUCKETS} buckets (deterministic ``user_id % B`` — the
    bucketed jackknife every large platform runs because delete-one-
    user is O(users) recomputes); leave-one-out ratios come from
    global-minus-bucket EXACT integer sums (the LOO-influence algebra),
    each 1e-12 fixed-pointed before the cross-bucket moment sums, and
    jk_var = (B-1)/B * sum(theta_b - theta_bar)^2 is computed from the
    n-scaled integer deviations (n*theta_fp - sum) so no float mean is
    ever subtracted. One map-side-combined bucket aggregate is the
    data-sized work; read next to ``delta_method_ratio_ci`` (the
    closed-form linearization of the same metric — two independent
    routes to one uncertainty)."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy((F.col("user_id") % _JK_BUCKETS).alias("b")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("r_b"),
        F.count(F.lit(1)).cast("long").alias("s_b"),
    )
    tot = per.agg(
        F.sum("r_b").cast("long").alias("r_all"),
        F.sum("s_b").cast("long").alias("s_all"),
        F.count(F.lit(1)).cast("long").alias("nb"),
    )
    loo = per.crossJoin(F.broadcast(tot)).select(
        "r_all",
        "s_all",
        "nb",
        F.floor(
            (F.col("r_all") - F.col("r_b")).cast("double")
            / (F.col("s_all") - F.col("s_b")).cast("double")
            * F.lit(1e12)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("theta_fp"),
    )
    bar = loo.groupBy("r_all", "s_all", "nb").agg(
        F.sum("theta_fp").cast("long").alias("theta_sum")
    )
    d38 = "decimal(38,0)"
    dev_term = (
        F.col("nb").cast(d38) * F.col("theta_fp").cast(d38)
        - F.col("theta_sum").cast(d38)
    )
    dev = (
        loo.join(F.broadcast(bar), ["r_all", "s_all", "nb"])
        .groupBy("r_all", "s_all", "nb")
        .agg(F.sum(dev_term * dev_term).cast(d38).alias("ss"))
    )
    ratio = F.col("r_all").cast("double") / F.col("s_all").cast("double") / F.lit(100.0)
    se = (
        F.sqrt(
            F.col("ss").cast("double")
            * (F.col("nb") - F.lit(1)).cast("double")
            / (
                F.col("nb").cast("double")
                * F.col("nb").cast("double")
                * F.col("nb").cast("double")
            )
        )
        / F.lit(1e12)
        / F.lit(100.0)
    )
    return dev.select(
        F.col("nb").alias("n_buckets"),
        F.round(ratio, 6).alias("ratio"),
        F.round(se, 6).alias("jk_se"),
        F.round(ratio - F.lit(_Z95) * se, 6).alias("lo95"),
        F.round(ratio + F.lit(_Z95) * se, 6).alias("hi95"),
    )


# --- delta-method ratio CI -----------------------------------------------------

_DELTA_SQL = f"""
WITH per AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS r_u,
           CAST(COUNT(*) AS BIGINT) AS s_u
    FROM events GROUP BY 1
),
m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(r_u) AS BIGINT) AS r_all,
           CAST(SUM(s_u) AS BIGINT) AS s_all,
           CAST(SUM(CAST(r_u AS HUGEINT) * r_u) AS DECIMAL(38,0)) AS rr,
           CAST(SUM(CAST(r_u AS HUGEINT) * s_u) AS DECIMAL(38,0)) AS rs,
           CAST(SUM(CAST(s_u AS HUGEINT) * s_u) AS DECIMAL(38,0)) AS ss
    FROM per
)
SELECT n AS n_users,
       ROUND(CAST(r_all AS DOUBLE) / CAST(s_all AS DOUBLE) / 100.0, 6)
           AS ratio,
       ROUND(SQRT((CAST(rr AS DOUBLE)
                   - 2.0 * (CAST(r_all AS DOUBLE) / CAST(s_all AS DOUBLE))
                     * CAST(rs AS DOUBLE)
                   + (CAST(r_all AS DOUBLE) / CAST(s_all AS DOUBLE))
                     * (CAST(r_all AS DOUBLE) / CAST(s_all AS DOUBLE))
                     * CAST(ss AS DOUBLE))
                  * CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
             / CAST(s_all AS DOUBLE) / 100.0, 6) AS delta_se,
       ROUND(CAST(r_all AS DOUBLE) / CAST(s_all AS DOUBLE) / 100.0
             - {_Z95} * SQRT((CAST(rr AS DOUBLE)
                   - 2.0 * (CAST(r_all AS DOUBLE) / CAST(s_all AS DOUBLE))
                     * CAST(rs AS DOUBLE)
                   + (CAST(r_all AS DOUBLE) / CAST(s_all AS DOUBLE))
                     * (CAST(r_all AS DOUBLE) / CAST(s_all AS DOUBLE))
                     * CAST(ss AS DOUBLE))
                  * CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
               / CAST(s_all AS DOUBLE) / 100.0, 6) AS lo95,
       ROUND(CAST(r_all AS DOUBLE) / CAST(s_all AS DOUBLE) / 100.0
             + {_Z95} * SQRT((CAST(rr AS DOUBLE)
                   - 2.0 * (CAST(r_all AS DOUBLE) / CAST(s_all AS DOUBLE))
                     * CAST(rs AS DOUBLE)
                   + (CAST(r_all AS DOUBLE) / CAST(s_all AS DOUBLE))
                     * (CAST(r_all AS DOUBLE) / CAST(s_all AS DOUBLE))
                     * CAST(ss AS DOUBLE))
                  * CAST(n AS DOUBLE) / CAST(n - 1 AS DOUBLE))
               / CAST(s_all AS DOUBLE) / 100.0, 6) AS hi95
FROM m
""".strip()


@query("delta_method_ratio_ci", oracle=_DELTA_SQL)
def delta_method_ratio_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method (Taylor linearization) CI for the SAME ratio metric
    the jackknife query resamples — the closed-form route (Deng et al.,
    KDD 2018 lineage: linearize R/S around the mean, var = sum(r_u -
    rho*s_u)^2 * n/(n-1) / S^2 over randomization units): five exact
    integer moments (n, R, S, sum r^2, sum rs, sum s^2 in HUGEINT/
    DECIMAL) from ONE user aggregate, then one identical double
    expression. Reading this next to ``jackknife_ratio_variance`` gives
    two INDEPENDENT uncertainty routes to one metric — the
    methods-cross-validation test pins their agreement on synthetic
    data. Scale: the user aggregate is the only shuffle; no resampling
    pass at all."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("r_u"),
        F.count(F.lit(1)).cast("long").alias("s_u"),
    )
    d38 = "decimal(38,0)"
    m = per.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r_u").cast("long").alias("r_all"),
        F.sum("s_u").cast("long").alias("s_all"),
        F.sum(F.col("r_u").cast(d38) * F.col("r_u").cast(d38))
        .cast(d38)
        .alias("rr"),
        F.sum(F.col("r_u").cast(d38) * F.col("s_u").cast(d38))
        .cast(d38)
        .alias("rs"),
        F.sum(F.col("s_u").cast(d38) * F.col("s_u").cast(d38))
        .cast(d38)
        .alias("ss"),
    )
    rho = F.col("r_all").cast("double") / F.col("s_all").cast("double")
    lin = (
        F.col("rr").cast("double")
        - F.lit(2.0) * rho * F.col("rs").cast("double")
        + rho * rho * F.col("ss").cast("double")
    )
    se = (
        F.sqrt(
            lin * F.col("n").cast("double") / (F.col("n") - F.lit(1)).cast("double")
        )
        / F.col("s_all").cast("double")
        / F.lit(100.0)
    )
    ratio = rho / F.lit(100.0)
    return m.select(
        F.col("n").alias("n_users"),
        F.round(ratio, 6).alias("ratio"),
        F.round(se, 6).alias("delta_se"),
        F.round(ratio - F.lit(_Z95) * se, 6).alias("lo95"),
        F.round(ratio + F.lit(_Z95) * se, 6).alias("hi95"),
    )


# --- Huber M-estimator of location ---------------------------------------------

#: IRLS rounds (monotone-convergent reweighting; the oracle walks the
#: identical integer trajectory, so engines agree at any T)
_HUBER_T = 12
#: Huber tuning constant (95% Gaussian efficiency), applied to the MAD
_HUBER_K = 1.345

_HUBER_SQL = f"""
WITH RECURSIVE hist AS MATERIALIZED (
    SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS vb,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
cum AS (
    SELECT event_type, vb,
           CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY vb
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cc,
           CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT) AS n
    FROM hist
),
med AS (
    SELECT event_type, MIN(n) AS n,
           CAST(MIN(CASE WHEN 2 * cc >= n THEN vb END) AS BIGINT) AS med
    FROM cum GROUP BY 1
),
dev AS (
    SELECT h.event_type, ABS(h.vb - m.med) AS db,
           CAST(SUM(h.c) AS BIGINT) AS c
    FROM hist h JOIN med m ON m.event_type = h.event_type
    GROUP BY 1, 2
),
dcum AS (
    SELECT d.event_type, d.db,
           CAST(SUM(d.c) OVER (PARTITION BY d.event_type ORDER BY d.db
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cc,
           m.n
    FROM dev d JOIN med m ON m.event_type = d.event_type
),
mad AS (
    SELECT event_type,
           CAST(MIN(CASE WHEN 2 * cc >= n THEN db END) AS BIGINT) AS mad
    FROM dcum GROUP BY 1
),
kf AS (
    SELECT m.event_type, m.n, m.med, d.mad,
           CAST(FLOOR({_HUBER_K} * CAST(d.mad AS DOUBLE) * 1000000.0 + 0.5)
                AS BIGINT) AS k_fp
    FROM med m JOIN mad d ON d.event_type = m.event_type
),
walk(r, event_type, m_fp) AS (
    SELECT 0, event_type, CAST(med * 1000000 AS HUGEINT) FROM kf
    UNION ALL
    SELECT w.r + 1, w.event_type,
           (SUM(CAST(h.c AS HUGEINT)
                * (CASE WHEN h.vb * 1000000 - w.m_fp = 0 THEN 1000000
                   ELSE LEAST(1000000,
                        (k.k_fp * 1000000)
                        // ABS(h.vb * 1000000 - w.m_fp)) END)
                * h.vb) * 1000000)
           // SUM(CAST(h.c AS HUGEINT)
                  * (CASE WHEN h.vb * 1000000 - w.m_fp = 0 THEN 1000000
                     ELSE LEAST(1000000,
                          (k.k_fp * 1000000)
                          // ABS(h.vb * 1000000 - w.m_fp)) END))
    FROM walk w
    JOIN hist h ON h.event_type = w.event_type
    JOIN kf k ON k.event_type = w.event_type
    WHERE w.r < {_HUBER_T}
    GROUP BY w.r, w.event_type
)
SELECT k.event_type, k.n,
       ROUND(CAST(k.med AS DOUBLE) / 100.0, 6) AS median,
       ROUND(CAST(k.mad AS DOUBLE) / 100.0, 6) AS mad,
       ROUND(CAST(w.m_fp AS DOUBLE) / 1000000.0 / 100.0, 6)
           AS huber_location
FROM kf k JOIN walk w ON w.event_type = k.event_type AND w.r = {_HUBER_T}
ORDER BY k.event_type
""".strip()


@query("huber_location_by_type", oracle=_HUBER_SQL)
def huber_location_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimator of location per event type (k = {_HUBER_K} x
    MAD, the 95%-efficiency tuning) — the robust-location ladder's top
    rung above the median/trimmed/winsorized family: IRLS down-weights
    outliers smoothly (w = min(1, k/|r|)) instead of dropping or
    clamping them. The entire iteration runs on the DOMAIN-bounded cent
    histogram in EXACT integer arithmetic: m and k are 1e-6 fixed
    point, weights are integer divisions (zero-residual bucket pinned
    to full weight), and each round is one weighted integer mean
    ``(sum c*w*vb * 1e6) div (sum c*w)`` — the oracle's recursive CTE
    walks the identical trajectory, so engines agree at any round
    count. Median and MAD seeds reuse the zero-float pick discipline.
    One data-sized aggregate; {_HUBER_T} histogram folds after it."""
    ev = load_table(spark, sf_dir, "events")
    hist = ev.groupBy(
        "event_type",
        F.floor(F.col("value") * 100).cast("long").alias("vb"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    # r13 (guide §1.2 — the wave6 driver-solve discipline, §3 of
    # OPTIMIZATION_r13.md, boundary revisited): the IRLS state is the
    # cent HISTOGRAM — bounded by the VALUE DOMAIN (|types| x 100*max
    # value buckets), not by corpus size, so at any corpus the collect
    # stays the same few MB (47k rows at sf0.1). The 12 reweighting
    # rounds walk the identical exact-integer trajectory in the driver
    # (values are nonnegative, so Python // == Spark's decimal div;
    # k_fp replays the one float expression with the same left-
    # associated IEEE ops); final rounding stays in Spark via the SAME
    # expressions. One data-sized aggregate + one domain-bounded
    # collect replaces 12 broadcast-join rounds + 3 checkpoint jobs.
    # Loud guard: a domain too wide for the driver falls back to the
    # original in-Spark IRLS (identical trajectory, never wrong).
    # The bounded collect caps driver memory before any row arrives. A
    # domain over the cap, a negative bucket (the `//` == Spark-div
    # replay needs value >= 0) and a NULL bucket (a NULL value has no
    # integer replay) all fall back to the in-Spark IRLS.
    try:
        rows = collect_bounded(hist, _DOMAIN_CAP)
    except CollectCapExceeded:
        rows = None
    if rows is None or any(vb is None or vb < 0 for _t, vb, _c in rows):
        return _huber_irls_spark(spark, hist.localCheckpoint())
    import math as _math

    by_type: dict[str, dict[int, int]] = {}
    for etype, vb, c in rows:
        by_type.setdefault(str(etype), {})[vb] = c
    out_rows = []
    for etype in sorted(by_type):
        buckets = by_type[etype]
        n = sum(buckets.values())
        cc = 0
        med = None
        for vb in sorted(buckets):
            cc += buckets[vb]
            if 2 * cc >= n:
                med = vb
                break
        dev: dict[int, int] = {}
        for vb, c in buckets.items():
            db = abs(vb - med)
            dev[db] = dev.get(db, 0) + c
        cc = 0
        mad = None
        for db in sorted(dev):
            cc += dev[db]
            if 2 * cc >= n:
                mad = db
                break
        k_fp = int(_math.floor(_HUBER_K * float(mad) * 1e6 + 0.5))
        m_fp = med * 1_000_000
        for _ in range(_HUBER_T):
            sw = swv = 0
            for vb, c in buckets.items():
                resid = vb * 1_000_000 - m_fp
                if resid == 0:
                    w = 1_000_000
                else:
                    w = min(1_000_000, (k_fp * 1_000_000) // abs(resid))
                sw += c * w
                swv += c * w * vb
            m_fp = (swv * 1_000_000) // sw
        out_rows.append((etype, n, med, mad, m_fp))
    out = local_frame(
        spark, out_rows, "event_type string, n long, med long, mad long, m_fp long"
    )
    return out.select(
        "event_type",
        "n",
        F.round(F.col("med").cast("double") / F.lit(100.0), 6).alias("median"),
        F.round(F.col("mad").cast("double") / F.lit(100.0), 6).alias("mad"),
        F.round(
            F.col("m_fp").cast("double") / F.lit(1e6) / F.lit(100.0), 6
        ).alias("huber_location"),
    ).orderBy("event_type")


def _huber_irls_spark(spark: SparkSession, hist: DataFrame) -> DataFrame:
    """The original fully-in-Spark IRLS route, kept as the loud-guard
    fallback for value domains too wide for the driver histogram solve
    (identical trajectory — the driver path replays exactly this)."""
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("vb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "vb",
        F.sum("c").over(wcum).cast("long").alias("cc"),
        F.sum("c").over(wall).cast("long").alias("n"),
    )
    med = cum.groupBy("event_type").agg(
        F.min("n").alias("n"),
        F.min(F.when(2 * F.col("cc") >= F.col("n"), F.col("vb")))
        .cast("long")
        .alias("med"),
    )
    dev = (
        hist.join(F.broadcast(med), "event_type")
        .groupBy("event_type", F.abs(F.col("vb") - F.col("med")).alias("db"))
        .agg(F.sum("c").cast("long").alias("c"))
    )
    wdcum = (
        Window.partitionBy("event_type")
        .orderBy("db")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dcum = dev.join(F.broadcast(med.select("event_type", "n")), "event_type").select(
        "event_type",
        "db",
        F.sum("c").over(wdcum).cast("long").alias("cc"),
        "n",
    )
    mad = dcum.groupBy("event_type").agg(
        F.min(F.when(2 * F.col("cc") >= F.col("n"), F.col("db")))
        .cast("long")
        .alias("mad")
    )
    kf = (
        med.join(mad, "event_type")
        .select(
            "event_type",
            "n",
            "med",
            "mad",
            F.floor(
                F.lit(_HUBER_K) * F.col("mad").cast("double") * F.lit(1e6)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("k_fp"),
        )
        .localCheckpoint()
    )
    m = kf.select(
        "event_type", (F.col("med") * F.lit(1_000_000)).cast("decimal(38,0)").alias("m_fp")
    )
    hk = hist.join(F.broadcast(kf.select("event_type", "k_fp")), "event_type")
    for r in range(_HUBER_T):
        j = hk.join(F.broadcast(m), "event_type")
        resid = F.col("vb") * F.lit(1_000_000) - F.col("m_fp")
        w_fp = F.when(resid == 0, F.lit(1_000_000).cast("decimal(38,0)")).otherwise(
            F.least(
                F.lit(1_000_000).cast("decimal(38,0)"),
                F.expr("CAST((k_fp * 1000000) div ABS(CAST(vb AS DECIMAL(38,0))"
                       " * 1000000 - m_fp) AS DECIMAL(38,0))"),
            )
        )
        m = (
            j.select("event_type", "c", "vb", w_fp.alias("w"))
            .groupBy("event_type")
            .agg(
                F.expr(
                    "CAST((sum(c * w * vb) * 1000000) div sum(c * w)"
                    " AS DECIMAL(38,0))"
                ).alias("m_fp")
            )
        )
        if (r + 1) % 4 == 0:
            m = m.localCheckpoint()
    return (
        kf.join(m, "event_type")
        .select(
            "event_type",
            "n",
            F.round(F.col("med").cast("double") / F.lit(100.0), 6).alias(
                "median"
            ),
            F.round(F.col("mad").cast("double") / F.lit(100.0), 6).alias(
                "mad"
            ),
            F.round(
                F.col("m_fp").cast("double") / F.lit(1e6) / F.lit(100.0), 6
            ).alias("huber_location"),
        )
        .orderBy("event_type")
    )


# --- Kish effective sample size ------------------------------------------------

_KISH_SQL = """
WITH w AS (
    SELECT event_type,
           CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS wc
    FROM events
),
g AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(wc) AS DECIMAL(38,0)) AS s,
           CAST(SUM(CAST(wc AS HUGEINT) * wc) AS DECIMAL(38,0)) AS q
    FROM w GROUP BY 1
    UNION ALL
    SELECT 'ALL',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(wc) AS DECIMAL(38,0)),
           CAST(SUM(CAST(wc AS HUGEINT) * wc) AS DECIMAL(38,0))
    FROM w
)
SELECT event_type, n,
       ROUND(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(q AS DOUBLE), 6)
           AS n_eff,
       ROUND(CAST(n AS DOUBLE) * CAST(q AS DOUBLE)
             / (CAST(s AS DOUBLE) * CAST(s AS DOUBLE)), 6) AS design_effect
FROM g
ORDER BY event_type
""".strip()


@query("kish_effective_sample_size", oracle=_KISH_SQL)
def kish_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kish effective sample size and design effect of value-weighted
    events, per type and overall — the survey-statistics health check
    for any weighted estimate (importance-weighted training mixes, DSIR
    weights, revenue-weighted metrics): n_eff = (sum w)^2 / sum w^2
    collapses to TWO exact integer moments, and deff = n/n_eff >> 1
    flags weights concentrated on few rows (the estimate behaves like
    far fewer samples than it reads). One map-side-combined aggregate
    (+ its ALL rollup); each output float is one double expression of
    exact HUGEINT/DECIMAL sums. Kish 1965."""
    ev = load_table(spark, sf_dir, "events")
    d38 = "decimal(38,0)"
    w = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("wc"),
    ).localCheckpoint()
    def agg(df):
        return df.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("wc").cast(d38).alias("s"),
            F.sum(F.col("wc").cast(d38) * F.col("wc").cast(d38))
            .cast(d38)
            .alias("q"),
        )
    per = w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("wc").cast(d38).alias("s"),
        F.sum(F.col("wc").cast(d38) * F.col("wc").cast(d38))
        .cast(d38)
        .alias("q"),
    )
    allr = agg(w).select(F.lit("ALL").alias("event_type"), "n", "s", "q")
    g = per.unionAll(allr)
    s_d = F.col("s").cast("double")
    q_d = F.col("q").cast("double")
    return g.select(
        "event_type",
        "n",
        F.round(s_d * s_d / q_d, 6).alias("n_eff"),
        F.round(F.col("n").cast("double") * q_d / (s_d * s_d), 6).alias(
            "design_effect"
        ),
    ).orderBy("event_type")


# --- McNemar paired test -------------------------------------------------------

_MCN_SQL = """
WITH per AS (
    SELECT user_id,
           CAST(MAX(CASE WHEN event_type = 'purchase'
                    AND NOT (CAST(EXTRACT(isodow FROM ts) AS BIGINT) >= 6)
                    THEN 1 ELSE 0 END) AS BIGINT) AS wd,
           CAST(MAX(CASE WHEN event_type = 'purchase'
                    AND CAST(EXTRACT(isodow FROM ts) AS BIGINT) >= 6
                    THEN 1 ELSE 0 END) AS BIGINT) AS we
    FROM events GROUP BY 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(SUM(CASE WHEN wd = 1 AND we = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS both_days,
       CAST(SUM(CASE WHEN wd = 1 AND we = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS weekday_only,
       CAST(SUM(CASE WHEN wd = 0 AND we = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS weekend_only,
       CAST(SUM(CASE WHEN wd = 0 AND we = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS neither,
       ROUND(CAST((SUM(CASE WHEN wd = 1 AND we = 0 THEN 1 ELSE 0 END)
                   - SUM(CASE WHEN wd = 0 AND we = 1 THEN 1 ELSE 0 END))
                  * (SUM(CASE WHEN wd = 1 AND we = 0 THEN 1 ELSE 0 END)
                     - SUM(CASE WHEN wd = 0 AND we = 1 THEN 1 ELSE 0 END))
                  AS DOUBLE)
             / CAST(SUM(CASE WHEN wd = 1 AND we = 0 THEN 1 ELSE 0 END)
                    + SUM(CASE WHEN wd = 0 AND we = 1 THEN 1 ELSE 0 END)
                    AS DOUBLE), 6) AS mcnemar_chi2
FROM per
""".strip()


@query("mcnemar_weekend_purchase", oracle=_MCN_SQL)
def mcnemar_weekend_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes — does the same user's
    purchasing differ between weekdays and weekends? The paired-design
    member of the hypothesis-test family (chi-square/CMH compare
    independent groups; McNemar conditions on the discordant pairs of
    one user observed in both regimes, so between-user heterogeneity
    cancels). One user aggregate collapses each user to a (weekday-
    purchased, weekend-purchased) bit pair; the 2x2 concordance table
    and chi2 = (b-c)^2/(b+c) (continuity correction deliberately
    omitted, documented) are exact-integer with one double division.
    Weekend is ``isodow >= 6`` in DuckDB / ``weekday() >= 5`` in Spark
    — the established shared predicate. McNemar 1947."""
    ev = load_table(spark, sf_dir, "events")
    is_we = F.weekday("ts") >= 5
    per = ev.groupBy("user_id").agg(
        F.max(
            ((F.col("event_type") == "purchase") & ~is_we).cast("long")
        ).alias("wd"),
        F.max(
            ((F.col("event_type") == "purchase") & is_we).cast("long")
        ).alias("we"),
    )
    b = F.sum(((F.col("wd") == 1) & (F.col("we") == 0)).cast("long"))
    cc = F.sum(((F.col("wd") == 0) & (F.col("we") == 1)).cast("long"))
    return per.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum(((F.col("wd") == 1) & (F.col("we") == 1)).cast("long"))
        .cast("long")
        .alias("both_days"),
        b.cast("long").alias("weekday_only"),
        cc.cast("long").alias("weekend_only"),
        F.sum(((F.col("wd") == 0) & (F.col("we") == 0)).cast("long"))
        .cast("long")
        .alias("neither"),
        F.round(
            ((b - cc) * (b - cc)).cast("double") / (b + cc).cast("double"), 6
        ).alias("mcnemar_chi2"),
    )


# --- iterative proportional fitting (survey raking) ----------------------------

#: IPF rounds (row-step + column-step per round); the 5x24 cell grid
#: converges geometrically, and the oracle walks the same integers
_IPF_T = 8
#: weight fixed point
_IPF_FP = 10**9

_IPF_SQL = f"""
WITH RECURSIVE cells AS MATERIALIZED (
    SELECT event_type AS t,
           CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
),
rowt AS (SELECT t, CAST(SUM(n) AS BIGINT) AS target_r FROM cells GROUP BY 1),
nall AS (SELECT CAST(SUM(n) AS BIGINT) AS n_all FROM cells),
colt AS (
    SELECT h, CAST((SELECT n_all FROM nall) AS HUGEINT) * {_IPF_FP} // 24
        AS target_c_fp
    FROM (SELECT DISTINCT h FROM cells)
),
walk(r, t, h, n, w_fp) AS (
    SELECT 0, t, h, n, CAST({_IPF_FP} AS HUGEINT) FROM cells
    UNION ALL
    SELECT s.r + 1, s.t, s.h, s.n,
           (s.w1 * CAST(s.target_c_fp AS HUGEINT))
           // SUM(s.w1 * s.n) OVER (PARTITION BY s.h)
    FROM (
        SELECT w.r, w.t, w.h, w.n, ct.target_c_fp,
               (w.w_fp * CAST(rt.target_r AS HUGEINT) * {_IPF_FP})
               // SUM(w.w_fp * w.n) OVER (PARTITION BY w.t) AS w1
        FROM walk w
        JOIN rowt rt ON rt.t = w.t
        JOIN colt ct ON ct.h = w.h
        WHERE w.r < {_IPF_T}
    ) s
),
fin AS (SELECT t, h, n, w_fp FROM walk WHERE r = {_IPF_T})
SELECT t AS event_type, h AS hour, n,
       ROUND(CAST(w_fp AS DOUBLE) / {_IPF_FP}.0, 6) AS weight,
       ROUND(CAST(w_fp AS DOUBLE) * CAST(n AS DOUBLE) / {_IPF_FP}.0, 6)
           AS weighted_n
FROM fin
ORDER BY t, h
""".strip()


@query("ipf_raking_type_hour", oracle=_IPF_SQL)
def ipf_raking_type_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative proportional fitting (survey raking / Sinkhorn
    balancing, Deming-Stephan 1940) over the (event_type x hour) grid:
    find per-cell weights whose weighted counts match BOTH margins —
    the observed type totals AND a uniform hour distribution — the
    reweighting primitive behind training-data mix balancing (hit the
    target domain mix without dropping rows) and survey calibration.
    Each round is a row-proportional step then a column-proportional
    step, run as window-partitioned integer divisions in 1e-9 fixed
    point on the <=|types|x24 BOUNDED cell grid; the oracle's recursive
    CTE walks the identical integer trajectory (margin agreement after
    {_IPF_T} rounds is test-pinned). Data-sized work: ONE map-side-
    combined cell aggregate."""
    ev = load_table(spark, sf_dir, "events")
    # r13 restructure (guide §1.2 step 1 — the serve-core discipline):
    # the <=|types|x24 cell grid is the complete state, so collect it
    # once and run the 8 IPF rounds in the driver — the trajectory is
    # ALL exact integer arithmetic (products, `//` == Spark `div` on
    # nonnegative decimals, the same overflow-free quotient
    # decomposition for the column target), so every w_fp is
    # bit-identical to the window-partitioned form this replaces.
    cell_rows = collect_bounded(
        ev.groupBy(
            F.col("event_type").alias("t"),
            F.hour("ts").cast("long").alias("h"),
        ).agg(F.count(F.lit(1)).cast("long").alias("n")),
        _DOMAIN_CAP,
    )
    target_r: dict[str, int] = {}
    for t, _h, n in cell_rows:
        target_r[t] = target_r.get(t, 0) + n
    n_all = sum(n for _t, _h, n in cell_rows)
    # exact decomposition of (n_all * 1e9) div 24 — same as the engine
    # expression this replaces (no LONG-space product)
    target_c_fp = (n_all // 24) * _IPF_FP + ((n_all % 24) * _IPF_FP) // 24
    w: dict[tuple[str, int], int] = {
        (t, h): _IPF_FP for t, h, _n in cell_rows
    }
    for _r in range(_IPF_T):
        rsum: dict[str, int] = {}
        for t, h, n in cell_rows:
            rsum[t] = rsum.get(t, 0) + w[(t, h)] * n
        w1 = {
            (t, h): (w[(t, h)] * target_r[t] * _IPF_FP) // rsum[t]
            for t, h, _n in cell_rows
        }
        csum: dict[int, int] = {}
        for t, h, n in cell_rows:
            csum[h] = csum.get(h, 0) + w1[(t, h)] * n
        w = {
            (t, h): (w1[(t, h)] * target_c_fp) // csum[h]
            for t, h, _n in cell_rows
        }
    out = local_frame(
        ev.sparkSession,
        [(t, h, n, w[(t, h)]) for t, h, n in cell_rows],
        "t string, h long, n long, w_fp long",
    )
    return out.select(
        F.col("t").alias("event_type"),
        F.col("h").alias("hour"),
        "n",
        F.round(F.col("w_fp").cast("double") / F.lit(float(_IPF_FP)), 6).alias(
            "weight"
        ),
        F.round(
            F.col("w_fp").cast("double")
            * F.col("n").cast("double")
            / F.lit(float(_IPF_FP)),
            6,
        ).alias("weighted_n"),
    ).orderBy("event_type", "hour")


# --- ordered t-closeness (EMD over the value distribution) ---------------------

#: ordered-variant threshold t = 0.2 = 1/5 (exact integer comparison)
_TEMD_NUM = 1
_TEMD_DEN = 5

_TEMD_SQL = f"""
WITH base AS (
    SELECT event_type,
           CAST(EXTRACT(isodow FROM ts) AS BIGINT) AS dow,
           CAST(FLOOR(value * 100) AS BIGINT) AS vb
    FROM events
),
ghist AS (
    SELECT vb, CAST(COUNT(*) AS BIGINT) AS gc FROM base GROUP BY 1
),
gcum AS (
    SELECT vb,
           CAST(SUM(gc) OVER (ORDER BY vb ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS gcum,
           CAST(SUM(gc) OVER () AS BIGINT) AS g_all,
           CAST(COUNT(*) OVER () AS BIGINT) AS m
    FROM ghist
),
chist AS (
    SELECT event_type, dow, vb, CAST(COUNT(*) AS BIGINT) AS c
    FROM base GROUP BY 1, 2, 3
),
classes AS (
    SELECT event_type, dow, CAST(SUM(c) AS BIGINT) AS c_all
    FROM chist GROUP BY 1, 2
),
grid AS (
    SELECT cl.event_type, cl.dow, cl.c_all, g.vb, g.gcum, g.g_all, g.m,
           COALESCE(ch.c, 0) AS c
    FROM classes cl
    CROSS JOIN gcum g
    LEFT JOIN chist ch ON ch.event_type = cl.event_type
        AND ch.dow = cl.dow AND ch.vb = g.vb
),
cums AS (
    SELECT event_type, dow, c_all, g_all, m, gcum,
           CAST(SUM(c) OVER (PARTITION BY event_type, dow ORDER BY vb
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS ccum
    FROM grid
),
emd AS (
    SELECT event_type, dow, c_all, g_all, m,
           CAST(SUM(ABS(CAST(ccum AS HUGEINT) * g_all
                        - CAST(gcum AS HUGEINT) * c_all))
                AS DECIMAL(38,0)) AS num
    FROM cums GROUP BY 1, 2, 3, 4, 5
)
SELECT event_type, dow, c_all AS n,
       ROUND(CAST(num AS DOUBLE)
             / (CAST(c_all AS DOUBLE) * CAST(g_all AS DOUBLE)
                * CAST(m - 1 AS DOUBLE)), 6) AS emd,
       CASE WHEN {_TEMD_DEN} * num
                 > CAST({_TEMD_NUM} AS HUGEINT) * c_all * g_all * (m - 1)
            THEN 1 ELSE 0 END AS violates_t
FROM emd
ORDER BY event_type, dow
""".strip()


@query("t_closeness_emd_audit", oracle=_TEMD_SQL)
def t_closeness_emd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDERED t-closeness (Li et al. 2007, the EMD formulation) — the
    numeric-sensitive-attribute twin of the categorical
    ``t_closeness_audit``: a class can match the corpus lang mix yet
    still leak because its VALUE distribution sits in the tail, and
    only an ordered distance sees that. Equivalence classes are
    (event_type, iso day-of-week); the sensitive attribute is the cent
    value; EMD over the ordered support = mean |ECDF gap| across the
    m support steps — the KS machinery re-summed instead of maxed.
    Exact throughout: per-class cumulative counts on the GLOBAL support
    spine (class x support is DOMAIN x 35-bounded), gaps as
    cross-multiplied HUGEINT/DECIMAL integers, the t=0.2 violation an
    exact integer comparison, and one double division per class row.
    Data-sized work: two histogram aggregates."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        (F.weekday("ts") + F.lit(1)).cast("long").alias("dow"),
        F.floor(F.col("value") * 100).cast("long").alias("vb"),
    ).localCheckpoint()  # feeds the global and per-class histograms
    ghist = base.groupBy("vb").agg(F.count(F.lit(1)).cast("long").alias("gc"))
    w_g = Window.orderBy("vb").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    gcum = ghist.select(
        "vb",
        F.sum("gc").over(w_g).cast("long").alias("gcum"),
        F.sum("gc").over(w_all).cast("long").alias("g_all"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("m"),
    )
    chist = base.groupBy("event_type", "dow", "vb").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint()  # feeds class sizes and the grid completion
    classes = chist.groupBy("event_type", "dow").agg(
        F.sum("c").cast("long").alias("c_all")
    )
    grid = (
        classes.crossJoin(gcum)
        .join(
            chist.select(
                F.col("event_type").alias("et2"),
                F.col("dow").alias("dow2"),
                F.col("vb").alias("vb2"),
                "c",
            ),
            (F.col("event_type") == F.col("et2"))
            & (F.col("dow") == F.col("dow2"))
            & (F.col("vb") == F.col("vb2")),
            "left",
        )
        .select(
            "event_type",
            "dow",
            "c_all",
            "vb",
            "gcum",
            "g_all",
            "m",
            F.coalesce("c", F.lit(0)).alias("c"),
        )
    )
    w_c = (
        Window.partitionBy("event_type", "dow")
        .orderBy("vb")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cums = grid.select(
        "event_type",
        "dow",
        "c_all",
        "g_all",
        "m",
        "gcum",
        F.sum("c").over(w_c).cast("long").alias("ccum"),
    )
    d38 = "decimal(38,0)"
    emd = cums.groupBy("event_type", "dow", "c_all", "g_all", "m").agg(
        F.sum(
            F.abs(
                F.col("ccum").cast(d38) * F.col("g_all").cast(d38)
                - F.col("gcum").cast(d38) * F.col("c_all").cast(d38)
            )
        )
        .cast(d38)
        .alias("num")
    )
    return emd.select(
        "event_type",
        "dow",
        F.col("c_all").alias("n"),
        F.round(
            F.col("num").cast("double")
            / (
                F.col("c_all").cast("double")
                * F.col("g_all").cast("double")
                * (F.col("m") - F.lit(1)).cast("double")
            ),
            6,
        ).alias("emd"),
        (
            F.lit(_TEMD_DEN) * F.col("num")
            > F.lit(_TEMD_NUM).cast(d38)
            * F.col("c_all").cast(d38)
            * F.col("g_all").cast(d38)
            * (F.col("m") - F.lit(1)).cast(d38)
        )
        .cast("int")
        .alias("violates_t"),
    ).orderBy("event_type", "dow")


# --- association effect sizes (Cramer's V + Theil's U) -------------------------

_ASSOC_SQL = """
WITH cells0 AS (
    SELECT event_type AS t,
           CAST(EXTRACT(isodow FROM ts) AS BIGINT) AS d,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events GROUP BY 1, 2
),
cells AS (
    -- complete the grid: absent (t, d) combinations are ZERO cells and
    -- their (0 - e)^2/e terms belong in chi2
    SELECT r.t, col.d, CAST(COALESCE(c0.c, 0) AS BIGINT) AS c
    FROM (SELECT DISTINCT t FROM cells0) r
    CROSS JOIN (SELECT DISTINCT d FROM cells0) col
    LEFT JOIN cells0 c0 ON c0.t = r.t AND c0.d = col.d
),
margins AS (
    SELECT t, d, c,
           CAST(SUM(c) OVER (PARTITION BY t) AS BIGINT) AS rt,
           CAST(SUM(c) OVER (PARTITION BY d) AS BIGINT) AS ct,
           CAST(SUM(c) OVER () AS BIGINT) AS n,
           MIN(d) OVER (PARTITION BY t) AS d0,
           MIN(t) OVER (PARTITION BY d) AS t0
    FROM cells
),
dims AS (
    SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS nr,
           CAST(COUNT(DISTINCT d) AS BIGINT) AS nc
    FROM cells
),
chi AS (
    SELECT MIN(n) AS n,
           CAST(SUM(CAST(FLOOR((CAST(c AS DOUBLE)
                      - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                        / CAST(n AS DOUBLE))
                     * (CAST(c AS DOUBLE)
                        - CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                          / CAST(n AS DOUBLE))
                     / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)
                        / CAST(n AS DOUBLE))
                     * 1000000000.0 + 0.5) AS BIGINT)) AS DECIMAL(38,0)) AS chi_fp
    FROM margins
),
ent AS (
    SELECT
        CAST(SUM(CASE WHEN c = 0 THEN 0
                 ELSE CAST(FLOOR(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
                 * LN(CAST(c AS DOUBLE)
                      * CAST(n AS DOUBLE)
                      / (CAST(rt AS DOUBLE) * CAST(ct AS DOUBLE)))
                 * 1000000000.0 + 0.5) AS BIGINT) END) AS BIGINT) AS mi_fp,
        CAST(SUM(CASE WHEN d = d0
                 THEN CAST(FLOOR(-(CAST(rt AS DOUBLE) / CAST(n AS DOUBLE))
                      * LN(CAST(rt AS DOUBLE) / CAST(n AS DOUBLE))
                      * 1000000000.0 + 0.5) AS BIGINT) ELSE 0 END)
             AS BIGINT) AS ht_fp,
        CAST(SUM(CASE WHEN t = t0
                 THEN CAST(FLOOR(-(CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                      * LN(CAST(ct AS DOUBLE) / CAST(n AS DOUBLE))
                      * 1000000000.0 + 0.5) AS BIGINT) ELSE 0 END)
             AS BIGINT) AS hd_fp
    FROM margins
)
SELECT chi.n,
       ROUND(CAST(chi.chi_fp AS DOUBLE) / 1000000000.0, 6) AS chi2,
       ROUND(SQRT(CAST(chi.chi_fp AS DOUBLE) / 1000000000.0
                  / (CAST(chi.n AS DOUBLE)
                     * CAST(LEAST(d.nr, d.nc) - 1 AS DOUBLE))), 6)
           AS cramers_v,
       ROUND(CAST(e.mi_fp AS DOUBLE) / CAST(e.ht_fp AS DOUBLE), 6)
           AS theil_u_type_given_dow,
       ROUND(CAST(e.mi_fp AS DOUBLE) / CAST(e.hd_fp AS DOUBLE), 6)
           AS theil_u_dow_given_type
FROM chi, dims d, ent e
""".strip()


@query("association_effect_sizes_type_dow", oracle=_ASSOC_SQL)
def association_effect_sizes_type_dow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The association EFFECT-SIZE panel for the (event_type x
    day-of-week) contingency — the numbers to read next to the
    chi-square TEST the engine already runs: Cramer's V (chi2
    normalized to [0,1] by n*(min(r,c)-1), comparable across table
    sizes) and both directed Theil's U uncertainty coefficients
    (MI / marginal entropy — "knowing the weekday removes what share
    of event-type uncertainty?"). One map-side-combined cell aggregate
    is the data-sized work; every chi2/plogp term is 1e-9 fixed-pointed
    over the 35-cell bounded frame before its sum (each marginal
    entropy term counted ONCE via a min-partner pin, identical in both
    engines), and each output is one double expression."""
    ev = load_table(spark, sf_dir, "events")
    cells0 = (
        ev.groupBy(
            F.col("event_type").alias("t"),
            (F.weekday("ts") + F.lit(1)).cast("long").alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()  # bounded frame, multiple consumers
    )
    # complete the grid: absent (t, d) cells are ZERO cells whose
    # (0 - e)^2/e terms belong in chi2
    cells = (
        cells0.select("t")
        .distinct()
        .crossJoin(cells0.select("d").distinct())
        .join(
            cells0.select(
                F.col("t").alias("t2"), F.col("d").alias("d2"), "c"
            ),
            (F.col("t") == F.col("t2")) & (F.col("d") == F.col("d2")),
            "left",
        )
        .select("t", "d", F.coalesce("c", F.lit(0)).cast("long").alias("c"))
    )
    w_t = Window.partitionBy("t")
    w_d = Window.partitionBy("d")
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    m = cells.select(
        "t",
        "d",
        "c",
        F.sum("c").over(w_t).cast("long").alias("rt"),
        F.sum("c").over(w_d).cast("long").alias("ct"),
        F.sum("c").over(w_all).cast("long").alias("n"),
        F.min("d").over(w_t).alias("d0"),
        F.min("t").over(w_d).alias("t0"),
    )
    dims = cells.agg(
        F.countDistinct("t").cast("long").alias("nr"),
        F.countDistinct("d").cast("long").alias("nc"),
    )
    nD = F.col("n").cast("double")
    e_cell = F.col("rt").cast("double") * F.col("ct").cast("double") / nD

    def fp9(x):
        return F.floor(x * F.lit(1e9) + F.lit(0.5)).cast("long")

    chi_term = fp9(
        (F.col("c").cast("double") - e_cell)
        * (F.col("c").cast("double") - e_cell)
        / e_cell
    )
    mi_term = F.when(F.col("c") == 0, F.lit(0)).otherwise(
        fp9(
            F.col("c").cast("double")
            / nD
            * F.log(
                F.col("c").cast("double")
                * nD
                / (F.col("rt").cast("double") * F.col("ct").cast("double"))
            )
        )
    )
    ht_term = F.when(
        F.col("d") == F.col("d0"),
        fp9(-(F.col("rt").cast("double") / nD)
            * F.log(F.col("rt").cast("double") / nD)),
    ).otherwise(F.lit(0))
    hd_term = F.when(
        F.col("t") == F.col("t0"),
        fp9(-(F.col("ct").cast("double") / nD)
            * F.log(F.col("ct").cast("double") / nD)),
    ).otherwise(F.lit(0))
    agg = m.agg(
        F.min("n").cast("long").alias("n"),
        F.sum(chi_term).cast("decimal(38,0)").alias("chi_fp"),
        F.sum(mi_term).cast("long").alias("mi_fp"),
        F.sum(ht_term).cast("long").alias("ht_fp"),
        F.sum(hd_term).cast("long").alias("hd_fp"),
    )
    return agg.crossJoin(F.broadcast(dims)).select(
        "n",
        F.round(F.col("chi_fp").cast("double") / F.lit(1e9), 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.col("chi_fp").cast("double")
                / F.lit(1e9)
                / (
                    F.col("n").cast("double")
                    * (F.least("nr", "nc") - F.lit(1)).cast("double")
                )
            ),
            6,
        ).alias("cramers_v"),
        F.round(
            F.col("mi_fp").cast("double") / F.col("ht_fp").cast("double"), 6
        ).alias("theil_u_type_given_dow"),
        F.round(
            F.col("mi_fp").cast("double") / F.col("hd_fp").cast("double"), 6
        ).alias("theil_u_dow_given_type"),
    )


# --- EM parameter estimation for Fellegi-Sunter --------------------------------

#: EM rounds; fixed-point scale for probabilities
_EM_T = 20
_EM_FP = 10**12
#: init (pinned literals): prevalence 0.1, m_j = 0.8, u_j = 0.1
_EM_P0 = _EM_FP // 10
_EM_M0 = 8 * _EM_FP // 10
_EM_U0 = _EM_FP // 10
#: comparison fields -> pattern bit (matches the FS scorer's fields)
_EM_FIELDS = [("brand", 1), ("type", 2), ("size", 4), ("name", 8)]


def _em_w_expr() -> str:
    """The E-step posterior P(match | pattern g) as ONE shared
    expression text over columns ``g`` (pattern bits), ``p_fp`` and
    ``m{j}_fp`` / ``u{j}_fp`` (1e-12 fixed-point parameters) — floored
    back to 1e-12 fixed point so the M-step sums stay exact integers
    and the whole EM trajectory is engine-identical."""
    fp = float(_EM_FP)
    pm = [f"(CAST(p_fp AS DOUBLE) / {fp})"]
    pu = [f"(1.0 - CAST(p_fp AS DOUBLE) / {fp})"]
    for j, (_, bit) in enumerate(_EM_FIELDS, start=1):
        pm.append(
            f"(CASE WHEN (g & {bit}) <> 0 THEN CAST(m{j}_fp AS DOUBLE) / {fp}"
            f" ELSE 1.0 - CAST(m{j}_fp AS DOUBLE) / {fp} END)"
        )
        pu.append(
            f"(CASE WHEN (g & {bit}) <> 0 THEN CAST(u{j}_fp AS DOUBLE) / {fp}"
            f" ELSE 1.0 - CAST(u{j}_fp AS DOUBLE) / {fp} END)"
        )
    pm_s = " * ".join(pm)
    pu_s = " * ".join(pu)
    return (
        f"CAST(FLOOR(({pm_s}) / (({pm_s}) + ({pu_s})) * {fp} + 0.5)"
        f" AS BIGINT)"
    )


def _em_mstep_exprs(intdiv: str, bigcast: str) -> list[str]:
    """M-step aggregate expression texts (new p/m_j/u_j in 1e-12 fixed
    point) over a frame with columns ``n`` (pattern count), ``g``, and
    ``w_fp``; every sum is exact-integer, denominators floor-pinned at
    >= 1 so a degenerate corpus cannot divide by zero."""
    out = [
        f"CAST(SUM(CAST(n AS {bigcast}) * w_fp)"
        f" {intdiv} GREATEST(SUM(CAST(n AS {bigcast}) * {_EM_FP})"
        f" {intdiv} {_EM_FP}, 1) AS BIGINT) AS p_fp"
    ]
    for j, (_, bit) in enumerate(_EM_FIELDS, start=1):
        out.append(
            f"CAST((SUM(CASE WHEN (g & {bit}) <> 0 THEN CAST(n AS {bigcast})"
            f" * w_fp ELSE 0 END) * {_EM_FP})"
            f" {intdiv} GREATEST(SUM(CAST(n AS {bigcast}) * w_fp), 1)"
            f" AS BIGINT) AS m{j}_fp"
        )
    for j, (_, bit) in enumerate(_EM_FIELDS, start=1):
        out.append(
            f"CAST((SUM(CASE WHEN (g & {bit}) <> 0 THEN CAST(n AS {bigcast})"
            f" * ({_EM_FP} - w_fp) ELSE 0 END) * {_EM_FP})"
            f" {intdiv} GREATEST(SUM(CAST(n AS {bigcast})"
            f" * ({_EM_FP} - w_fp)), 1) AS BIGINT) AS u{j}_fp"
        )
    return out


def _em_oracle_sql() -> str:
    w_expr = _em_w_expr()
    msteps = ",\n           ".join(_em_mstep_exprs("//", "HUGEINT"))
    params = ", ".join(
        f"m{j}_fp" for j in range(1, 5)
    ) + ", " + ", ".join(f"u{j}_fp" for j in range(1, 5))
    field_rows = " UNION ALL ".join(
        f"SELECT {j} AS fid, '{name}' AS field" 
        for j, (name, _) in enumerate(_EM_FIELDS, start=1)
    )
    pick_m = " ".join(
        f"WHEN {j} THEN m{j}_fp" for j in range(1, 5)
    )
    pick_u = " ".join(
        f"WHEN {j} THEN u{j}_fp" for j in range(1, 5)
    )
    return f"""
WITH RECURSIVE blocked AS (
    SELECT p_partkey, p_name, p_brand, p_type, p_size,
           list_extract(string_split(p_name, ' '), -1) AS block
    FROM part
    QUALIFY COUNT(*) OVER (PARTITION BY block) <= 2000
),
pat AS MATERIALIZED (
    SELECT (CASE WHEN a.p_brand = b.p_brand THEN 1 ELSE 0 END)
           + (CASE WHEN a.p_type = b.p_type THEN 2 ELSE 0 END)
           + (CASE WHEN ABS(a.p_size - b.p_size) <= 2 THEN 4 ELSE 0 END)
           + (CASE WHEN levenshtein(a.p_name, b.p_name) <= 3
                   THEN 8 ELSE 0 END) AS g,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM blocked a JOIN blocked b
      ON a.block = b.block AND a.p_partkey < b.p_partkey
    GROUP BY 1
),
walk(r, p_fp, {params}) AS (
    SELECT 0, CAST({_EM_P0} AS BIGINT),
           {", ".join(f"CAST({_EM_M0} AS BIGINT)" for _ in range(4))},
           {", ".join(f"CAST({_EM_U0} AS BIGINT)" for _ in range(4))}
    UNION ALL
    SELECT s.r + 1,
           {msteps}
    FROM (
        SELECT w.r, p.g, p.n, {w_expr} AS w_fp
        FROM walk w, pat p WHERE w.r < {_EM_T}
    ) s
    GROUP BY s.r
),
fin AS (SELECT * FROM walk WHERE r = {_EM_T}),
fields AS ({field_rows}),
np AS (SELECT CAST(SUM(n) AS BIGINT) AS n_pairs FROM pat)
SELECT f.field,
       ROUND(CAST(CASE f.fid {pick_m} END AS DOUBLE) / {_EM_FP}.0, 6)
           AS m_hat,
       ROUND(CAST(CASE f.fid {pick_u} END AS DOUBLE) / {_EM_FP}.0, 6)
           AS u_hat,
       ROUND(CAST(fin.p_fp AS DOUBLE) / {_EM_FP}.0, 6) AS p_hat,
       np.n_pairs
FROM fields f, fin, np
ORDER BY f.field
""".strip()


@query("fs_em_parameter_estimation", oracle=_em_oracle_sql())
def fs_em_parameter_estimation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM estimation of the Fellegi-Sunter (m, u) parameters and match
    prevalence from the UNLABELED blocked comparison patterns (Winkler
    1988 — the standard way real linkage systems fit the model the
    engine's ``fellegi_sunter_part_links`` runs with pinned constants):
    each blocked part pair collapses to a 4-bit agreement pattern
    (brand/type/size/name, the same comparators), the <=16-row pattern
    table is the complete sufficient statistic, and EM alternates the
    posterior E-step with closed-form M-steps for {_EM_T} rounds. The
    trajectory is ENGINE-IDENTICAL: parameters live in 1e-12 fixed
    point, the E-step posterior is one shared double expression floored
    back to fixed point, and every M-step is exact integer sums with
    floor division (denominators pinned >= 1); the oracle's recursive
    CTE walks the same integers. Data-sized work: the blocked pair join
    + ONE pattern aggregate; EM itself is 16-row arithmetic."""
    part = load_table(spark, sf_dir, "part")
    blocked0 = part.select(
        "p_partkey",
        "p_name",
        "p_brand",
        "p_type",
        "p_size",
        F.element_at(F.split("p_name", " "), -1).alias("block"),
    )
    sizes = blocked0.groupBy("block").agg(F.count(F.lit(1)).alias("_bn"))
    blocked = blocked0.join(
        F.broadcast(sizes.filter(F.col("_bn") <= 2000).select("block")),
        "block",
    )
    a = blocked.alias("a")
    b = blocked.alias("b")
    g = (
        F.when(F.col("a.p_brand") == F.col("b.p_brand"), 1).otherwise(0)
        + F.when(F.col("a.p_type") == F.col("b.p_type"), 2).otherwise(0)
        + F.when(F.abs(F.col("a.p_size") - F.col("b.p_size")) <= 2, 4).otherwise(0)
        + F.when(
            F.levenshtein(F.col("a.p_name"), F.col("b.p_name")) <= 3, 8
        ).otherwise(0)
    )
    # r13 restructure (guide §1.2 step 1 — the serve-core discipline):
    # the <=16-row pattern table IS the complete sufficient statistic, so
    # collect it once and run the EM rounds in the driver instead of ~24
    # crossJoin/agg Spark jobs (plus eager checkpoints) over a frame this
    # small. The trajectory is arithmetic-identical: the E-step posterior
    # is the same left-associated IEEE double chain (products, one
    # division, floor(x*1e12 + 0.5) — no libm), the M-steps are exact
    # Python-int sums with `//` (== Spark `div` on these nonnegative
    # decimals), GREATEST == max. The empty-pattern case (every block
    # over the cap — the sf0.1 fixture) reproduces Spark's empty-agg
    # semantics exactly: SUM over no rows is NULL, so every parameter is
    # NULL from round 1 on and n_pairs is NULL.
    pat_rows = collect_bounded(
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.p_partkey") < F.col("b.p_partkey")),
        )
        .select(g.alias("g"))
        .groupBy("g")
        .agg(F.count(F.lit(1)).cast("long").alias("n")),
        16,
    )
    fp_f = float(_EM_FP)
    if not pat_rows:
        p_fp = None
        m = [None] * 4
        u = [None] * 4
        n_pairs = None
    else:
        import math

        p_fp = _EM_P0
        m = [_EM_M0] * 4
        u = [_EM_U0] * 4
        bits = [bit for _name, bit in _EM_FIELDS]
        for _r in range(_EM_T):
            s_nw = 0
            s_n = 0
            s_nfpw = 0
            s_m = [0] * 4
            s_u = [0] * 4
            for gv, n in pat_rows:
                pm = p_fp / fp_f
                pu = 1.0 - p_fp / fp_f
                for j in range(4):
                    if gv & bits[j]:
                        pm = pm * (m[j] / fp_f)
                        pu = pu * (u[j] / fp_f)
                    else:
                        pm = pm * (1.0 - m[j] / fp_f)
                        pu = pu * (1.0 - u[j] / fp_f)
                w = int(math.floor(pm / (pm + pu) * fp_f + 0.5))
                s_nw += n * w
                s_n += n
                s_nfpw += n * (_EM_FP - w)
                for j in range(4):
                    if gv & bits[j]:
                        s_m[j] += n * w
                        s_u[j] += n * (_EM_FP - w)
            p_fp = s_nw // max(s_n, 1)
            m = [s_m[j] * _EM_FP // max(s_nw, 1) for j in range(4)]
            u = [s_u[j] * _EM_FP // max(s_nfpw, 1) for j in range(4)]
        n_pairs = sum(n for _gv, n in pat_rows)
    out_rows = [
        (name, m[j], u[j], p_fp, n_pairs)
        for j, (name, _bit) in enumerate(_EM_FIELDS)
    ]
    return (
        local_frame(
            part.sparkSession,
            out_rows,
            "field string, m_fp long, u_fp long, p_fp long, n_pairs long",
        )
        .select(
            "field",
            F.round(
                F.col("m_fp").cast("double") / F.lit(float(_EM_FP)), 6
            ).alias("m_hat"),
            F.round(
                F.col("u_fp").cast("double") / F.lit(float(_EM_FP)), 6
            ).alias("u_hat"),
            F.round(
                F.col("p_fp").cast("double") / F.lit(float(_EM_FP)), 6
            ).alias("p_hat"),
            "n_pairs",
        )
        .orderBy("field")
    )


# --- Aalen-Johansen cumulative incidence (competing risks) ---------------------

_AJ_HOUR_US = 3600000000

_AJ_SQL = f"""
WITH RECURSIVE mic AS (
    SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
u AS (
    SELECT user_id, MIN(us) AS t0, MAX(us) AS tl,
           MIN(CASE WHEN event_type = 'purchase' THEN us END) AS tp,
           MIN(CASE WHEN event_type = 'error' THEN us END) AS te
    FROM mic GROUP BY user_id
),
d AS (
    SELECT (COALESCE(CASE WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te)
                     THEN tp WHEN te IS NOT NULL THEN te END, tl) - t0)
               // {_AJ_HOUR_US} AS dur,
           CASE WHEN tp IS NOT NULL AND (te IS NULL OR tp <= te) THEN 1
                WHEN te IS NOT NULL THEN 2 ELSE 0 END AS cause
    FROM u
),
hist AS (
    SELECT dur, CAST(COUNT(*) AS BIGINT) AS n_all,
           CAST(SUM(CASE WHEN cause = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
           CAST(SUM(CASE WHEN cause = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2
    FROM d GROUP BY dur
),
risk AS (
    SELECT dur, d1, d2,
           CAST(SUM(n_all) OVER (
               ORDER BY dur DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS at_risk
    FROM hist
),
steps AS (
    SELECT ROW_NUMBER() OVER (ORDER BY dur) AS rn, dur, d1, d2, at_risk
    FROM risk WHERE d1 + d2 > 0
),
km AS (
    SELECT rn, dur, d1, d2, at_risk,
           CAST(1.0 AS DOUBLE) AS sprev,
           1.0 * (1.0 - CAST(d1 + d2 AS DOUBLE) / CAST(at_risk AS DOUBLE))
               AS surv
    FROM steps WHERE rn = 1
    UNION ALL
    SELECT s.rn, s.dur, s.d1, s.d2, s.at_risk,
           km.surv,
           km.surv * (1.0 - CAST(s.d1 + s.d2 AS DOUBLE)
                          / CAST(s.at_risk AS DOUBLE))
    FROM km JOIN steps s ON s.rn = km.rn + 1
),
terms AS (
    SELECT rn, dur, d1, d2, at_risk, surv,
           CAST(FLOOR(sprev * CAST(d1 AS DOUBLE) / CAST(at_risk AS DOUBLE)
                      * 1000000000000.0 + 0.5) AS BIGINT) AS t1_fp,
           CAST(FLOOR(sprev * CAST(d2 AS DOUBLE) / CAST(at_risk AS DOUBLE)
                      * 1000000000000.0 + 0.5) AS BIGINT) AS t2_fp
    FROM km
)
SELECT dur AS dur_h, at_risk, d1 AS d_purchase, d2 AS d_error, surv,
       CAST(SUM(t1_fp) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING
           AND CURRENT ROW) AS DOUBLE) / 1000000000000.0 AS cif_purchase,
       CAST(SUM(t2_fp) OVER (ORDER BY rn ROWS BETWEEN UNBOUNDED PRECEDING
           AND CURRENT ROW) AS DOUBLE) / 1000000000000.0 AS cif_error
FROM terms ORDER BY dur_h
""".strip()


@query("aalen_johansen_cif", oracle=_AJ_SQL)
def aalen_johansen_cif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aalen-Johansen cumulative incidence under COMPETING RISKS — the
    estimator 1-KM gets WRONG when another event can preempt the one
    you care about (treating first-error as censoring overstates
    purchase incidence; AJ splits the all-cause survival mass by
    cause): CIF_k(t) = sum over steps <= t of S(t-) * d_k/n, with
    S the ALL-CAUSE Kaplan-Meier curve. First purchase vs first error
    compete per user (purchase wins exact ties, pinned); durations are
    exact integer hours; the at-risk suffix sum is integer; the ONE
    ordered float chain is the all-cause survival product, forced into
    the identical IEEE sequence (recursive CTE / left-fold pair, the
    KM discipline); each CIF increment uses the PREVIOUS step's
    survival and is 1e-12 fixed-pointed so the cumulative sums are
    exact integers — no second float chain. One user shuffle; all
    later stages bounded by distinct event-hours. Completes the
    survival family (KM, Greenwood, Nelson-Aalen, log-rank, RMST)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    u = ev.groupBy("user_id").agg(
        F.min(us).alias("t0"),
        F.max(us).alias("tl"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("tp"),
        F.min(F.when(F.col("event_type") == "error", us)).alias("te"),
    )
    p_first = F.col("tp").isNotNull() & (
        F.col("te").isNull() | (F.col("tp") <= F.col("te"))
    )
    t_evt = F.when(p_first, F.col("tp")).when(
        F.col("te").isNotNull(), F.col("te")
    )
    cause = F.when(p_first, F.lit(1)).when(
        F.col("te").isNotNull(), F.lit(2)
    ).otherwise(F.lit(0))
    d = u.select(
        F.coalesce(t_evt, F.col("tl")).alias("tev"),
        F.col("t0"),
        cause.alias("cause"),
    ).select(
        F.expr(f"(tev - t0) div {_AJ_HOUR_US}").alias("dur"),
        "cause",
    )
    hist = d.groupBy("dur").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum((F.col("cause") == 1).cast("long")).alias("d1"),
        F.sum((F.col("cause") == 2).cast("long")).alias("d2"),
    )
    w = Window.orderBy(F.desc("dur")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    risk = hist.withColumn("at_risk", F.sum("n_all").over(w)).filter(
        F.col("d1") + F.col("d2") > 0
    )
    packed = risk.agg(
        F.sort_array(
            F.collect_list(F.struct("dur", "d1", "d2", "at_risk"))
        ).alias("arr")
    )
    surv = F.aggregate(
        "arr",
        F.array().cast("array<double>"),
        lambda acc, x: F.concat(
            acc,
            F.array(
                F.coalesce(F.try_element_at(acc, F.lit(-1)), F.lit(1.0))
                * (
                    F.lit(1.0)
                    - (x["d1"] + x["d2"]).cast("double")
                    / x["at_risk"].cast("double")
                )
            ),
        ),
    )
    zipped = packed.select(
        F.posexplode(F.arrays_zip(F.col("arr"), surv.alias("surv_arr")))
    ).select(
        F.col("pos"),
        F.col("col.arr.dur").alias("dur_h"),
        F.col("col.arr.at_risk").alias("at_risk"),
        F.col("col.arr.d1").alias("d_purchase"),
        F.col("col.arr.d2").alias("d_error"),
        F.col("col.surv_arr").alias("surv"),
        F.lag(F.col("col.surv_arr"), 1, 1.0)
        .over(Window.orderBy("pos"))
        .alias("sprev"),
    )
    t1 = F.floor(
        F.col("sprev") * F.col("d_purchase").cast("double")
        / F.col("at_risk").cast("double") * F.lit(1e12) + F.lit(0.5)
    ).cast("long")
    t2 = F.floor(
        F.col("sprev") * F.col("d_error").cast("double")
        / F.col("at_risk").cast("double") * F.lit(1e12) + F.lit(0.5)
    ).cast("long")
    w_cum = Window.orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return zipped.select(
        "dur_h",
        "at_risk",
        "d_purchase",
        "d_error",
        "surv",
        (F.sum(t1).over(w_cum).cast("double") / F.lit(1e12)).alias(
            "cif_purchase"
        ),
        (F.sum(t2).over(w_cum).cast("double") / F.lit(1e12)).alias(
            "cif_error"
        ),
    ).orderBy("dur_h")


# --- entropy rate of the event-type chain --------------------------------------

#: stationary-distribution power-iteration rounds (k<=5 states)
_ENTR_T = 32
_ENTR_FP = 10**12

_ENTR_SQL = f"""
WITH RECURSIVE seq AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) AS prev
    FROM events
),
trans AS (
    SELECT prev AS f, event_type AS t, CAST(COUNT(*) AS BIGINT) AS c
    FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
),
tot AS (SELECT f, CAST(SUM(c) AS BIGINT) AS n FROM trans GROUP BY 1),
states AS (SELECT f AS s FROM tot),
k AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM states),
walk(r, s, pi_fp) AS (
    SELECT 0, s, CAST({_ENTR_FP} AS HUGEINT) // (SELECT k FROM k)
    FROM states
    UNION ALL
    SELECT w.r + 1, tr.t,
           SUM((w.pi_fp * tr.c) // tt.n)
    FROM walk w
    JOIN trans tr ON tr.f = w.s
    JOIN tot tt ON tt.f = w.s
    WHERE w.r < {_ENTR_T}
    GROUP BY w.r, tr.t
),
pi AS (SELECT s, CAST(pi_fp AS BIGINT) AS pi_fp FROM walk
       WHERE r = {_ENTR_T}),
terms AS (
    SELECT tr.f,
           CAST(SUM(CAST(FLOOR(-(CAST(tr.c AS DOUBLE) / CAST(tt.n AS DOUBLE))
                    * LN(CAST(tr.c AS DOUBLE) / CAST(tt.n AS DOUBLE))
                    * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS h_fp
    FROM trans tr JOIN tot tt ON tt.f = tr.f
    GROUP BY 1
)
SELECT p.s AS state,
       ROUND(CAST(p.pi_fp AS DOUBLE) / {_ENTR_FP}.0, 6) AS pi,
       ROUND(CAST(t.h_fp AS DOUBLE) / 1000000000.0, 6) AS h_state,
       ROUND(CAST(p.pi_fp AS DOUBLE) / {_ENTR_FP}.0
             * CAST(t.h_fp AS DOUBLE) / 1000000000.0, 6) AS h_contrib
FROM pi p JOIN terms t ON t.f = p.s
ORDER BY p.s
""".strip()


@query("markov_entropy_rate", oracle=_ENTR_SQL)
def markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user event-type chain — H = sum_s pi_s *
    H(next | s), the information-theoretic summary of behavioral
    predictability (low rate: rigid funnels; high: exploratory
    traffic) and the model-capacity floor for the next-event predictor
    the engine backtests (``markov_backtest_accuracy``). The stationary
    distribution comes from {_ENTR_T} power-iteration rounds in 1e-12
    integer fixed point on the <=|types| state frame (the Markov-
    attribution discipline — engines walk identical integers); the
    per-state conditional entropies are 1e-9 fixed-pointed plogp sums
    over the bounded transition matrix. Data-sized work: one
    user-partitioned LAG pass + one transition count. Output: one row
    per state with pi, H(next|s), and the pi-weighted contribution
    (the scalar rate is their trivial sum)."""
    ev = load_table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type", F.lag("event_type").over(w_ord).alias("prev")
    ).filter(F.col("prev").isNotNull())
    # r13 restructure (guide §1.2 step 1 — the serve-core discipline):
    # the transition matrix is <= |types|^2 rows, so collect it ONCE and
    # run the 32 power-iteration rounds in the driver — pure exact
    # integer arithmetic (per-row (pi*c) div n then exact sums; `//` ==
    # Spark `div` on these nonnegative decimals; row existence
    # replicated: a state exists next round iff a (f, t) partner row
    # existed). The per-state plogp entropy terms keep their LOG inside
    # the ENGINE (one tiny job over the re-created matrix frame), so the
    # wave's libm exposure is unchanged — only the integer walk moved.
    trans_rows = collect_bounded(
        seq.groupBy(
            F.col("prev").alias("f"), F.col("event_type").alias("t")
        ).agg(F.count(F.lit(1)).cast("long").alias("c")),
        _DOMAIN_CAP,
    )
    tot: dict[str, int] = {}
    for f, _t, c in trans_rows:
        tot[f] = tot.get(f, 0) + c
    k = len(tot)
    pi: dict[str, int] = {s: _ENTR_FP // k for s in tot}
    for _r in range(_ENTR_T):
        nxt: dict[str, int] = {}
        for f, t, c in trans_rows:
            pv = pi.get(f)
            if pv is not None:
                nxt[t] = nxt.get(t, 0) + (pv * c) // tot[f]
        pi = nxt
    spark_s = ev.sparkSession
    mat = local_frame(
        spark_s,
        [(f, t, c, tot[f]) for f, t, c in trans_rows],
        "f string, t string, c long, n long",
    )
    pi_df = local_frame(spark_s, sorted(pi.items()), "s string, pi_fp long")
    terms = (
        mat.select(
            "f",
            F.floor(
                -(F.col("c").cast("double") / F.col("n").cast("double"))
                * F.log(F.col("c").cast("double") / F.col("n").cast("double"))
                * F.lit(1e9)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("term_fp"),
        )
        .groupBy("f")
        .agg(F.sum("term_fp").cast("long").alias("h_fp"))
    )
    return (
        pi_df.join(terms, pi_df["s"] == terms["f"])
        .select(
            F.col("s").alias("state"),
            F.round(
                F.col("pi_fp").cast("double") / F.lit(float(_ENTR_FP)), 6
            ).alias("pi"),
            F.round(F.col("h_fp").cast("double") / F.lit(1e9), 6).alias(
                "h_state"
            ),
            F.round(
                F.col("pi_fp").cast("double")
                / F.lit(float(_ENTR_FP))
                * F.col("h_fp").cast("double")
                / F.lit(1e9),
                6,
            ).alias("h_contrib"),
        )
        .orderBy("state")
    )


# --- Good-Turing unseen mass + Chao1 richness ----------------------------------

_GT_SQL = """
WITH tok AS (
    SELECT unnest(string_split(text, ' ')) AS term FROM documents
),
cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY 1),
coc AS (SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r FROM cnt GROUP BY 1),
m AS (
    SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
           CAST(SUM(n_r) AS BIGINT) AS v_types,
           CAST(COALESCE(SUM(CASE WHEN r = 1 THEN n_r END), 0) AS BIGINT) AS n1,
           CAST(COALESCE(SUM(CASE WHEN r = 2 THEN n_r END), 0) AS BIGINT) AS n2,
           CAST(COALESCE(SUM(CASE WHEN r = 3 THEN n_r END), 0) AS BIGINT) AS n3,
           CAST(COALESCE(SUM(CASE WHEN r = 4 THEN n_r END), 0) AS BIGINT) AS n4
    FROM coc
)
SELECT n_tokens, v_types, n1, n2,
       ROUND(CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
           AS p_unseen,
       ROUND(1.0 - CAST(n1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
           AS coverage,
       ROUND(CAST(v_types AS DOUBLE)
             + CAST(n1 AS DOUBLE) * CAST(n1 - 1 AS DOUBLE)
               / (2.0 * CAST(n2 + 1 AS DOUBLE)), 6) AS chao1,
       CASE WHEN n1 = 0 THEN NULL
            ELSE ROUND(2.0 * CAST(n2 AS DOUBLE) / CAST(n1 AS DOUBLE), 6)
       END AS gt_r1,
       CASE WHEN n2 = 0 THEN NULL
            ELSE ROUND(3.0 * CAST(n3 AS DOUBLE) / CAST(n2 AS DOUBLE), 6)
       END AS gt_r2,
       CASE WHEN n3 = 0 THEN NULL
            ELSE ROUND(4.0 * CAST(n4 AS DOUBLE) / CAST(n3 AS DOUBLE), 6)
       END AS gt_r3
FROM m
""".strip()


@query("good_turing_chao1_vocab", oracle=_GT_SQL)
def good_turing_chao1_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen-species mass and the bias-corrected Chao1
    richness estimate for the token vocabulary — the how-much-is-
    MISSING companions to the Heaps/hapax growth diagnostics: P(next
    token is unseen) = n1/N (the Good-Turing estimate every smoothed
    language model builds on), total-richness Chao1 = V + n1(n1-1)/
    (2(n2+1)) (defined even when doubletons are absent), and the first
    three smoothed Good-Turing counts r* = (r+1) n_{{r+1}}/n_r (NULL
    when the denominator class is empty — honest, not zero). The
    count-of-counts table is the complete sufficient statistic:
    two stacked aggregates over the token explode, everything after is
    one row of exact integers with single double expressions. Good
    1953 / Chao 1984."""
    docs = load_table(spark, sf_dir, "documents")
    cnt = (
        docs.select(F.explode(F.split("text", " ")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    coc = cnt.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    )
    m = coc.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n_tokens"),
        F.sum("n_r").cast("long").alias("v_types"),
        F.coalesce(
            F.sum(F.when(F.col("r") == 1, F.col("n_r"))), F.lit(0)
        ).cast("long").alias("n1"),
        F.coalesce(
            F.sum(F.when(F.col("r") == 2, F.col("n_r"))), F.lit(0)
        ).cast("long").alias("n2"),
        F.coalesce(
            F.sum(F.when(F.col("r") == 3, F.col("n_r"))), F.lit(0)
        ).cast("long").alias("n3"),
        F.coalesce(
            F.sum(F.when(F.col("r") == 4, F.col("n_r"))), F.lit(0)
        ).cast("long").alias("n4"),
    )
    n_d = F.col("n_tokens").cast("double")
    n1_d = F.col("n1").cast("double")
    return m.select(
        "n_tokens",
        "v_types",
        "n1",
        "n2",
        F.round(n1_d / n_d, 6).alias("p_unseen"),
        F.round(F.lit(1.0) - n1_d / n_d, 6).alias("coverage"),
        F.round(
            F.col("v_types").cast("double")
            + n1_d * (F.col("n1") - F.lit(1)).cast("double")
            / (F.lit(2.0) * (F.col("n2") + F.lit(1)).cast("double")),
            6,
        ).alias("chao1"),
        F.when(F.col("n1") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(F.lit(2.0) * F.col("n2").cast("double") / n1_d, 6)
        )
        .alias("gt_r1"),
        F.when(F.col("n2") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.lit(3.0) * F.col("n3").cast("double")
                / F.col("n2").cast("double"),
                6,
            )
        )
        .alias("gt_r2"),
        F.when(F.col("n3") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.lit(4.0) * F.col("n4").cast("double")
                / F.col("n3").cast("double"),
                6,
            )
        )
        .alias("gt_r3"),
    )


# --- relational DFT: dominant audio frequency ----------------------------------

#: 32-point DFT twiddle factors cos/sin(2*pi*m/32), 1e-12 fixed-point
#: PINNED integers — the whole spectrum is exact integer arithmetic.
_DFT_N = 32
_DFT_TWIDDLE = [
    (0, 1000000000000, 0), (1, 980785280403, 195090322016),
    (2, 923879532511, 382683432365), (3, 831469612303, 555570233020),
    (4, 707106781187, 707106781187), (5, 555570233020, 831469612303),
    (6, 382683432365, 923879532511), (7, 195090322016, 980785280403),
    (8, 0, 1000000000000), (9, -195090322016, 980785280403),
    (10, -382683432365, 923879532511), (11, -555570233020, 831469612303),
    (12, -707106781187, 707106781187), (13, -831469612303, 555570233020),
    (14, -923879532511, 382683432365), (15, -980785280403, 195090322016),
    (16, -1000000000000, 0), (17, -980785280403, -195090322016),
    (18, -923879532511, -382683432365), (19, -831469612303, -555570233020),
    (20, -707106781187, -707106781187), (21, -555570233020, -831469612303),
    (22, -382683432365, -923879532511), (23, -195090322016, -980785280403),
    (24, 0, -1000000000000), (25, 195090322016, -980785280403),
    (26, 382683432365, -923879532511), (27, 555570233020, -831469612303),
    (28, 707106781187, -707106781187), (29, 831469612303, -555570233020),
    (30, 923879532511, -382683432365), (31, 980785280403, -195090322016),
]
_DFT_TW_VALUES = ", ".join(f"({m}, {c}, {s})" for m, c, s in _DFT_TWIDDLE)

_DFT_SQL = f"""
WITH params AS (
    SELECT doc_id,
           8000 + (doc_id % 3) * 4000 AS rate,
           doc_id % 50 + 20 AS n
    FROM documents
    WHERE doc_id % 50 + 20 >= {_DFT_N}
),
samp AS (
    SELECT p.doc_id, p.rate,
           CAST((p.doc_id * 31 + i.i * 17) % 2001 - 1000 AS BIGINT) AS s,
           i.i AS i
    FROM params p, (SELECT unnest(generate_series(0, {_DFT_N - 1})) AS i) i
),
tw AS (SELECT * FROM (VALUES {_DFT_TW_VALUES}) t(m, c_fp, s_fp)),
bins AS (SELECT unnest(generate_series(1, {_DFT_N // 2 - 1})) AS k),
spec AS (
    SELECT sa.doc_id, sa.rate, b.k,
           CAST(SUM(sa.s * tw.c_fp) AS DECIMAL(38,0)) AS re_fp,
           CAST(SUM(sa.s * tw.s_fp) AS DECIMAL(38,0)) AS im_fp
    FROM samp sa
    JOIN bins b ON TRUE
    JOIN tw ON tw.m = (b.k * sa.i) % {_DFT_N}
    GROUP BY 1, 2, 3
),
power AS (
    SELECT doc_id, rate, k,
           re_fp * re_fp + im_fp * im_fp AS p2
    FROM spec
),
tot AS (
    SELECT doc_id, CAST(SUM(p2) AS DECIMAL(38,0)) AS p_all FROM power
    GROUP BY 1
),
best AS (
    SELECT doc_id, rate, k, p2,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY p2 DESC, k ASC) AS rnk
    FROM power
)
SELECT b.doc_id,
       CAST(b.k AS BIGINT) AS dom_bin,
       ROUND(CAST(b.k AS DOUBLE) * CAST(b.rate AS DOUBLE) / {_DFT_N}.0, 6)
           AS dom_freq_hz,
       ROUND(CAST(b.p2 AS DOUBLE) / CAST(t.p_all AS DOUBLE), 6)
           AS power_share
FROM best b JOIN tot t ON t.doc_id = b.doc_id
WHERE b.rnk = 1
ORDER BY b.doc_id
""".strip()


@query("audio_dominant_frequency", oracle=_DFT_SQL)
def audio_dominant_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant frequency per audio clip via a RELATIONAL {_DFT_N}-point
    DFT — spectral analysis with no FFT library and no float anywhere
    until the two output divisions: the engine decodes the REAL RIFF/
    WAVE bytes to long-format samples (``decode_wav_samples``, a
    shuffle-free codec stage), joins the pinned 1e-12 fixed-point
    twiddle table on ``(k*i) mod {_DFT_N}``, and every DFT bin's
    re/im parts and power are EXACT integers (s <= 1000, so re_fp <=
    3.2e16 and powers fit DECIMAL(38,0)) — the argmax over bins and its
    tie-break (lowest k) are exact comparisons. The oracle regenerates
    the samples from their closed form, so a wrong byte decode on the
    engine side hash-fails. Clips shorter than the window are excluded
    honestly; DC (k=0) is skipped. Per-doc fan-out is the bounded
    {_DFT_N}x{_DFT_N // 2 - 1} twiddle join — linear in corpus size."""
    from apache_beam_challange_spark.operators.multimodal import (
        attach_wav_audio,
        decode_wav_samples,
    )

    docs = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") % 50 + 20) >= _DFT_N
    )
    rates = docs.select(
        "doc_id",
        (F.lit(8000) + (F.col("doc_id") % 3) * 4000).cast("long").alias("rate"),
    )
    samp = (
        decode_wav_samples(attach_wav_audio(docs))
        .filter(F.col("i") < _DFT_N)
    )
    spark_s = docs.sparkSession
    tw = F.broadcast(
        local_frame(spark_s, _DFT_TWIDDLE, "m long, c_fp long, s_fp long")
    )
    bins = F.broadcast(
        spark_s.range(1, _DFT_N // 2).select(F.col("id").alias("k"))
    )
    d38 = "decimal(38,0)"
    spec = (
        samp.crossJoin(bins)
        .join(tw, F.expr(f"m = (k * i) % {_DFT_N}"))
        .groupBy("doc_id", "k")
        .agg(
            F.sum(F.col("s") * F.col("c_fp")).cast(d38).alias("re_fp"),
            F.sum(F.col("s") * F.col("s_fp")).cast(d38).alias("im_fp"),
        )
    )
    power = spec.select(
        "doc_id",
        "k",
        (
            F.col("re_fp") * F.col("re_fp") + F.col("im_fp") * F.col("im_fp")
        ).cast(d38).alias("p2"),
    ).localCheckpoint()  # feeds the total AND the argmax
    tot = power.groupBy("doc_id").agg(F.sum("p2").cast(d38).alias("p_all"))
    w_best = Window.partitionBy("doc_id").orderBy(
        F.col("p2").desc(), F.col("k").asc()
    )
    best = power.withColumn("rnk", F.row_number().over(w_best)).filter(
        F.col("rnk") == 1
    )
    return (
        best.join(tot, "doc_id")
        .join(F.broadcast(rates), "doc_id")
        .select(
            "doc_id",
            F.col("k").cast("long").alias("dom_bin"),
            F.round(
                F.col("k").cast("double") * F.col("rate").cast("double")
                / F.lit(float(_DFT_N)),
                6,
            ).alias("dom_freq_hz"),
            F.round(
                F.col("p2").cast("double") / F.col("p_all").cast("double"), 6
            ).alias("power_share"),
        )
        .orderBy("doc_id")
    )


# --- DCT perceptual image hash -------------------------------------------------

#: 4x3 pooled grid (every corpus image is at least 4x3) and the pinned
#: 1e-9 fixed-point DCT-II cosine tables cos(pi*(2c+1)*u/2L)
_DCT_CU = [
    (0, 0, 1000000000), (0, 1, 1000000000), (0, 2, 1000000000), (0, 3, 1000000000),
    (1, 0, 923879533), (1, 1, 382683432), (1, 2, -382683432), (1, 3, -923879533),
    (2, 0, 707106781), (2, 1, -707106781), (2, 2, -707106781), (2, 3, 707106781),
    (3, 0, 382683432), (3, 1, -923879533), (3, 2, 923879533), (3, 3, -382683432),
]
_DCT_CV = [
    (0, 0, 1000000000), (0, 1, 1000000000), (0, 2, 1000000000),
    (1, 0, 866025404), (1, 1, 0), (1, 2, -866025404),
    (2, 0, 500000000), (2, 1, -1000000000), (2, 2, 500000000),
]
_DCT_CU_VALUES = ", ".join(f"({u}, {c}, {v})" for u, c, v in _DCT_CU)
_DCT_CV_VALUES = ", ".join(f"({u}, {c}, {v})" for u, c, v in _DCT_CV)

_DCTH_SQL = f"""
WITH dims AS (
    SELECT doc_id, doc_id % 13 + 4 AS w, doc_id % 7 + 3 AS h
    FROM documents
),
px AS (
    SELECT d.doc_id, d.w, d.h, xs.x, ys.y,
           CAST((d.doc_id * 7 + ys.y * 31 + xs.x * 5) % 256
                + (d.doc_id * 7 + ys.y * 31 + xs.x * 5 + 11) % 256
                + (d.doc_id * 7 + ys.y * 31 + xs.x * 5 + 22) % 256
                AS BIGINT) AS gray
    FROM dims d
    JOIN (SELECT unnest(generate_series(0, 16)) AS x) xs ON xs.x < d.w
    JOIN (SELECT unnest(generate_series(0, 9)) AS y) ys ON ys.y < d.h
),
cells AS (
    SELECT doc_id, (x * 4) // w AS cx, (y * 3) // h AS cy,
           CAST(SUM(gray) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS c
    FROM px GROUP BY 1, 2, 3
),
means AS (
    SELECT doc_id, cx, cy, (s * 1000000) // c AS m_fp FROM cells
),
cu AS (SELECT * FROM (VALUES {_DCT_CU_VALUES}) t(u, cx, cu_fp)),
cv AS (SELECT * FROM (VALUES {_DCT_CV_VALUES}) t(v, cy, cv_fp)),
coef AS (
    SELECT m.doc_id, cu.u, cv.v,
           CAST(SUM(CAST(m.m_fp AS HUGEINT) * cu.cu_fp * cv.cv_fp)
                AS DECIMAL(38,0)) AS a
    FROM means m
    JOIN cu ON cu.cx = m.cx
    JOIN cv ON cv.cy = m.cy
    WHERE NOT (cu.u = 0 AND cv.v = 0)
    GROUP BY 1, 2, 3
),
ranked AS (
    SELECT doc_id, u, v, a,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY a, u, v) AS rn
    FROM coef
),
med AS (SELECT doc_id, a AS med_a FROM ranked WHERE rn = 6)
SELECT c.doc_id,
       CAST(SUM(CASE WHEN c.a > m.med_a
                THEN CAST(POWER(2, c.u * 3 + c.v - 1) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS dct_hash
FROM coef c JOIN med m ON m.doc_id = c.doc_id
GROUP BY 1
ORDER BY c.doc_id
""".strip()


@query("image_dct_phash", oracle=_DCTH_SQL)
def image_dct_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DCT perceptual hash — the industry-standard pHash variant next to
    the engine's average-hash pair (average-hash thresholds raw pixels;
    the DCT hash thresholds LOW-FREQUENCY structure, so it survives
    noise and brightness shifts): real BMP bytes decode to per-pixel
    rows (``decode_bmp_pixels``), pool by exact integer bucketing onto
    the fixed 4x3 grid every corpus image covers (the classic 32x32 ->
    8x8 shape scaled to these dims), 2-D DCT-II via two pinned 1e-9
    fixed-point cosine-table joins (zero libm), and the 11 non-DC
    coefficients hash against their EXACT median (type-1 pick over an
    11-row total order; strict > so ties bit to 0). Every quantity from
    pooled mean to hash bit is exact integer arithmetic; the oracle
    regenerates pixels from the closed form, so a byte-decode slip
    hash-fails. Per-doc fan-out is the bounded 12-cell x 12-coefficient
    join — linear in corpus size."""
    from apache_beam_challange_spark.operators.multimodal import (
        attach_bmp_image,
        decode_bmp_pixels,
    )

    docs = load_table(spark, sf_dir, "documents")
    dims = docs.select(
        "doc_id",
        (F.col("doc_id") % 13 + 4).cast("long").alias("w"),
        (F.col("doc_id") % 7 + 3).cast("long").alias("h"),
    )
    px = decode_bmp_pixels(attach_bmp_image(docs)).join(
        F.broadcast(dims), "doc_id"
    )
    cells = px.groupBy(
        "doc_id",
        F.expr("(x * 4) div w").alias("cx"),
        F.expr("(y * 3) div h").alias("cy"),
    ).agg(
        F.sum("gray").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("c"),
    )
    means = cells.select(
        "doc_id", "cx", "cy", F.expr("(s * 1000000) div c").alias("m_fp")
    )
    spark_s = docs.sparkSession
    cu = F.broadcast(
        local_frame(spark_s, _DCT_CU, "u long, cx long, cu_fp long")
    )
    cv = F.broadcast(
        local_frame(spark_s, _DCT_CV, "v long, cy long, cv_fp long")
    )
    d38 = "decimal(38,0)"
    coef = (
        means.join(cu, "cx")
        .join(cv, "cy")
        .filter(~((F.col("u") == 0) & (F.col("v") == 0)))
        .groupBy("doc_id", "u", "v")
        .agg(
            F.sum(
                F.col("m_fp").cast(d38)
                * F.col("cu_fp").cast(d38)
                * F.col("cv_fp").cast(d38)
            )
            .cast(d38)
            .alias("a")
        )
        .localCheckpoint()  # feeds the median pick AND the hash fold
    )
    w_rn = Window.partitionBy("doc_id").orderBy("a", "u", "v")
    med = (
        coef.withColumn("rn", F.row_number().over(w_rn))
        .filter(F.col("rn") == 6)
        .select("doc_id", F.col("a").alias("med_a"))
    )
    return (
        coef.join(med, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("a") > F.col("med_a"),
                    F.expr("CAST(pow(2, u * 3 + v - 1) AS BIGINT)"),
                ).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("dct_hash")
        )
        .orderBy("doc_id")
    )


# --- Platt scaling (binned logistic calibration) -------------------------------

#: Newton rounds; parameter fixed point 1e-9
_PLATT_T = 16
_PLATT_FP = 10**9

_PLATT_STEP = f"""
SELECT s.r + 1,
       CAST(s.a_fp + CAST(FLOOR(
           ((SUM(s.h22) * SUM(s.g1) - SUM(s.h12) * SUM(s.g2))
            / (SUM(s.h11) * SUM(s.h22) - SUM(s.h12) * SUM(s.h12)))
           * {_PLATT_FP} + 0.5) AS BIGINT) AS BIGINT),
       CAST(s.b_fp + CAST(FLOOR(
           ((SUM(s.h11) * SUM(s.g2) - SUM(s.h12) * SUM(s.g1))
            / (SUM(s.h11) * SUM(s.h22) - SUM(s.h12) * SUM(s.h12)))
           * {_PLATT_FP} + 0.5) AS BIGINT) AS BIGINT)
FROM (
    SELECT w.r, w.a_fp, w.b_fp,
           (CAST(c.y_b AS DOUBLE) - CAST(c.n_b AS DOUBLE) * (
               1.0 / (1.0 + EXP(-(CAST(w.a_fp AS DOUBLE) / {_PLATT_FP}.0
                    * c.bin + CAST(w.b_fp AS DOUBLE) / {_PLATT_FP}.0)))))
               * c.bin AS g1,
           CAST(c.y_b AS DOUBLE) - CAST(c.n_b AS DOUBLE) * (
               1.0 / (1.0 + EXP(-(CAST(w.a_fp AS DOUBLE) / {_PLATT_FP}.0
                    * c.bin + CAST(w.b_fp AS DOUBLE) / {_PLATT_FP}.0))))
               AS g2,
           CAST(c.n_b AS DOUBLE) * (
               1.0 / (1.0 + EXP(-(CAST(w.a_fp AS DOUBLE) / {_PLATT_FP}.0
                    * c.bin + CAST(w.b_fp AS DOUBLE) / {_PLATT_FP}.0))))
               * (1.0 - 1.0 / (1.0 + EXP(-(CAST(w.a_fp AS DOUBLE)
                    / {_PLATT_FP}.0 * c.bin
                    + CAST(w.b_fp AS DOUBLE) / {_PLATT_FP}.0))))
               * c.bin * c.bin AS h11,
           CAST(c.n_b AS DOUBLE) * (
               1.0 / (1.0 + EXP(-(CAST(w.a_fp AS DOUBLE) / {_PLATT_FP}.0
                    * c.bin + CAST(w.b_fp AS DOUBLE) / {_PLATT_FP}.0))))
               * (1.0 - 1.0 / (1.0 + EXP(-(CAST(w.a_fp AS DOUBLE)
                    / {_PLATT_FP}.0 * c.bin
                    + CAST(w.b_fp AS DOUBLE) / {_PLATT_FP}.0))))
               * c.bin AS h12,
           CAST(c.n_b AS DOUBLE) * (
               1.0 / (1.0 + EXP(-(CAST(w.a_fp AS DOUBLE) / {_PLATT_FP}.0
                    * c.bin + CAST(w.b_fp AS DOUBLE) / {_PLATT_FP}.0))))
               * (1.0 - 1.0 / (1.0 + EXP(-(CAST(w.a_fp AS DOUBLE)
                    / {_PLATT_FP}.0 * c.bin
                    + CAST(w.b_fp AS DOUBLE) / {_PLATT_FP}.0))))
               AS h22
    FROM walk w, cells c WHERE w.r < {_PLATT_T}
) s
GROUP BY s.r, s.a_fp, s.b_fp
"""

_PLATT_SQL = f"""
WITH RECURSIVE base AS (
    SELECT CAST(FLOOR(value * 100) AS BIGINT) AS vb,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
    FROM events
),
mx AS (SELECT MAX(vb) AS maxvb FROM base),
cells AS MATERIALIZED (
    SELECT CASE WHEN vb * 20 // (maxvb + 1) > 19 THEN 19
                ELSE vb * 20 // (maxvb + 1) END AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_b,
           CAST(SUM(pos) AS BIGINT) AS y_b
    FROM base, mx GROUP BY 1
),
walk(r, a_fp, b_fp) AS (
    SELECT 0, CAST(0 AS BIGINT), CAST(0 AS BIGINT)
    UNION ALL
    {_PLATT_STEP}
),
fin AS (SELECT a_fp, b_fp FROM walk WHERE r = {_PLATT_T}),
loss AS (
    SELECT CAST(SUM(n_b) AS BIGINT) AS n,
           CAST(SUM(
               CAST(FLOOR((CAST(c.y_b AS DOUBLE)
                    * LN(1.0 + EXP(-(CAST(f.a_fp AS DOUBLE) / {_PLATT_FP}.0
                         * c.bin + CAST(f.b_fp AS DOUBLE) / {_PLATT_FP}.0)))
                    + CAST(c.n_b - c.y_b AS DOUBLE)
                    * LN(1.0 + EXP(CAST(f.a_fp AS DOUBLE) / {_PLATT_FP}.0
                         * c.bin + CAST(f.b_fp AS DOUBLE) / {_PLATT_FP}.0)))
                   * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS ll_fp
    FROM cells c, fin f
)
SELECT loss.n AS n,
       ROUND(CAST(f.a_fp AS DOUBLE) / {_PLATT_FP}.0, 6) AS a,
       ROUND(CAST(f.b_fp AS DOUBLE) / {_PLATT_FP}.0, 6) AS b,
       ROUND(CAST(loss.ll_fp AS DOUBLE) / 1000000000.0
             / CAST(loss.n AS DOUBLE), 6) AS avg_log_loss
FROM fin f, loss
""".strip()


@query("platt_scaling_value_purchase", oracle=_PLATT_SQL)
def platt_scaling_value_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt scaling — the PARAMETRIC calibration member next to the
    isotonic (PAVA) fit and the held-out ECE/Brier audits: fit
    sigma(a*bin + b) to the binned purchase outcomes by Newton-Raphson,
    {_PLATT_T} rounds of exact 2x2 solves on the 20-bin sufficient
    statistic (counts and positives per value bin — the data never gets
    rescanned). The trajectory is engine-pinned the wave's way:
    parameters live in 1e-9 fixed point and every Newton step floors
    its double increment back to integers, so both engines walk the
    same parameter sequence (the per-step sigmoids are the one shared
    libm exposure, same class as the wave's LN usage); the reported
    average log-loss fixed-points its 20 per-bin terms. One data-sized
    conditional aggregate; Newton itself is 20-row arithmetic. Platt
    1999."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.floor(F.col("value") * 100).cast("long").alias("vb"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    )
    mx = base.agg(F.max("vb").alias("maxvb"))
    raw_bin = F.expr("vb * 20 div (maxvb + 1)")
    cells = (
        base.crossJoin(F.broadcast(mx))
        .select(
            F.when(raw_bin > 19, F.lit(19)).otherwise(raw_bin).alias("bin"),
            "pos",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_b"),
            F.sum("pos").cast("long").alias("y_b"),
        )
    )
    spark_s = ev.sparkSession
    fp = float(_PLATT_FP)
    # r13 restructure (guide §1.2 step 1 — the serve-core discipline):
    # the 20-bin sufficient statistic is collected ONCE and Newton runs
    # in the driver instead of 16 crossJoin/agg Spark jobs (plus eager
    # checkpoints). Same trajectory arithmetic: per-bin sigmoid via the
    # shared libm exp (the wave's one documented exposure, same class as
    # the engine<->DuckDB agreement this query already rests on), float
    # g/h sums whose engine partial-agg order was never pinned either,
    # and each step floors its double increment back to 1e-9 fixed point
    # — gate-verified hash-identical at all three SFs. The final
    # log-loss aggregate stays IN the engine over the re-created cells
    # frame, so the reported floats' expression chain is unchanged.
    import math

    # 20 value bins plus the bin of a NULL value
    cells_rows = collect_bounded(cells, 21)
    a_fp = 0
    b_fp = 0
    for _r in range(_PLATT_T):
        g1 = g2 = h11 = h12 = h22 = 0.0
        for bn, n_b, y_b in cells_rows:
            try:
                ex = math.exp(-(a_fp / fp * bn + b_fp / fp))
            except OverflowError:
                ex = float("inf")  # JVM exp overflows to Infinity
            p = 1.0 / (1.0 + ex)
            resid = float(y_b) - float(n_b) * p
            wgt = float(n_b) * p * (1.0 - p)
            g1 += resid * bn
            g2 += resid
            h11 += wgt * bn * bn
            h12 += wgt * bn
            h22 += wgt
        det = h11 * h22 - h12 * h12
        a_fp = a_fp + int(math.floor((h22 * g1 - h12 * g2) / det * fp + 0.5))
        b_fp = b_fp + int(math.floor((h11 * g2 - h12 * g1) / det * fp + 0.5))
    cells_df = local_frame(spark_s, cells_rows, "bin long, n_b long, y_b long")
    params = local_frame(spark_s, [(a_fp, b_fp)], "a_fp long, b_fp long")
    j = cells_df.crossJoin(F.broadcast(params))
    lin = (
        F.col("a_fp").cast("double") / F.lit(fp) * F.col("bin")
        + F.col("b_fp").cast("double") / F.lit(fp)
    )
    ll_term = F.floor(
        (
            F.col("y_b").cast("double") * F.log(F.lit(1.0) + F.exp(-lin))
            + (F.col("n_b") - F.col("y_b")).cast("double")
            * F.log(F.lit(1.0) + F.exp(lin))
        )
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("long")
    out = j.agg(
        F.sum("n_b").cast("long").alias("n"),
        F.min("a_fp").alias("a_fp"),
        F.min("b_fp").alias("b_fp"),
        F.sum(ll_term).cast("long").alias("ll_fp"),
    )
    return out.select(
        "n",
        F.round(F.col("a_fp").cast("double") / F.lit(fp), 6).alias("a"),
        F.round(F.col("b_fp").cast("double") / F.lit(fp), 6).alias("b"),
        F.round(
            F.col("ll_fp").cast("double") / F.lit(1e9)
            / F.col("n").cast("double"),
            6,
        ).alias("avg_log_loss"),
    )


# --- shifted-beta-geometric retention fit --------------------------------------

#: (alpha, beta) grid in quarter units 1..20 (0.25 .. 5.0) — 400 pinned
#: candidates; the likelihood surface is smooth so quarter resolution
#: identifies the basin
_SBG_QMAX = 20
_SBG_WEEK_US = 604800000000

_SBG_SQL = f"""
WITH mic AS (
    SELECT user_id, epoch_us(ts) AS us FROM events
),
bounds AS (SELECT MAX(us) AS data_end FROM mic),
u AS (
    SELECT user_id,
           (MAX(us) - MIN(us)) // {_SBG_WEEK_US} AS life_w,
           ((SELECT data_end FROM bounds) - MIN(us)) // {_SBG_WEEK_US}
               AS horizon_w
    FROM mic GROUP BY user_id
),
obs AS (
    -- churn observed at period life_w + 1 when the horizon extends
    -- beyond the last activity week; censored at horizon otherwise
    SELECT CASE WHEN life_w < horizon_w THEN life_w + 1 ELSE life_w END AS t,
           CASE WHEN life_w < horizon_w THEN 1 ELSE 0 END AS churned
    FROM u WHERE horizon_w >= 1
),
cells AS (
    SELECT t, CAST(SUM(churned) AS BIGINT) AS c_t,
           CAST(SUM(1 - churned) AS BIGINT) AS s_t
    FROM obs WHERE t >= 1 GROUP BY t
),
tmax AS (SELECT CAST(MAX(t) AS BIGINT) AS tm FROM cells),
grid AS (
    SELECT a.a AS aq, b.b AS bq
    FROM (SELECT unnest(generate_series(1, {_SBG_QMAX})) AS a) a,
         (SELECT unnest(generate_series(1, {_SBG_QMAX})) AS b) b
),
wk AS (
    SELECT unnest(generate_series(1, (SELECT CAST(tm AS INTEGER) FROM tmax)))
        AS i
),
lnterms AS (
    -- ln P(T=t) and ln S(t) via pure log-ratio cumsums (no EXP):
    -- lnP(1) = ln(a/(a+b)); lnP ratio step i: (b+i-2)/(a+b+i-1)
    -- lnS step i: (b+i-1)/(a+b+i-1); quarters: a = aq/4 etc.
    SELECT g.aq, g.bq, w.i,
           CAST(FLOOR(LN((g.bq + 4.0 * (w.i - 1))
                         / (g.aq + g.bq + 4.0 * (w.i - 1)))
                      * 1000000000.0 + 0.5) AS BIGINT) AS lns_step,
           CASE WHEN w.i = 1
                THEN CAST(FLOOR(LN(g.aq / (g.aq + g.bq + 0.0)) * 1000000000.0
                          + 0.5) AS BIGINT)
                ELSE CAST(FLOOR(LN((g.bq + 4.0 * (w.i - 2))
                                   / (g.aq + g.bq + 4.0 * (w.i - 1)))
                          * 1000000000.0 + 0.5) AS BIGINT) END AS lnp_step
    FROM grid g, wk w
),
cum AS (
    SELECT aq, bq, i,
           CAST(SUM(lns_step) OVER (PARTITION BY aq, bq ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS lns_fp,
           CAST(SUM(lnp_step) OVER (PARTITION BY aq, bq ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS lnp_fp
    FROM lnterms
),
ll AS (
    SELECT cu.aq, cu.bq,
           CAST(SUM(ce.c_t * cu.lnp_fp + ce.s_t * cu.lns_fp) AS BIGINT)
               AS ll_fp
    FROM cum cu JOIN cells ce ON ce.t = cu.i
    GROUP BY 1, 2
),
best AS (
    SELECT aq, bq, ll_fp,
           ROW_NUMBER() OVER (ORDER BY ll_fp DESC, aq, bq) AS rnk
    FROM ll
),
surv AS (
    SELECT b.aq, b.bq, b.ll_fp, c.i, c.lns_fp
    FROM best b JOIN cum c ON c.aq = b.aq AND c.bq = b.bq
    WHERE b.rnk = 1 AND c.i <= 4
)
SELECT ROUND(aq / 4.0, 6) AS alpha,
       ROUND(bq / 4.0, 6) AS beta,
       ROUND(CAST(MIN(ll_fp) AS DOUBLE) / 1000000000.0, 6) AS log_lik,
       ROUND(EXP(CAST(MAX(CASE WHEN i = 1 THEN lns_fp END) AS DOUBLE)
                 / 1000000000.0), 6) AS s1,
       ROUND(EXP(CAST(MAX(CASE WHEN i = 2 THEN lns_fp END) AS DOUBLE)
                 / 1000000000.0), 6) AS s2,
       ROUND(EXP(CAST(MAX(CASE WHEN i = 3 THEN lns_fp END) AS DOUBLE)
                 / 1000000000.0), 6) AS s3,
       ROUND(EXP(CAST(MAX(CASE WHEN i = 4 THEN lns_fp END) AS DOUBLE)
                 / 1000000000.0), 6) AS s4
FROM surv
GROUP BY aq, bq
""".strip()


@query("sbg_retention_fit", oracle=_SBG_SQL)
def sbg_retention_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shifted-beta-geometric retention fit (Fader & Hardie 2007 — the
    standard projective churn model: heterogeneous geometric churn with
    Beta(alpha, beta)-distributed risk) estimated ENTIRELY in-engine by
    exact grid search: user lifetimes in whole weeks (churn observed
    when the horizon extends past the last active week, censored
    otherwise) collapse to a (t, churned, censored) cell table; both
    ln P(T=t) and ln S(t) are PURE log-ratio cumulative sums (the
    sBG recurrences — no EXP in the likelihood, no Beta function), so
    each of the 400 pinned quarter-grid candidates gets an exact
    1e-9 fixed-point integer log-likelihood and the argmax is an exact
    comparison (ties to smallest (alpha, beta)). Reports the fitted
    shape and the projected S(1..4) retention curve. Data-sized work:
    one user aggregate; the grid x weeks frame is bounded (400 x
    observed weeks)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mic = ev.select("user_id", us.alias("us")).localCheckpoint()
    bounds = mic.agg(F.max("us").alias("data_end"))
    u = (
        mic.groupBy("user_id")
        .agg(F.min("us").alias("t0"), F.max("us").alias("tl"))
        .crossJoin(F.broadcast(bounds))
        .select(
            F.expr(f"(tl - t0) div {_SBG_WEEK_US}").alias("life_w"),
            F.expr(f"(data_end - t0) div {_SBG_WEEK_US}").alias("horizon_w"),
        )
        .filter(F.col("horizon_w") >= 1)
    )
    obs = u.select(
        F.when(
            F.col("life_w") < F.col("horizon_w"), F.col("life_w") + 1
        ).otherwise(F.col("life_w")).alias("t"),
        (F.col("life_w") < F.col("horizon_w")).cast("long").alias("churned"),
    ).filter(F.col("t") >= 1)
    cells = obs.groupBy("t").agg(
        F.sum("churned").cast("long").alias("c_t"),
        F.sum(F.lit(1) - F.col("churned")).cast("long").alias("s_t"),
    ).localCheckpoint()  # feeds tmax AND the likelihood join
    spark_s = ev.sparkSession
    qs = spark_s.range(1, _SBG_QMAX + 1)
    grid = qs.select(F.col("id").alias("aq")).crossJoin(
        qs.select(F.col("id").alias("bq"))
    )
    # scalar-watermark collect: tm is ONE long (max observed lifetime in
    # weeks, horizon-bounded) read off the already-checkpointed cells frame;
    # the spine is sized from the data, never silently capped (the oracle's
    # generate_series(1, tmax) is likewise uncapped).
    tm = int(cells.agg(F.max("t").cast("long").alias("tm")).first()[0] or 1)
    wk = spark_s.range(1, tm + 1).select(F.col("id").alias("i"))
    lt = grid.crossJoin(wk)
    aqd = F.col("aq").cast("double")
    bqd = F.col("bq").cast("double")
    iD = F.col("i").cast("double")

    def fp9(x):
        return F.floor(x * F.lit(1e9) + F.lit(0.5)).cast("long")

    lnterms = lt.select(
        "aq",
        "bq",
        "i",
        fp9(
            F.log((bqd + F.lit(4.0) * (iD - F.lit(1.0)))
                  / (aqd + bqd + F.lit(4.0) * (iD - F.lit(1.0))))
        ).alias("lns_step"),
        F.when(
            F.col("i") == 1,
            fp9(F.log(aqd / (aqd + bqd))),
        ).otherwise(
            fp9(
                F.log((bqd + F.lit(4.0) * (iD - F.lit(2.0)))
                      / (aqd + bqd + F.lit(4.0) * (iD - F.lit(1.0))))
            )
        ).alias("lnp_step"),
    )
    w_cum = (
        Window.partitionBy("aq", "bq")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = lnterms.select(
        "aq",
        "bq",
        "i",
        F.sum("lns_step").over(w_cum).cast("long").alias("lns_fp"),
        F.sum("lnp_step").over(w_cum).cast("long").alias("lnp_fp"),
    ).localCheckpoint()  # feeds the likelihood AND the survival readout
    ll = (
        cum.join(cells, cum["i"] == cells["t"])
        .groupBy("aq", "bq")
        .agg(
            F.sum(
                F.col("c_t") * F.col("lnp_fp") + F.col("s_t") * F.col("lns_fp")
            )
            .cast("long")
            .alias("ll_fp")
        )
    )
    w_best = Window.orderBy(F.col("ll_fp").desc(), "aq", "bq")
    best = ll.withColumn("rnk", F.row_number().over(w_best)).filter(
        F.col("rnk") == 1
    )
    surv = best.join(cum, ["aq", "bq"]).filter(F.col("i") <= 4)
    return surv.groupBy("aq", "bq").agg(
        F.round(F.min("ll_fp").cast("double") / F.lit(1e9), 6).alias(
            "log_lik"
        ),
        *[
            F.round(
                F.exp(
                    F.max(
                        F.when(F.col("i") == k, F.col("lns_fp"))
                    ).cast("double")
                    / F.lit(1e9)
                ),
                6,
            ).alias(f"s{k}")
            for k in (1, 2, 3, 4)
        ],
    ).select(
        F.round(F.col("aq") / F.lit(4.0), 6).alias("alpha"),
        F.round(F.col("bq") / F.lit(4.0), 6).alias("beta"),
        "log_lik",
        "s1",
        "s2",
        "s3",
        "s4",
    )


# --- Qini uplift deciles -------------------------------------------------------

_QINI_SQL = """
WITH base AS (
    SELECT CAST(FLOOR(value * 100) AS BIGINT) AS vb,
           CASE WHEN CAST(EXTRACT(isodow FROM ts) AS BIGINT) >= 6
                THEN 1 ELSE 0 END AS trt,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
    FROM events
),
hist AS (
    SELECT vb,
           CAST(COUNT(*) AS BIGINT) AS n_b,
           CAST(SUM(trt) AS BIGINT) AS nt_b,
           CAST(SUM(trt * pos) AS BIGINT) AS yt_b,
           CAST(SUM((1 - trt) * pos) AS BIGINT) AS yc_b
    FROM base GROUP BY 1
),
cum AS (
    SELECT vb, n_b, nt_b, yt_b, yc_b,
           CAST(COALESCE(SUM(n_b) OVER (ORDER BY vb DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS before_n,
           CAST(SUM(n_b) OVER () AS BIGINT) AS n_all
    FROM hist
),
dec AS (
    SELECT (10 * before_n) // n_all + 1 AS decile,
           CAST(SUM(nt_b) AS BIGINT) AS n_t,
           CAST(SUM(yt_b) AS BIGINT) AS y_t,
           CAST(SUM(n_b - nt_b) AS BIGINT) AS n_c,
           CAST(SUM(yc_b) AS BIGINT) AS y_c
    FROM cum GROUP BY 1
),
cums AS (
    SELECT decile, n_t, y_t, n_c, y_c,
           CAST(SUM(n_t) OVER (ORDER BY decile) AS BIGINT) AS cnt,
           CAST(SUM(y_t) OVER (ORDER BY decile) AS BIGINT) AS cyt,
           CAST(SUM(n_c) OVER (ORDER BY decile) AS BIGINT) AS cnc,
           CAST(SUM(y_c) OVER (ORDER BY decile) AS BIGINT) AS cyc
    FROM dec
)
SELECT decile, n_t, y_t, n_c, y_c,
       CASE WHEN n_t = 0 OR n_c = 0 THEN NULL
            ELSE ROUND(CAST(y_t AS DOUBLE) / CAST(n_t AS DOUBLE)
                       - CAST(y_c AS DOUBLE) / CAST(n_c AS DOUBLE), 6)
       END AS uplift,
       CASE WHEN cnc = 0 THEN NULL
            ELSE ROUND(CAST(cyt AS DOUBLE)
                       - CAST(cyc AS DOUBLE) * CAST(cnt AS DOUBLE)
                         / CAST(cnc AS DOUBLE), 6)
       END AS qini_cum
FROM cums
ORDER BY decile
""".strip()


@query("qini_uplift_deciles", oracle=_QINI_SQL)
def qini_uplift_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini uplift-by-decile table — the targeting-model eval for
    TREATMENT-EFFECT ranking (lift/gain grade outcome ranking; Qini
    grades whether the score finds the people the treatment MOVES):
    events rank by value into 10 deciles via the histogram-boundary
    cut (a cent bucket joins the decile of its first element —
    deterministic, no data-sized window), each decile splits into
    weekend-treated vs weekday-control with exact integer counts, and
    the cumulative Qini value Y_t(d) - Y_c(d) * N_t(d)/N_c(d) is one
    double expression per decile row. Empty arms report NULL honestly.
    One map-side-combined histogram aggregate is the data-sized work;
    Radcliffe 2007."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.floor(F.col("value") * 100).cast("long").alias("vb"),
        (F.weekday("ts") >= 5).cast("long").alias("trt"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    )
    hist = base.groupBy("vb").agg(
        F.count(F.lit(1)).cast("long").alias("n_b"),
        F.sum("trt").cast("long").alias("nt_b"),
        F.sum(F.col("trt") * F.col("pos")).cast("long").alias("yt_b"),
        F.sum((F.lit(1) - F.col("trt")) * F.col("pos"))
        .cast("long")
        .alias("yc_b"),
    )
    w_prev = Window.orderBy(F.col("vb").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = hist.select(
        "*",
        F.coalesce(F.sum("n_b").over(w_prev), F.lit(0))
        .cast("long")
        .alias("before_n"),
        F.sum("n_b").over(w_all).cast("long").alias("n_all"),
    )
    dec = cum.groupBy(
        (F.expr("(10 * before_n) div n_all") + F.lit(1)).alias("decile")
    ).agg(
        F.sum("nt_b").cast("long").alias("n_t"),
        F.sum("yt_b").cast("long").alias("y_t"),
        F.sum(F.col("n_b") - F.col("nt_b")).cast("long").alias("n_c"),
        F.sum("yc_b").cast("long").alias("y_c"),
    )
    w_dec = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cums = dec.select(
        "*",
        F.sum("n_t").over(w_dec).cast("long").alias("cnt"),
        F.sum("y_t").over(w_dec).cast("long").alias("cyt"),
        F.sum("n_c").over(w_dec).cast("long").alias("cnc"),
        F.sum("y_c").over(w_dec).cast("long").alias("cyc"),
    )
    return cums.select(
        "decile",
        "n_t",
        "y_t",
        "n_c",
        "y_c",
        F.when(
            (F.col("n_t") == 0) | (F.col("n_c") == 0),
            F.lit(None).cast("double"),
        )
        .otherwise(
            F.round(
                F.col("y_t").cast("double") / F.col("n_t").cast("double")
                - F.col("y_c").cast("double") / F.col("n_c").cast("double"),
                6,
            )
        )
        .alias("uplift"),
        F.when(F.col("cnc") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.col("cyt").cast("double")
                - F.col("cyc").cast("double")
                * F.col("cnt").cast("double")
                / F.col("cnc").cast("double"),
                6,
            )
        )
        .alias("qini_cum"),
    ).orderBy("decile")


# --- degree assortativity of the co-purchase graph -----------------------------

_ASSORT_SQL = """
WITH basket AS MATERIALIZED (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS MATERIALIZED (
    SELECT u, v FROM (
        SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS w
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    ) WHERE w >= 2
),
deg AS (
    SELECT n, CAST(COUNT(*) AS BIGINT) AS d FROM (
        SELECT u AS n FROM e UNION ALL SELECT v AS n FROM e
    ) GROUP BY n
),
m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS m_edges,
           CAST(SUM(CAST(du.d AS HUGEINT) * dv.d) AS DECIMAL(38,0)) AS a,
           CAST(SUM(CAST(du.d AS HUGEINT) + dv.d) AS DECIMAL(38,0)) AS b,
           CAST(SUM(CAST(du.d AS HUGEINT) * du.d
                    + CAST(dv.d AS HUGEINT) * dv.d) AS DECIMAL(38,0)) AS c
    FROM e
    JOIN deg du ON du.n = e.u
    JOIN deg dv ON dv.n = e.v
)
SELECT m_edges,
       CASE WHEN 2 * CAST(c AS DOUBLE) * m_edges
                 - CAST(b AS DOUBLE) * CAST(b AS DOUBLE) = 0 THEN NULL
            ELSE ROUND((4.0 * CAST(a AS DOUBLE) * m_edges
                        - CAST(b AS DOUBLE) * CAST(b AS DOUBLE))
                       / (2.0 * CAST(c AS DOUBLE) * m_edges
                          - CAST(b AS DOUBLE) * CAST(b AS DOUBLE)), 6)
       END AS assortativity
FROM m
""".strip()


@query("graph_degree_assortativity", oracle=_ASSORT_SQL)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the thresholded co-purchase
    graph — do hub parts co-sell with other hubs (r > 0, the social-
    network signature) or with the long tail (r < 0, the
    product-catalog signature)? Shares the `_copurchase_edges` builder
    with the k-core and negative-sampling queries; the Pearson degree
    correlation collapses to THREE exact integer edge moments (sum jk,
    sum j+k, sum j^2+k^2 in HUGEINT/DECIMAL) via the cross-multiplied
    form r = (4AM - B^2)/(2CM - B^2) — one double division, NULL for
    degree-regular graphs whose variance term is zero. Data-sized work:
    the basket self-join (the established bounded shape) + one degree
    aggregate + one edge-degree join."""
    from apache_beam_challange_spark.plans.traindata import _copurchase_edges

    e = _copurchase_edges(spark, sf_dir).localCheckpoint()
    deg = (
        e.select(F.col("u").alias("n"))
        .unionAll(e.select(F.col("v").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).cast("long").alias("d"))
    )
    d38 = "decimal(38,0)"
    j = (
        e.join(deg.select(F.col("n").alias("u"), F.col("d").alias("du")), "u")
        .join(deg.select(F.col("n").alias("v"), F.col("d").alias("dv")), "v")
    )
    m = j.agg(
        F.count(F.lit(1)).cast("long").alias("m_edges"),
        F.sum(F.col("du").cast(d38) * F.col("dv").cast(d38))
        .cast(d38)
        .alias("a"),
        F.sum(F.col("du").cast(d38) + F.col("dv").cast(d38))
        .cast(d38)
        .alias("b"),
        F.sum(
            F.col("du").cast(d38) * F.col("du").cast(d38)
            + F.col("dv").cast(d38) * F.col("dv").cast(d38)
        )
        .cast(d38)
        .alias("c"),
    )
    aD = F.col("a").cast("double")
    bD = F.col("b").cast("double")
    cD = F.col("c").cast("double")
    mD = F.col("m_edges").cast("double")
    den = F.lit(2.0) * cD * mD - bD * bD
    return m.select(
        "m_edges",
        F.when(den == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round((F.lit(4.0) * aD * mD - bD * bD) / den, 6)
        )
        .alias("assortativity"),
    )


# --- E-value sensitivity analysis ----------------------------------------------

_EVALUE_SQL = f"""
WITH per AS (
    SELECT CASE WHEN CAST(EXTRACT(isodow FROM ts) AS BIGINT) >= 6
                THEN 1 ELSE 0 END AS trt,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
    FROM events
),
m AS (
    SELECT CAST(SUM(trt) AS BIGINT) AS n1,
           CAST(SUM(trt * pos) AS BIGINT) AS a,
           CAST(SUM(1 - trt) AS BIGINT) AS n0,
           CAST(SUM((1 - trt) * pos) AS BIGINT) AS c
    FROM per
),
rr AS (
    SELECT n1, a, n0, c,
           (CAST(a AS DOUBLE) / CAST(n1 AS DOUBLE))
               / (CAST(c AS DOUBLE) / CAST(n0 AS DOUBLE)) AS rr_raw
    FROM m
),
orient AS (
    SELECT n1, a, n0, c, rr_raw,
           CASE WHEN rr_raw >= 1.0 THEN rr_raw ELSE 1.0 / rr_raw END AS rr
    FROM rr
)
SELECT n1, a, n0, c,
       ROUND(rr_raw, 6) AS risk_ratio,
       ROUND(CASE WHEN rr <= 1.0 THEN 1.0
                  ELSE rr + SQRT(rr * (rr - 1.0)) END, 6) AS e_value,
       ROUND(EXP(LN(rr_raw)
                 - {_Z95} * SQRT(1.0 / CAST(a AS DOUBLE)
                      - 1.0 / CAST(n1 AS DOUBLE)
                      + 1.0 / CAST(c AS DOUBLE)
                      - 1.0 / CAST(n0 AS DOUBLE))), 6) AS rr_lo95,
       ROUND(EXP(LN(rr_raw)
                 + {_Z95} * SQRT(1.0 / CAST(a AS DOUBLE)
                      - 1.0 / CAST(n1 AS DOUBLE)
                      + 1.0 / CAST(c AS DOUBLE)
                      - 1.0 / CAST(n0 AS DOUBLE))), 6) AS rr_hi95
FROM orient
""".strip()


@query("evalue_sensitivity_weekend", oracle=_EVALUE_SQL)
def evalue_sensitivity_weekend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E-value sensitivity analysis (VanderWeele & Ding 2017) for the
    weekend-purchase risk ratio — the robustness check every
    OBSERVATIONAL estimate in the engine's causal family (DiD,
    stratified ATE, FWL) should publish: the minimum strength of
    association an unmeasured confounder would need with BOTH treatment
    and outcome to explain the estimate away, E = RR* + sqrt(RR*(RR*-1))
    on the away-from-null orientation. Counts are exact integers from
    one conditional aggregate; the Katz log-normal 95% CI for the RR
    uses the pinned z and shared EXP/LN/SQRT expressions. One data-sized
    aggregate, one output row."""
    ev = load_table(spark, sf_dir, "events")
    per = ev.select(
        (F.weekday("ts") >= 5).cast("long").alias("trt"),
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
    )
    m = per.agg(
        F.sum("trt").cast("long").alias("n1"),
        F.sum(F.col("trt") * F.col("pos")).cast("long").alias("a"),
        F.sum(F.lit(1) - F.col("trt")).cast("long").alias("n0"),
        F.sum((F.lit(1) - F.col("trt")) * F.col("pos"))
        .cast("long")
        .alias("c"),
    )
    rr_raw = (F.col("a").cast("double") / F.col("n1").cast("double")) / (
        F.col("c").cast("double") / F.col("n0").cast("double")
    )
    rr_star = F.when(rr_raw >= 1.0, rr_raw).otherwise(F.lit(1.0) / rr_raw)
    se = F.sqrt(
        F.lit(1.0) / F.col("a").cast("double")
        - F.lit(1.0) / F.col("n1").cast("double")
        + F.lit(1.0) / F.col("c").cast("double")
        - F.lit(1.0) / F.col("n0").cast("double")
    )
    return m.select(
        "n1",
        "a",
        "n0",
        "c",
        F.round(rr_raw, 6).alias("risk_ratio"),
        F.round(
            F.when(rr_star <= 1.0, F.lit(1.0)).otherwise(
                rr_star + F.sqrt(rr_star * (rr_star - F.lit(1.0)))
            ),
            6,
        ).alias("e_value"),
        F.round(F.exp(F.log(rr_raw) - F.lit(_Z95) * se), 6).alias("rr_lo95"),
        F.round(F.exp(F.log(rr_raw) + F.lit(_Z95) * se), 6).alias("rr_hi95"),
    )


# --- Gumbel block-maxima fit (EVT) ---------------------------------------------

#: pinned constants: Euler-Mascheroni, sqrt(6)/pi, and
#: -ln(-ln(1 - 1/20)) for the 20-block return level
_EVT_GAMMA = 0.5772156649015329
_EVT_SQRT6_PI = 0.7796968012336609
_EVT_RL20 = 2.9702274034835488

_GUMBEL_SQL = f"""
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                    THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS rev_c
    FROM events GROUP BY 1
),
blocks AS (
    SELECT (day - DATE '1970-01-01') // 7 AS wk,
           CAST(MAX(rev_c) AS BIGINT) AS mx
    FROM daily GROUP BY 1
),
m AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS nb,
           CAST(SUM(mx) AS DECIMAL(38,0)) AS s,
           CAST(SUM(CAST(mx AS HUGEINT) * mx) AS DECIMAL(38,0)) AS q
    FROM blocks
)
SELECT nb AS n_blocks,
       ROUND(CAST(s AS DOUBLE) / CAST(nb AS DOUBLE) / 100.0, 6)
           AS block_max_mean,
       ROUND(SQRT((CAST(q AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                     / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE))
             * {_EVT_SQRT6_PI} / 100.0, 6) AS beta,
       ROUND((CAST(s AS DOUBLE) / CAST(nb AS DOUBLE)
              - {_EVT_GAMMA} * SQRT((CAST(q AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                     / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE))
                * {_EVT_SQRT6_PI}) / 100.0, 6) AS mu,
       ROUND((CAST(s AS DOUBLE) / CAST(nb AS DOUBLE)
              - {_EVT_GAMMA} * SQRT((CAST(q AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                     / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE))
                * {_EVT_SQRT6_PI}
              + {_EVT_RL20} * SQRT((CAST(q AS DOUBLE)
                   - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                     / CAST(nb AS DOUBLE)) / CAST(nb - 1 AS DOUBLE))
                * {_EVT_SQRT6_PI}) / 100.0, 6) AS return_level_20
FROM m
""".strip()


@query("gumbel_block_maxima_fit", oracle=_GUMBEL_SQL)
def gumbel_block_maxima_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gumbel extreme-value fit on weekly block maxima of daily revenue
    — the EVT capacity-planning question ("what daily revenue should a
    1-in-20-week day reach?") that tail quantiles of the RAW
    distribution answer wrongly (Fisher-Tippett: maxima of light-tailed
    sums converge to Gumbel, not to the parent's shape). Method-of-
    moments fit: beta = s * sqrt(6)/pi, mu = mean - gamma*beta with
    Euler-Mascheroni and sqrt(6)/pi PINNED literals, return level
    x_T = mu + beta * (-ln(-ln(1-1/T))) with the T=20 plotting constant
    pinned too — so the only runtime float work is one sqrt of exact
    DECIMAL/HUGEINT moments (sums of weekly maxima of exact cent
    sums). Data-sized work: one daily aggregate; blocks are
    calendar-bounded."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("rev_c")
    )
    blocks = daily.groupBy(
        F.expr("datediff(day, DATE '1970-01-01') div 7").alias("wk")
    ).agg(F.max("rev_c").cast("long").alias("mx"))
    d38 = "decimal(38,0)"
    m = blocks.agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        F.sum("mx").cast(d38).alias("s"),
        F.sum(F.col("mx").cast(d38) * F.col("mx").cast(d38))
        .cast(d38)
        .alias("q"),
    )
    nbD = F.col("nb").cast("double")
    sD = F.col("s").cast("double")
    mean = sD / nbD
    # explicit self-multiplication, NOT ** 2 (Java Math.pow is only 1-ulp
    # accurate; the oracle spells s*s — keep the double expression identical)
    sd = F.sqrt(
        (F.col("q").cast("double") - sD * sD / nbD)
        / (F.col("nb") - F.lit(1)).cast("double")
    )
    beta = sd * F.lit(_EVT_SQRT6_PI)
    mu = mean - F.lit(_EVT_GAMMA) * beta
    return m.select(
        F.col("nb").alias("n_blocks"),
        F.round(mean / F.lit(100.0), 6).alias("block_max_mean"),
        F.round(beta / F.lit(100.0), 6).alias("beta"),
        F.round(mu / F.lit(100.0), 6).alias("mu"),
        F.round((mu + F.lit(_EVT_RL20) * beta) / F.lit(100.0), 6).alias(
            "return_level_20"
        ),
    )


# --- Hill tail-index estimator --------------------------------------------------

#: order-statistic depth: values strictly above the (k+1)-th largest
_HILL_K = 100

_HILL_SQL = f"""
WITH hist AS (
    SELECT CAST(FLOOR(value * 100) AS BIGINT) AS vb,
           CAST(COUNT(*) AS BIGINT) AS c
    FROM events WHERE value > 0 GROUP BY 1
),
sfx AS (
    SELECT vb, c,
           CAST(SUM(c) OVER (ORDER BY vb DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS above_incl
    FROM hist
),
thr AS (
    -- the (k+1)-th largest value: smallest vb whose inclusive suffix
    -- count reaches k+1
    SELECT MAX(vb) AS x_k1 FROM sfx WHERE above_incl >= {_HILL_K} + 1
),
topk AS (
    SELECT h.vb, h.c FROM hist h, thr t WHERE h.vb > t.x_k1
),
agg AS (
    SELECT CAST(SUM(c) AS BIGINT) AS k_used,
           CAST(SUM(c * CAST(FLOOR(LN(CAST(vb AS DOUBLE)
                    / CAST((SELECT x_k1 FROM thr) AS DOUBLE))
                    * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS h_fp
    FROM topk
)
SELECT k_used,
       ROUND(CAST((SELECT x_k1 FROM thr) AS DOUBLE) / 100.0, 6)
           AS threshold,
       ROUND(CAST(h_fp AS DOUBLE) / 1000000000.0 / CAST(k_used AS DOUBLE),
             6) AS hill_gamma,
       ROUND(CAST(k_used AS DOUBLE) * 1000000000.0 / CAST(h_fp AS DOUBLE),
             6) AS tail_index
FROM agg
""".strip()


@query("hill_tail_index", oracle=_HILL_SQL)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the value distribution's tail index — the
    heavy-tail diagnostic that decides whether means/variances of the
    metric even EXIST (alpha <= 2: infinite variance; <= 1: infinite
    mean), read next to the Gumbel block-maxima fit (light-tail EVT)
    and the winsorized/trimmed robust family. The order-statistic
    machinery stays DOMAIN-bounded: the (k+1)-th largest value is a
    suffix-count threshold pick on the cent histogram, the top group is
    every value strictly above it (tie convention documented — k_used
    reports the realized count), and each ln(x_i / x_(k+1)) term is
    1e-9 fixed-pointed weighted by its bucket count before the exact
    integer sum. gamma = mean log-excess, tail_index = 1/gamma. One
    data-sized aggregate. Hill 1975."""
    ev = load_table(spark, sf_dir, "events")
    hist = (
        ev.filter(F.col("value") > 0)
        .groupBy(F.floor(F.col("value") * 100).cast("long").alias("vb"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()  # feeds the threshold pick AND the top group
    )
    w_sfx = Window.orderBy(F.col("vb").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sfx = hist.select(
        "vb", F.sum("c").over(w_sfx).cast("long").alias("above_incl")
    )
    thr = sfx.filter(F.col("above_incl") >= _HILL_K + 1).agg(
        F.max("vb").alias("x_k1")
    )
    topk = hist.crossJoin(F.broadcast(thr)).filter(
        F.col("vb") > F.col("x_k1")
    )
    term = F.floor(
        F.log(F.col("vb").cast("double") / F.col("x_k1").cast("double"))
        * F.lit(1e9)
        + F.lit(0.5)
    ).cast("long")
    agg = topk.agg(
        F.sum("c").cast("long").alias("k_used"),
        F.min("x_k1").alias("x_k1"),
        F.sum(F.col("c") * term).cast("long").alias("h_fp"),
    )
    return agg.select(
        "k_used",
        F.round(F.col("x_k1").cast("double") / F.lit(100.0), 6).alias(
            "threshold"
        ),
        F.round(
            F.col("h_fp").cast("double") / F.lit(1e9)
            / F.col("k_used").cast("double"),
            6,
        ).alias("hill_gamma"),
        F.round(
            F.col("k_used").cast("double") * F.lit(1e9)
            / F.col("h_fp").cast("double"),
            6,
        ).alias("tail_index"),
    )


# --- funnel step latency quantiles ---------------------------------------------

_FUNNEL_HOUR_US = 3600000000

_FUNLAT_SQL = f"""
WITH mic AS (
    SELECT user_id, event_type, epoch_us(ts) AS us FROM events
),
v AS (
    SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN us END) AS v0
    FROM mic GROUP BY 1
),
f AS (
    SELECT m.user_id, v.v0,
           MIN(CASE WHEN m.event_type = 'click' AND m.us >= v.v0
               THEN m.us END) AS c0
    FROM mic m JOIN v ON v.user_id = m.user_id AND v.v0 IS NOT NULL
    GROUP BY 1, 2
),
g AS (
    SELECT m.user_id, f.v0, f.c0,
           MIN(CASE WHEN m.event_type = 'purchase' AND m.us >= f.c0
               THEN m.us END) AS p0
    FROM mic m JOIN f ON f.user_id = m.user_id AND f.c0 IS NOT NULL
    GROUP BY 1, 2, 3
),
lat AS (
    SELECT 'view_to_click' AS step, (c0 - v0) // {_FUNNEL_HOUR_US} AS h
    FROM f WHERE c0 IS NOT NULL
    UNION ALL
    SELECT 'click_to_purchase', (p0 - c0) // {_FUNNEL_HOUR_US}
    FROM g WHERE p0 IS NOT NULL
),
hist AS (
    SELECT step, h, CAST(COUNT(*) AS BIGINT) AS c FROM lat GROUP BY 1, 2
),
cum AS (
    SELECT step, h,
           CAST(SUM(c) OVER (PARTITION BY step ORDER BY h
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cc,
           CAST(SUM(c) OVER (PARTITION BY step) AS BIGINT) AS n
    FROM hist
)
SELECT step, MIN(n) AS n_users,
       CAST(MIN(CASE WHEN 2 * cc >= n THEN h END) AS BIGINT) AS p50_h,
       CAST(MIN(CASE WHEN 10 * cc >= 9 * n THEN h END) AS BIGINT) AS p90_h,
       CAST(MIN(CASE WHEN 100 * cc >= 99 * n THEN h END) AS BIGINT) AS p99_h,
       CAST(MAX(h) AS BIGINT) AS max_h
FROM cum GROUP BY step
ORDER BY step
""".strip()


@query("funnel_step_latency_quantiles", oracle=_FUNLAT_SQL)
def funnel_step_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latency SLO table for the view -> click -> purchase funnel — how
    long each step takes for the users who complete it (the companion
    to the step-count funnel, which says how many drop; this says how
    SLOW the survivors are): first view, first click at-or-after it,
    first purchase at-or-after that, per user; step latencies in exact
    integer hours feed per-step DURATION-DOMAIN histograms and p50/p90/
    p99/max are type-1 integer threshold picks (``10*cc >= 9*n`` — the
    order_to_ship discipline, no raw-row sort). Data-sized work: two
    user-keyed conditional aggregates (the second needs the first's
    anchor, an unavoidable second pass over the user partition)."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    mic = ev.select("user_id", "event_type", us.alias("us")).localCheckpoint()
    v = mic.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("us"))).alias("v0")
    ).filter(F.col("v0").isNotNull())
    f = (
        mic.join(v, "user_id")
        .groupBy("user_id", "v0")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "click")
                    & (F.col("us") >= F.col("v0")),
                    F.col("us"),
                )
            ).alias("c0")
        )
        .filter(F.col("c0").isNotNull())
    )
    g = (
        mic.join(f, "user_id")
        .groupBy("user_id", "v0", "c0")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("us") >= F.col("c0")),
                    F.col("us"),
                )
            ).alias("p0")
        )
    )
    lat = f.select(
        F.lit("view_to_click").alias("step"),
        F.expr(f"(c0 - v0) div {_FUNNEL_HOUR_US}").alias("h"),
    ).unionAll(
        g.filter(F.col("p0").isNotNull()).select(
            F.lit("click_to_purchase").alias("step"),
            F.expr(f"(p0 - c0) div {_FUNNEL_HOUR_US}").alias("h"),
        )
    )
    hist = lat.groupBy("step", "h").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    w_cum = (
        Window.partitionBy("step")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("step")
    cum = hist.select(
        "step",
        "h",
        F.sum("c").over(w_cum).cast("long").alias("cc"),
        F.sum("c").over(w_all).cast("long").alias("n"),
    )
    return (
        cum.groupBy("step")
        .agg(
            F.min("n").alias("n_users"),
            F.min(F.when(2 * F.col("cc") >= F.col("n"), F.col("h")))
            .cast("long")
            .alias("p50_h"),
            F.min(F.when(10 * F.col("cc") >= 9 * F.col("n"), F.col("h")))
            .cast("long")
            .alias("p90_h"),
            F.min(F.when(100 * F.col("cc") >= 99 * F.col("n"), F.col("h")))
            .cast("long")
            .alias("p99_h"),
            F.max("h").cast("long").alias("max_h"),
        )
        .orderBy("step")
    )

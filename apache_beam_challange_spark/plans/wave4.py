"""Round-9 wave: evaluation-metric and feature-attachment operators a
training-data pipeline runs downstream of the curation/dedup stages —
exact rank statistics (Mann-Whitney U / ROC AUC, Spearman rho, Kendall
tau-b, lift & gain deciles), corpus lexical health (hapax / type-token
ratio), exact autocorrelation, and the payload-attaching as-of join.

Every query keeps the repo's oracle discipline: integer or fixed-point
arithmetic end-to-end, with at most single IEEE-exact double operations
(one division, one sqrt) at the very end, so the DuckDB twin hashes
identically. Rank statistics come from VALUE-RANGE-BOUNDED histograms
(the ``equi_depth_value_bins`` argument: the cent-bucket domain is fixed
by the value range, never by row count), so no data-sized global window
exists anywhere in this module; the one global ranking
(``lift_gain_deciles_value``) composes the distributed numbering
primitive — its FOURTH consumer.

Reference parity: none of these exist in the reference (a 4-pipeline
Beam take-home, reference repo `main.py`/notebooks); they extend the
SURVEY.md §2.9 training-data surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from apache_beam_challange_spark.plans.registry import query
from apache_beam_challange_spark.sources.catalog import load_table
from apache_beam_challange_spark.sources.driver import collect_bounded, local_frame


# --- as-of join with payload (union-and-carry, zero joins) -------------------

_ASOF_SQL = """
WITH clicks AS (
    SELECT user_id, ts, value, event_id,
           ROW_NUMBER() OVER (
               PARTITION BY user_id, ts ORDER BY event_id DESC
           ) AS rn
    FROM events WHERE event_type = 'click'
),
c AS (SELECT user_id, ts, value FROM clicks WHERE rn = 1),
p AS (
    SELECT user_id, event_id, ts FROM events WHERE event_type = 'purchase'
)
SELECT p.user_id, p.event_id, p.ts,
       c.ts AS asof_ts, c.value AS click_value
FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts
""".strip()


@query("asof_payload_last_click_before_purchase", oracle=_ASOF_SQL)
def asof_payload_last_click_before_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """As-of join WITH payload attachment: every purchase gains the
    timestamp and value of that user's most recent click at-or-before
    the purchase (time-to-convert / last-touch features). The SCALE
    formulation next to the relational baseline
    (``asof_join_last_event_per_order``, which multiplies rows through a
    range-predicate join before re-aggregating): union-and-carry —
    union both sides, ONE hash shuffle on user_id, a per-user running
    ``last(payload, ignorenulls)`` — zero join operators, linear in
    |purchases|+|clicks|, and the matched row's whole payload comes
    along (the baseline can only MAX one column). Equal-(user, ts)
    click ties resolve to the max event_id on both engines (the carry's
    sort order here; the ROW_NUMBER dedup CTE in the oracle — DuckDB's
    ASOF JOIN needs unique right keys for determinism)."""
    from apache_beam_challange_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "value", "event_id"
    )
    out = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload_cols=["value"],
        right_tiebreak="event_id",
        direction="backward",
        allow_exact=True,
    )
    return out.select(
        "user_id", "event_id", "ts", "asof_ts",
        F.col("value").alias("click_value"),
    )


# --- exact Mann-Whitney U / ROC AUC ------------------------------------------

_MW_SQL = """
WITH hist AS (
    SELECT CAST(FLOOR(value * 100) AS BIGINT) AS vb,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
    FROM events
    GROUP BY 1
),
cum AS (
    SELECT vb, n_pos, n_neg,
           CAST(COALESCE(SUM(n_neg) OVER (
               ORDER BY vb ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS cumneg
    FROM hist
)
SELECT CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       CAST(SUM(n_neg) AS BIGINT) AS n_neg,
       CAST(SUM(n_pos * (2 * cumneg + n_neg)) AS BIGINT) AS u2,
       CAST(SUM(n_pos * (2 * cumneg + n_neg)) AS DOUBLE) / 2.0 AS u_stat,
       CAST(SUM(n_pos * (2 * cumneg + n_neg)) AS DOUBLE)
           / (2.0 * CAST(SUM(n_pos) AS DOUBLE) * CAST(SUM(n_neg) AS DOUBLE))
           AS auc
FROM cum
""".strip()


@query("mann_whitney_auc_purchase", oracle=_MW_SQL)
def mann_whitney_auc_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Mann-Whitney U statistic == exact ROC AUC of ``value`` as a
    score for "is a purchase" — THE ranking-model eval metric, computed
    with the tie-correct midrank convention and zero floats until the
    final division: rows collapse to the cent-bucket histogram (bounded
    by the VALUE RANGE, ~49k buckets, never by row count), the
    cumulative-negatives window runs over that bounded histogram, and
    ``u2 = 2U = sum n_pos_b * (2*cumneg_below + n_neg_b)`` stays in
    int64 (bound n_pos*n_neg*2 ~ n^2/2 — fine past sf1000). AUC =
    u2 / (2 * n_pos * n_neg), one IEEE-exact double expression written
    identically in both engines. The only data-sized work is one
    map-side-combined aggregate; the single-partition window argument is
    the ``equi_depth_value_bins`` one (domain-bounded input)."""
    ev = load_table(spark, sf_dir, "events")
    is_pos = (F.col("event_type") == "purchase").cast("long")
    hist = ev.groupBy(
        F.floor(F.col("value") * 100).cast("long").alias("vb")
    ).agg(
        F.sum(is_pos).alias("n_pos"),
        F.sum(F.lit(1) - is_pos).alias("n_neg"),
    )
    w = Window.orderBy("vb").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn(
        "cumneg", F.coalesce(F.sum("n_neg").over(w), F.lit(0)).cast("long")
    )
    agg = cum.agg(
        F.sum("n_pos").cast("long").alias("n_pos"),
        F.sum("n_neg").cast("long").alias("n_neg"),
        F.sum(
            F.col("n_pos") * (F.lit(2) * F.col("cumneg") + F.col("n_neg"))
        ).cast("long").alias("u2"),
    )
    return agg.select(
        "n_pos",
        "n_neg",
        "u2",
        (F.col("u2").cast("double") / F.lit(2.0)).alias("u_stat"),
        (
            F.col("u2").cast("double")
            / (
                F.lit(2.0)
                * F.col("n_pos").cast("double")
                * F.col("n_neg").cast("double")
            )
        ).alias("auc"),
    )


# --- exact Spearman rank correlation (tie-corrected midranks) -----------------

_SPEARMAN_SQL = """
WITH base AS (
    SELECT event_type AS t,
           CAST(FLOOR(value * 100) AS BIGINT) AS vb,
           CAST(hour(ts) AS BIGINT) AS hb
    FROM events
),
joint AS (SELECT t, vb, hb, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1, 2, 3),
vh AS (SELECT t, vb, CAST(SUM(c) AS BIGINT) AS n FROM joint GROUP BY 1, 2),
vr AS (
    SELECT t, vb,
           2 * CAST(COALESCE(SUM(n) OVER (
               PARTITION BY t ORDER BY vb
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) + n + 1 AS rx2
    FROM vh
),
hh AS (SELECT t, hb, CAST(SUM(c) AS BIGINT) AS n FROM joint GROUP BY 1, 2),
hr AS (
    SELECT t, hb,
           2 * CAST(COALESCE(SUM(n) OVER (
               PARTITION BY t ORDER BY hb
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) + n + 1 AS ry2
    FROM hh
),
s AS (
    SELECT j.t,
           CAST(SUM(c) AS DOUBLE) AS n,
           CAST(SUM(c * rx2) AS DOUBLE) AS sx,
           CAST(SUM(c * ry2) AS DOUBLE) AS sy,
           CAST(SUM(c * rx2 * rx2) AS DOUBLE) AS sxx,
           CAST(SUM(c * ry2 * ry2) AS DOUBLE) AS syy,
           CAST(SUM(c * rx2 * ry2) AS DOUBLE) AS sxy
    FROM joint j
    JOIN vr ON j.t = vr.t AND j.vb = vr.vb
    JOIN hr ON j.t = hr.t AND j.hb = hr.hb
    GROUP BY j.t
)
SELECT t AS event_type, CAST(n AS BIGINT) AS n,
       (n * sxy - sx * sy)
           / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy)) AS rho
FROM s
ORDER BY event_type
""".strip()


@query("spearman_value_hour_by_type", oracle=_SPEARMAN_SQL)
def spearman_value_hour_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Spearman rank correlation (value vs hour-of-day, per event
    type) with the tie-correct midrank convention — drift/monotonicity
    detection on a feature pair without assuming linearity. Midranks
    come from per-type histograms, never per-row windows: doubled
    midranks ``2r = 2*cum_below + n_b + 1`` are INTEGERS (no .5 seam);
    the doubled-rank moment sums are exact integers in both engines
    (DECIMAL(38,0) on the Spark side, HUGEINT naturally in DuckDB), and
    rho is one identical double expression over their casts (sums
    < 2^53 at test scales convert exactly; above that both engines
    round-to-nearest the same decimal integer). Histograms are bounded
    by DOMAIN (cents range x 24 hours), so they broadcast back to the
    bucket-collapsed joint frame — no data-sized join or window; the
    data-sized work is the one map-side-combined (type, vb, hb)
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").alias("t"),
        F.floor(F.col("value") * 100).cast("long").alias("vb"),
        F.hour("ts").cast("long").alias("hb"),
    )
    joint = base.groupBy("t", "vb", "hb").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    def midranks(frame: DataFrame, key: str, out: str) -> DataFrame:
        h = frame.groupBy("t", key).agg(F.sum("c").cast("long").alias("n"))
        w = (
            Window.partitionBy("t")
            .orderBy(key)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return h.select(
            "t",
            key,
            (
                F.lit(2) * F.coalesce(F.sum("n").over(w), F.lit(0)).cast("long")
                + F.col("n")
                + F.lit(1)
            ).alias(out),
        )

    vr = midranks(joint, "vb", "rx2")
    hr = midranks(joint, "hb", "ry2")
    dec = "decimal(38,0)"
    s = (
        joint.join(F.broadcast(vr), ["t", "vb"])
        .join(F.broadcast(hr), ["t", "hb"])
        .groupBy("t")
        .agg(
            F.sum("c").cast("double").alias("n"),
            F.sum((F.col("c") * F.col("rx2")).cast(dec)).cast("double").alias("sx"),
            F.sum((F.col("c") * F.col("ry2")).cast(dec)).cast("double").alias("sy"),
            F.sum((F.col("c") * F.col("rx2") * F.col("rx2")).cast(dec))
            .cast("double")
            .alias("sxx"),
            F.sum((F.col("c") * F.col("ry2") * F.col("ry2")).cast(dec))
            .cast("double")
            .alias("syy"),
            F.sum((F.col("c") * F.col("rx2") * F.col("ry2")).cast(dec))
            .cast("double")
            .alias("sxy"),
        )
    )
    return s.select(
        F.col("t").alias("event_type"),
        F.col("n").cast("long").alias("n"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
            / (
                F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                * F.sqrt(F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
            )
        ).alias("rho"),
    ).orderBy("event_type")


# --- lift & gain deciles (4th composed consumer of the numbering primitive) ---

_LIFT_SQL = """
WITH ranked AS (
    SELECT event_id,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos,
           ROW_NUMBER() OVER (ORDER BY value DESC, event_id) AS rn,
           COUNT(*) OVER () AS n_total
    FROM events
),
dec AS (
    SELECT ((rn - 1) * 10) // n_total AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(pos) AS BIGINT) AS n_pos
    FROM ranked
    GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(n_rows) AS BIGINT) AS tot_rows,
           CAST(SUM(n_pos) AS BIGINT) AS tot_pos
    FROM dec
)
SELECT CAST(decile AS BIGINT) AS decile, n_rows, n_pos,
       CAST(SUM(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_pos,
       CAST(CAST(SUM(n_pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE)
           / CAST(tot_pos AS DOUBLE) AS gain,
       CAST(n_pos * tot_rows AS DOUBLE) / CAST(n_rows * tot_pos AS DOUBLE) AS lift
FROM dec, tot
ORDER BY decile
""".strip()


@query("lift_gain_deciles_value", oracle=_LIFT_SQL)
def lift_gain_deciles_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lift & cumulative-gain table: rank all events by ``value``
    descending, cut into 10 equal-population deciles, report per-decile
    positive (purchase) counts, cumulative gain and lift — the campaign-
    targeting eval every propensity pipeline produces. The oracle's
    ``ROW_NUMBER() OVER (ORDER BY ...)`` is a one-partition funnel at
    scale, so the engine ranks with the distributed numbering primitive
    (``assign_global_row_ids`` — its FOURTH composed consumer, after
    quantile normalization, Gini, and RFM), descending expressed as the
    exact negation of the positive-valued score. Decile math is pure
    integers (``(rank-1)*10 div n`` — floor==truncate on non-negatives,
    the repo's standing div rule); gain/lift are single divisions of
    exact integer products. The 10-row decile frame does the rest."""
    from apache_beam_challange_spark.plans.coverage import (
        assign_global_row_ids,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        (F.col("event_type") == "purchase").cast("long").alias("pos"),
        F.col("value"),
    )
    gids = assign_global_row_ids(
        ev.select("event_id", (-F.col("value")).alias("nv")),
        ["nv", "event_id"],
        "event_id",
    )
    n_total = ev.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    ranked = (
        gids.join(ev.select("event_id", "pos"), "event_id")
        .crossJoin(F.broadcast(n_total))
    )
    dec = ranked.groupBy(
        F.expr("(global_id - 1) * 10 DIV n_total").cast("long").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum("pos").cast("long").alias("n_pos"),
    )
    tot = dec.agg(
        F.sum("n_rows").cast("long").alias("tot_rows"),
        F.sum("n_pos").cast("long").alias("tot_pos"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        dec.withColumn("cum_pos", F.sum("n_pos").over(wc).cast("long"))
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_rows",
            "n_pos",
            "cum_pos",
            (F.col("cum_pos").cast("double") / F.col("tot_pos").cast("double"))
            .alias("gain"),
            (
                (F.col("n_pos") * F.col("tot_rows")).cast("double")
                / (F.col("n_rows") * F.col("tot_pos")).cast("double")
            ).alias("lift"),
        )
        .orderBy("decile")
    )


# --- corpus lexical health: hapax legomena / type-token ratio ------------------

_HAPAX_SQL = """
WITH tok AS (
    SELECT source, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
    SELECT source, token, CAST(COUNT(*) AS BIGINT) AS c
    FROM tok WHERE token <> '' GROUP BY 1, 2
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS type_token_ratio,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
           / CAST(COUNT(*) AS DOUBLE) AS hapax_ratio
FROM tf
GROUP BY source
ORDER BY source
""".strip()


@query("token_hapax_stats_by_source", oracle=_HAPAX_SQL)
def token_hapax_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus lexical-health panel per source: token count, vocabulary
    size (types), hapax legomena (frequency-1 types — the classic
    boilerplate/diversity signal: synthetic or templated corpora have
    collapsed hapax ratios), type-token ratio. Two map-side-combined
    aggregates (token-frequency then per-source roll-up); pure integer
    counts with two final divisions. Complements the BPE/vocab-coverage
    family (tokenizer.py) with the pre-tokenizer diagnostic every
    data-mix report carries."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("token")
    ).filter(F.col("token") != "")
    tf = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return (
        tf.groupBy("source")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_types"),
            F.sum((F.col("c") == 1).cast("long")).cast("long").alias("n_hapax"),
        )
        .select(
            "source",
            "n_tokens",
            "n_types",
            "n_hapax",
            (F.col("n_types").cast("double") / F.col("n_tokens").cast("double"))
            .alias("type_token_ratio"),
            (F.col("n_hapax").cast("double") / F.col("n_types").cast("double"))
            .alias("hapax_ratio"),
        )
        .orderBy("source")
    )


# --- exact autocorrelation of the daily revenue series -------------------------

_ACF_SQL = """
WITH daily AS (
    SELECT date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS di,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS x
    FROM events
    GROUP BY 1
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS s
    FROM daily
),
dev AS (
    SELECT di, CAST(n * x - s AS BIGINT) AS d FROM daily, tot
),
den AS (
    SELECT SUM(CAST(d AS HUGEINT) * d) AS den FROM dev
),
lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
num AS (
    SELECT l.lag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           SUM(CAST(a.d AS HUGEINT) * b.d) AS num
    FROM lags l
    JOIN dev a ON TRUE
    JOIN dev b ON b.di = a.di + l.lag
    GROUP BY l.lag
)
SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS acf
FROM num, den
ORDER BY lag
""".strip()


@query("acf_daily_revenue", oracle=_ACF_SQL)
def acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact sample autocorrelation (lags 1-7) of the daily revenue
    series — the seasonality diagnostic next to the EWMA/Markov
    backtests. The float seam of the textbook formula (a float mean
    inside every term) is removed by scaling with n: with S = sum(x),
    ``acf_k = sum (n*x_t - S)(n*x_{t+k} - S) / sum (n*x_t - S)^2`` is
    EXACT in integers (deviations in int64; their products summed as
    DECIMAL(38,0) on Spark / HUGEINT in DuckDB), then ONE double
    division. Data-sized work: a single day-bucketed map-side aggregate;
    everything after runs on the ~30-row daily frame (lag self-join and
    windows are calendar-bounded, corpus-independent)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(
            F.date_trunc("day", F.col("ts")), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("di")
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("x")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    dev = daily.crossJoin(F.broadcast(tot)).select(
        "di", (F.col("n") * F.col("x") - F.col("s")).cast("long").alias("d")
    )
    dec = "decimal(38,0)"
    den = dev.agg(
        F.sum((F.col("d").cast(dec) * F.col("d"))).alias("den")
    )
    lags = spark.range(1, 8).select(F.col("id").cast("long").alias("lag"))
    a = dev.select(F.col("di").alias("adi"), F.col("d").alias("ad"))
    b = dev.select(F.col("di").alias("bdi"), F.col("d").alias("bd"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("bdi") == F.col("adi") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("ad").cast(dec) * F.col("bd")).alias("num"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            "lag",
            "n_pairs",
            (F.col("num").cast("double") / F.col("den").cast("double"))
            .alias("acf"),
        )
        .orderBy("lag")
    )

# --- exact Kendall tau-b (concordance over the domain-bounded 2-D grid) -------

_KENDALL_SQL = """
WITH base AS (
    SELECT event_type AS t,
           CAST(FLOOR(value * 100) AS BIGINT) AS vb,
           CAST(hour(ts) AS BIGINT) AS hb
    FROM events
),
joint AS (SELECT t, vb, hb, CAST(COUNT(*) AS BIGINT) AS c FROM base GROUP BY 1, 2, 3),
vd AS (SELECT DISTINCT t, vb FROM joint),
hd AS (SELECT DISTINCT t, hb FROM joint),
grid AS (
    SELECT vd.t, vd.vb, hd.hb, COALESCE(j.c, 0) AS c0
    FROM vd JOIN hd ON vd.t = hd.t
    LEFT JOIN joint j ON j.t = vd.t AND j.vb = vd.vb AND j.hb = hd.hb
),
f AS (
    SELECT t, vb, hb, c0,
           CAST(COALESCE(SUM(c0) OVER (
               PARTITION BY t, hb ORDER BY vb
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS below
    FROM grid
),
nn AS (
    SELECT t, c0,
           CAST(COALESCE(SUM(below) OVER (
               PARTITION BY t, vb ORDER BY hb
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS BIGINT) AS n_lt_lt,
           CAST(COALESCE(SUM(below) OVER (
               PARTITION BY t, vb ORDER BY hb
               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING
           ), 0) AS BIGINT) AS n_lt_gt
    FROM f
),
cd AS (
    SELECT t,
           CAST(SUM(c0 * n_lt_lt) AS BIGINT) AS conc,
           CAST(SUM(c0 * n_lt_gt) AS BIGINT) AS disc
    FROM nn WHERE c0 > 0 GROUP BY t
),
vt AS (SELECT t, CAST(SUM(n * (n - 1)) AS BIGINT) AS n1x2
       FROM (SELECT t, vb, CAST(SUM(c) AS BIGINT) AS n FROM joint GROUP BY 1, 2)
       GROUP BY t),
ht AS (SELECT t, CAST(SUM(n * (n - 1)) AS BIGINT) AS n2x2
       FROM (SELECT t, hb, CAST(SUM(c) AS BIGINT) AS n FROM joint GROUP BY 1, 2)
       GROUP BY t),
tot AS (SELECT t, CAST(SUM(c) AS BIGINT) AS n FROM joint GROUP BY t)
SELECT cd.t AS event_type, tot.n, cd.conc, cd.disc,
       (CAST(cd.conc AS DOUBLE) - CAST(cd.disc AS DOUBLE))
           / (SQRT((CAST(tot.n * (tot.n - 1) AS DOUBLE) - CAST(vt.n1x2 AS DOUBLE)) / 2.0)
              * SQRT((CAST(tot.n * (tot.n - 1) AS DOUBLE) - CAST(ht.n2x2 AS DOUBLE)) / 2.0))
           AS tau_b
FROM cd
JOIN vt ON cd.t = vt.t
JOIN ht ON cd.t = ht.t
JOIN tot ON cd.t = tot.t
ORDER BY event_type
""".strip()


@query("kendall_tau_value_hour_by_type", oracle=_KENDALL_SQL)
def kendall_tau_value_hour_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Kendall tau-b (value vs hour-of-day, per event type) — the
    concordance-based rank correlation next to Spearman, exact including
    its tie corrections and with NO pairwise enumeration anywhere: the
    O(n^2) pair space collapses onto the DOMAIN-bounded 2-D grid
    (distinct cent buckets x distinct hours). Concordant pairs are
    counted from the grid's 2-D prefix sums — ``below(v,h)`` (rows with
    v'<v at hour h) via a per-hour window over buckets, then
    ``N_lt_lt``/``N_lt_gt`` via per-bucket windows over hours — so
    ``C = sum c * N_lt_lt`` and ``D = sum c * N_lt_gt`` are exact int64
    (each pair counted once from its greater cell; C,D <= n(n-1)/2,
    int64-safe to ~4e9 rows per type). tau_b's denominator uses the
    doubled tie terms n(n-1), sum t(t-1) so every input to the final
    double expression is an exact integer; the expression (two casts,
    one subtraction, two sqrt, one division) is written identically in
    both engines. Data-sized work: ONE map-side-combined (type, vb, hb)
    aggregate — everything else runs on the bounded grid."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("event_type").alias("t"),
        F.floor(F.col("value") * 100).cast("long").alias("vb"),
        F.hour("ts").cast("long").alias("hb"),
    )
    # six downstream branches (grid, prefix frames, both tie terms, the
    # total) all read the bucket-collapsed joint — materialize it ONCE so
    # the events scan runs once (the plan test pins the single-scan
    # property; without this Catalyst recompiles the scan per branch)
    joint = base.groupBy("t", "vb", "hb").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    ).localCheckpoint()
    vd = joint.select("t", "vb").distinct()
    hd = joint.select("t", "hb").distinct()
    grid = vd.join(F.broadcast(hd), "t").join(joint, ["t", "vb", "hb"], "left")
    g = grid.withColumn("c0", F.coalesce(F.col("c"), F.lit(0)).cast("long"))
    w_below = (
        Window.partitionBy("t", "hb")
        .orderBy("vb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    f = g.withColumn(
        "below", F.coalesce(F.sum("c0").over(w_below), F.lit(0)).cast("long")
    )
    w_lt = (
        Window.partitionBy("t", "vb")
        .orderBy("hb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_gt = (
        Window.partitionBy("t", "vb")
        .orderBy("hb")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nn = f.select(
        "t",
        "c0",
        F.coalesce(F.sum("below").over(w_lt), F.lit(0)).cast("long").alias("n_lt_lt"),
        F.coalesce(F.sum("below").over(w_gt), F.lit(0)).cast("long").alias("n_lt_gt"),
    )
    cd = (
        nn.filter(F.col("c0") > 0)
        .groupBy("t")
        .agg(
            F.sum(F.col("c0") * F.col("n_lt_lt")).cast("long").alias("conc"),
            F.sum(F.col("c0") * F.col("n_lt_gt")).cast("long").alias("disc"),
        )
    )
    vt = (
        joint.groupBy("t", "vb").agg(F.sum("c").cast("long").alias("n"))
        .groupBy("t")
        .agg(F.sum(F.col("n") * (F.col("n") - 1)).cast("long").alias("n1x2"))
    )
    ht = (
        joint.groupBy("t", "hb").agg(F.sum("c").cast("long").alias("n"))
        .groupBy("t")
        .agg(F.sum(F.col("n") * (F.col("n") - 1)).cast("long").alias("n2x2"))
    )
    tot = joint.groupBy("t").agg(F.sum("c").cast("long").alias("n"))
    out = (
        cd.join(vt, "t").join(ht, "t").join(tot, "t")
        .select(
            F.col("t").alias("event_type"),
            "n",
            "conc",
            "disc",
            (
                (F.col("conc").cast("double") - F.col("disc").cast("double"))
                / (
                    F.sqrt(
                        (
                            (F.col("n") * (F.col("n") - 1)).cast("double")
                            - F.col("n1x2").cast("double")
                        )
                        / F.lit(2.0)
                    )
                    * F.sqrt(
                        (
                            (F.col("n") * (F.col("n") - 1)).cast("double")
                            - F.col("n2x2").cast("double")
                        )
                        / F.lit(2.0)
                    )
                )
            ).alias("tau_b"),
        )
        .orderBy("event_type")
    )
    return out


_ASOF_FWD_SQL = """
WITH purch AS (
    SELECT user_id, ts, value, event_id,
           ROW_NUMBER() OVER (
               PARTITION BY user_id, ts ORDER BY event_id DESC
           ) AS rn
    FROM events WHERE event_type = 'purchase'
),
p AS (SELECT user_id, ts, value FROM purch WHERE rn = 1),
c AS (
    SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
)
SELECT c.user_id, c.event_id, c.ts,
       p.ts AS asof_ts, p.value AS purchase_value
FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.ts <= p.ts
""".strip()


@query("asof_forward_next_purchase_after_click", oracle=_ASOF_FWD_SQL)
def asof_forward_next_purchase_after_click(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FORWARD direction of the as-of operator under its own oracle
    verdict (DuckDB ``ASOF LEFT JOIN`` with ``<=``): every click gains
    the timestamp and value of that user's NEXT purchase at-or-after it
    — the label-attachment step of conversion modelling (click ->
    did-it-convert + order value), where the no-future-leak rule runs
    the other way: the label may only look FORWARD. Same union-and-carry
    plan as the backward twin (one user shuffle, zero joins), with the
    running frame ordered descending."""
    from apache_beam_challange_spark.operators.asof import asof_join

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value", "event_id"
    )
    out = asof_join(
        clicks,
        purchases,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        payload_cols=["value"],
        right_tiebreak="event_id",
        direction="forward",
        allow_exact=True,
    )
    return out.select(
        "user_id", "event_id", "ts", "asof_ts",
        F.col("value").alias("purchase_value"),
    )


# --- Bradley-Terry pairwise preference aggregation (fixed-point MM) -----------

_BT_SLATE = 16
_BT_SV = 1_000_000          # score fixed-point scale
_BT_ST = 1_000_000          # MM-term fixed-point scale
_BT_ITERS = 4


def _bt_oracle_sql(n_iter: int = _BT_ITERS) -> str:
    """Unrolled MATERIALIZED CTE chain replaying the fixed-point MM
    trajectory bit-identically (the kmeans/PCA oracle discipline)."""
    sv, st, k = _BT_SV, _BT_ST, _BT_SLATE
    head = f"""
slate AS MATERIALIZED (
    SELECT pk FROM (
        SELECT l_partkey AS pk,
               ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, l_partkey) AS rk
        FROM lineitem GROUP BY l_partkey
    ) WHERE rk <= {k}
),
bq AS MATERIALIZED (
    SELECT l_orderkey AS ok, l_partkey AS pk,
           CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS q
    FROM lineitem JOIN slate ON l_partkey = slate.pk
    GROUP BY 1, 2
),
wins AS MATERIALIZED (
    SELECT a.pk AS pa, b.pk AS pb, CAST(COUNT(*) AS BIGINT) AS w
    FROM bq a JOIN bq b ON a.ok = b.ok AND a.pk <> b.pk AND a.q > b.q
    GROUP BY 1, 2
),
prs AS MATERIALIZED (
    SELECT sa.pk AS pa, sb.pk AS pb,
           2 * COALESCE(wab.w, 0) + 1 AS w2,
           2 * (COALESCE(wab.w, 0) + COALESCE(wba.w, 0)) + 2 AS n2
    FROM slate sa JOIN slate sb ON sa.pk <> sb.pk
    LEFT JOIN wins wab ON wab.pa = sa.pk AND wab.pb = sb.pk
    LEFT JOIN wins wba ON wba.pa = sb.pk AND wba.pb = sa.pk
),
wtot AS MATERIALIZED (
    SELECT pa, CAST(SUM(w2) AS BIGINT) AS w2tot,
           CAST(COUNT(*) AS BIGINT) AS n_opp
    FROM prs GROUP BY pa
),
s0 AS MATERIALIZED (SELECT pk, CAST({sv} AS BIGINT) AS s FROM slate)
""".strip()
    steps = []
    prev = "s0"
    for i in range(1, n_iter + 1):
        steps.append(f"""
d{i} AS MATERIALIZED (
    SELECT p.pa, CAST(SUM((p.n2 * {sv} * {st}) // (sa.s + sb.s)) AS BIGINT) AS d
    FROM prs p
    JOIN {prev} sa ON sa.pk = p.pa
    JOIN {prev} sb ON sb.pk = p.pb
    GROUP BY p.pa
),
u{i} AS MATERIALIZED (
    SELECT d{i}.pa AS pk,
           CAST((w.w2tot * {st} * {sv}) // d{i}.d AS BIGINT) AS sp
    FROM d{i} JOIN wtot w ON w.pa = d{i}.pa
),
s{i} AS MATERIALIZED (
    SELECT pk,
           CAST(FLOOR(CAST(sp AS DOUBLE) * CAST(nsl * {sv} AS DOUBLE)
                      / CAST(stot AS DOUBLE)) AS BIGINT) AS s
    FROM u{i}, (SELECT CAST(SUM(sp) AS BIGINT) AS stot,
                       CAST(COUNT(*) AS BIGINT) AS nsl FROM u{i})
)""".strip())
        prev = f"s{i}"
    tail = f"""
SELECT s.pk AS p_partkey,
       CAST((w.w2tot - w.n_opp) / 2 AS BIGINT) AS wins,
       CAST(s.s AS DOUBLE) / {float(sv)} AS bt_score
FROM {prev} s JOIN wtot w ON w.pa = s.pk
ORDER BY bt_score DESC, p_partkey
""".strip()
    return "WITH " + head + ",\n" + ",\n".join(steps) + "\n" + tail


@query("bradley_terry_part_prefs", oracle=_bt_oracle_sql())
def bradley_terry_part_prefs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bradley-Terry preference aggregation — the pairwise-comparison
    model RLHF reward aggregation and ranking-eval leaderboards rest on —
    fit with 4 minorization-maximization rounds in EXACT fixed point.

    Comparisons come from co-purchase baskets over a bounded top-16 part
    slate (within an order, the part with the larger total quantity
    "wins"); add-half smoothing (integers kept exact by doubling:
    w2 = 2w+1) makes the comparison graph complete so the MM update is
    everywhere defined. Each round is pure int64 — the MM term is
    ``(n2 * SV * ST) div (s_a + s_b)`` (floor==truncate on positives,
    the standing div rule; numerator bound ~3e18 at sf1, documented like
    the PCA Gram bound) — except the per-round mean normalization, a
    single int64->double multiply/divide/floor written identically in
    both engines (IEEE-identical, the PCA discipline). The DuckDB twin
    replays the whole trajectory through unrolled MATERIALIZED CTEs.

    Scale shape: the one data-sized pass is the slate-filtered basket
    aggregate (pushdown via broadcast semi-join on the 16-part slate);
    the quadratic stage is SLATE-bounded (16x15 ordered pairs), and the
    4 MM rounds run in the driver over the 240 collected pair rows."""
    li = load_table(spark, sf_dir, "lineitem")
    sv, st, k = _BT_SV, _BT_ST, _BT_SLATE
    slate = (
        li.groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.col("cnt").desc(), "l_partkey")
        .limit(k)
        .select(F.col("l_partkey").alias("pk"))
    )
    bq = (
        li.join(F.broadcast(slate), li.l_partkey == slate.pk)
        .groupBy(F.col("l_orderkey").alias("ok"), "pk")
        .agg(
            F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long"))
            .cast("long")
            .alias("q")
        )
    )
    a = bq.select(F.col("ok").alias("oka"), F.col("pk").alias("pa"), F.col("q").alias("qa"))
    b = bq.select(F.col("ok").alias("okb"), F.col("pk").alias("pb"), F.col("q").alias("qb"))
    wins = (
        a.join(b, (F.col("oka") == F.col("okb")) & (F.col("pa") != F.col("pb"))
               & (F.col("qa") > F.col("qb")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("w"))
    )
    sa = slate.select(F.col("pk").alias("pa"))
    sb = slate.select(F.col("pk").alias("pb"))
    wab = wins.select("pa", "pb", F.col("w").alias("w_ab"))
    wba = wins.select(
        F.col("pb").alias("pa"), F.col("pa").alias("pb"), F.col("w").alias("w_ba")
    )
    prs = (
        sa.crossJoin(sb)
        .filter(F.col("pa") != F.col("pb"))
        .join(wab, ["pa", "pb"], "left")
        .join(wba, ["pa", "pb"], "left")
        .select(
            "pa",
            "pb",
            (F.lit(2) * F.coalesce(F.col("w_ab"), F.lit(0)) + 1)
            .cast("long")
            .alias("w2"),
            (
                F.lit(2)
                * (
                    F.coalesce(F.col("w_ab"), F.lit(0))
                    + F.coalesce(F.col("w_ba"), F.lit(0))
                )
                + 2
            )
            .cast("long")
            .alias("n2"),
        )
    )
    # The wave6 driver-solve discipline: the MM rounds walk a
    # PARAMETER-BOUNDED frame — prs is slate^2 = 240 rows regardless of
    # corpus size — so the trajectory and the per-part win totals run in
    # the driver after ONE collect of the pair stats: exact Python-int MM
    # terms (all operands positive, so // == Spark's div), and the one
    # float normalization replays the identical IEEE chain (long->double
    # casts, multiply, divide, floor — same left association). Only the
    # data-sized slate/basket aggregates run in Spark.
    pr_rows = collect_bounded(prs, k * (k - 1))
    w2tot_d: dict[int, int] = {}
    n_opp_d: dict[int, int] = {}
    for pa, _pb, w2, n2 in pr_rows:
        w2tot_d[pa] = w2tot_d.get(pa, 0) + w2
        n_opp_d[pa] = n_opp_d.get(pa, 0) + 1
    import math as _math

    s_d: dict[int, int] = {pa: sv for pa in w2tot_d}
    for _ in range(_BT_ITERS):
        d_d: dict[int, int] = {}
        for pa, pb, _w2, n2 in pr_rows:
            d_d[pa] = d_d.get(pa, 0) + (n2 * sv * st) // (s_d[pa] + s_d[pb])
        sp_d = {pa: (w2tot_d[pa] * st * sv) // d for pa, d in d_d.items()}
        stot = sum(sp_d.values())
        nsl = len(sp_d)
        s_d = {
            pa: int(
                _math.floor(float(sp) * float(nsl * sv) / float(stot))
            )
            for pa, sp in sp_d.items()
        }
    # w2tot = 2*wins + n_opp, so the difference is always even
    scores = local_frame(
        spark,
        [(pa, (w2tot_d[pa] - n_opp_d[pa]) // 2, s) for pa, s in sorted(s_d.items())],
        "p_partkey long, wins long, s long",
    )
    return scores.select(
        "p_partkey",
        "wins",
        (F.col("s").cast("double") / F.lit(float(sv))).alias("bt_score"),
    ).orderBy(F.col("bt_score").desc(), "p_partkey")


# --- Holt linear-trend forecast backtest ---------------------------------------

_HOLT_A = "0.3"   # level smoothing — pinned literal text both engines parse
_HOLT_1A = "0.7"
_HOLT_B = "0.2"   # trend smoothing
_HOLT_1B = "0.8"

_HOLT_SQL = f"""
WITH RECURSIVE daily AS (
    SELECT event_type, CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS yc
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
),
numbered AS (
    SELECT event_type, d, yc,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY d
           ) AS BIGINT) AS rn
    FROM daily
),
walk AS (
    SELECT event_type, rn, CAST(yc AS DOUBLE) AS level,
           CAST(0 AS DOUBLE) AS trend, CAST(0 AS DOUBLE) AS abs_err_sum
    FROM numbered WHERE rn = 1
    UNION ALL
    SELECT n.event_type, n.rn,
           {_HOLT_A} * CAST(n.yc AS DOUBLE) + {_HOLT_1A} * (w.level + w.trend),
           {_HOLT_B} * (({_HOLT_A} * CAST(n.yc AS DOUBLE)
                         + {_HOLT_1A} * (w.level + w.trend)) - w.level)
               + {_HOLT_1B} * w.trend,
           w.abs_err_sum + ABS(CAST(n.yc AS DOUBLE) - (w.level + w.trend))
    FROM walk w JOIN numbered n
      ON n.event_type = w.event_type AND n.rn = w.rn + 1
)
SELECT event_type,
       CAST(MAX(rn) AS BIGINT) AS n_days,
       MAX(CASE WHEN rn_is_last THEN level END) AS final_level,
       MAX(CASE WHEN rn_is_last THEN trend END) AS final_trend,
       MAX(CASE WHEN rn_is_last THEN abs_err_sum END)
       / CAST(MAX(rn) - 1 AS DOUBLE) AS mae
FROM (
    SELECT event_type, rn, level, trend, abs_err_sum,
           rn = MAX(rn) OVER (PARTITION BY event_type) AS rn_is_last
    FROM walk
)
GROUP BY event_type
ORDER BY event_type
""".strip()


@query("holt_forecast_backtest", oracle=_HOLT_SQL)
def holt_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing (alpha=0.3, beta=0.2)
    over the daily revenue series per event type, backtested
    one-step-ahead (forecast_t = level_{t-1} + trend_{t-1}, MAE) —
    completes the forecasting family next to the level-only EWMA and the
    Markov backtest. The TWO-state recurrence (level and trend update
    each step, the trend reading the step's own new level) runs as the
    IDENTICAL IEEE sequence in both engines: the engine's struct
    accumulator reuses the level expression subtree exactly where the
    oracle's RECURSIVE walk repeats the same text; init l_1 = y_1,
    b_1 = 0, errors accumulate from t=2. Only data-sized work: the one
    map-side-combined daily aggregate (types x days rows after)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("yc")
    )
    packed = daily.groupBy("event_type").agg(
        F.sort_array(F.collect_list(F.struct("d", "yc"))).alias("arr")
    )
    a = float(_HOLT_A)
    ia = float(_HOLT_1A)
    b = float(_HOLT_B)
    ib = float(_HOLT_1B)
    acc0 = F.struct(
        F.lit(0.0).alias("level"),
        F.lit(0.0).alias("trend"),
        F.lit(0.0).alias("abs_err_sum"),
        F.lit(0).cast("long").alias("n"),
    )

    def step(acc, x):
        y = x["yc"].cast("double")
        lp = F.lit(a) * y + F.lit(ia) * (acc["level"] + acc["trend"])
        return F.when(
            acc["n"] == 0,
            F.struct(
                y.alias("level"),
                F.lit(0.0).alias("trend"),
                F.lit(0.0).alias("abs_err_sum"),
                F.lit(1).cast("long").alias("n"),
            ),
        ).otherwise(
            F.struct(
                lp.alias("level"),
                (F.lit(b) * (lp - acc["level"]) + F.lit(ib) * acc["trend"])
                .alias("trend"),
                (
                    acc["abs_err_sum"]
                    + F.abs(y - (acc["level"] + acc["trend"]))
                ).alias("abs_err_sum"),
                (acc["n"] + 1).alias("n"),
            )
        )

    fin = F.aggregate("arr", acc0, step)
    return packed.select(
        "event_type",
        fin["n"].alias("n_days"),
        fin["level"].alias("final_level"),
        fin["trend"].alias("final_trend"),
        (fin["abs_err_sum"] / (fin["n"] - 1).cast("double")).alias("mae"),
    ).orderBy("event_type")


# --- Mann-Kendall trend test + Sen's slope (robust trend on the daily series) --

_MK_SQL = """
WITH daily AS (
    SELECT event_type AS t,
           date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS d,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
    FROM events
    GROUP BY 1, 2
),
pairs AS (
    SELECT a.t,
           CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn,
           CAST(b.y - a.y AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope,
           a.d AS di, b.d AS dj
    FROM daily a JOIN daily b ON a.t = b.t AND b.d > a.d
),
s AS (
    SELECT t, CAST(SUM(sgn) AS BIGINT) AS s_stat,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pairs GROUP BY t
),
nn AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM daily GROUP BY t),
ties AS (
    SELECT t, CAST(COALESCE(SUM(tc * (tc - 1) * (2 * tc + 5)), 0) AS BIGINT) AS tie18
    FROM (SELECT t, y, CAST(COUNT(*) AS BIGINT) AS tc FROM daily GROUP BY t, y)
    GROUP BY t
),
sen AS (
    SELECT t, slope AS sen_slope FROM (
        SELECT t, slope,
               ROW_NUMBER() OVER (
                   PARTITION BY t ORDER BY slope, di, dj
               ) AS rk,
               COUNT(*) OVER (PARTITION BY t) AS np
        FROM pairs
    ) WHERE rk = (np + 1) // 2
)
SELECT s.t AS event_type, nn.n, s.s_stat,
       CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie18 AS BIGINT) AS var18,
       CASE WHEN s.s_stat > 0 THEN
                CAST(s.s_stat - 1 AS DOUBLE)
                / SQRT(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie18 AS DOUBLE) / 18.0)
            WHEN s.s_stat < 0 THEN
                CAST(s.s_stat + 1 AS DOUBLE)
                / SQRT(CAST(nn.n * (nn.n - 1) * (2 * nn.n + 5) - ties.tie18 AS DOUBLE) / 18.0)
            ELSE 0.0 END AS z_score,
       sen.sen_slope
FROM s
JOIN nn ON s.t = nn.t
JOIN ties ON s.t = ties.t
JOIN sen ON s.t = sen.t
ORDER BY event_type
""".strip()


@query("mann_kendall_sen_trend_daily", oracle=_MK_SQL)
def mann_kendall_sen_trend_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test + Sen's slope estimator on the daily
    revenue series per event type — the nonparametric robust-trend pair
    the monitoring literature couples (no normality assumption, outlier-
    insensitive), completing the time-series family next to ACF, EWMA,
    Holt and the Chow break test. Exactness: S (sum of pair signs) and
    the tie-corrected 18*Var(S) are pure int64; the z-score is one
    identical double expression (continuity-corrected). Sen's slope is
    the LOWER MEDIAN of pairwise slopes — each slope one division of
    exact integers (IEEE-identical in both engines), selected by
    deterministic (slope, d_i, d_j) rank, so no float comparison seam
    exists. Scale: the quadratic pair stage is CALENDAR-bounded (~30
    days -> ~435 pairs per type, corpus-independent); the one data-sized
    pass is the daily map-side aggregate, checkpointed once for its
    three consumers."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.col("event_type").alias("t"),
            F.datediff(
                F.date_trunc("day", F.col("ts")),
                F.lit("2024-01-01").cast("date"),
            ).cast("long").alias("d"),
        )
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("y")
        )
        .localCheckpoint()
    )
    a = daily.select(F.col("t").alias("ta"), F.col("d").alias("di"), F.col("y").alias("ya"))
    b = daily.select(F.col("t").alias("tb"), F.col("d").alias("dj"), F.col("y").alias("yb"))
    pairs = a.join(
        b, (F.col("ta") == F.col("tb")) & (F.col("dj") > F.col("di"))
    ).select(
        F.col("ta").alias("t"),
        F.when(F.col("yb") > F.col("ya"), 1)
        .when(F.col("yb") < F.col("ya"), -1)
        .otherwise(0)
        .cast("long")
        .alias("sgn"),
        (
            (F.col("yb") - F.col("ya")).cast("double")
            / (F.col("dj") - F.col("di")).cast("double")
        ).alias("slope"),
        "di",
        "dj",
    )
    s = pairs.groupBy("t").agg(
        F.sum("sgn").cast("long").alias("s_stat"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    nn = daily.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        daily.groupBy("t", "y").agg(F.count(F.lit(1)).cast("long").alias("tc"))
        .groupBy("t")
        .agg(
            F.coalesce(
                F.sum(F.col("tc") * (F.col("tc") - 1) * (2 * F.col("tc") + 5)),
                F.lit(0),
            ).cast("long").alias("tie18")
        )
    )
    wr = Window.partitionBy("t").orderBy("slope", "di", "dj")
    wt = Window.partitionBy("t")
    sen = (
        pairs.withColumn("rk", F.row_number().over(wr))
        .withColumn("np", F.count(F.lit(1)).over(wt))
        .filter(F.col("rk") == F.expr("(np + 1) div 2"))
        .select("t", F.col("slope").alias("sen_slope"))
    )
    var18 = (
        F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5) - F.col("tie18")
    ).cast("long")
    zden = F.sqrt(var18.cast("double") / F.lit(18.0))
    return (
        s.join(nn, "t").join(ties, "t").join(sen, "t")
        .select(
            F.col("t").alias("event_type"),
            "n",
            "s_stat",
            var18.alias("var18"),
            F.when(
                F.col("s_stat") > 0,
                (F.col("s_stat") - 1).cast("double") / zden,
            )
            .when(
                F.col("s_stat") < 0,
                (F.col("s_stat") + 1).cast("double") / zden,
            )
            .otherwise(F.lit(0.0))
            .alias("z_score"),
            "sen_slope",
        )
        .orderBy("event_type")
    )


# --- seasonal decomposition (trend / day-of-week seasonal / remainder) --------

_DECOMP_SQL = """
WITH daily AS (
    SELECT event_type AS t,
           date_diff('day', DATE '2024-01-01', date_trunc('day', ts)) AS d,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS y
    FROM events
    GROUP BY 1, 2
),
win AS (
    SELECT t, d, y,
           CAST(SUM(y) OVER (
               PARTITION BY t ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
           ) AS BIGINT) AS sum7,
           CAST(COUNT(*) OVER (
               PARTITION BY t ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING
           ) AS BIGINT) AS cnt7
    FROM daily
),
sidx AS (
    SELECT t, d % 7 AS dow,
           CAST(SUM(7 * y - sum7) AS BIGINT) AS num,
           CAST(COUNT(*) AS BIGINT) AS den
    FROM win WHERE cnt7 = 7
    GROUP BY t, d % 7
)
SELECT w.t AS event_type, w.d, w.y,
       CASE WHEN w.cnt7 = 7 THEN CAST(w.sum7 AS DOUBLE) / 7.0 END AS trend,
       CAST(s.num AS DOUBLE) / CAST(7 * s.den AS DOUBLE) AS seasonal,
       CASE WHEN w.cnt7 = 7 THEN
            CAST(w.y AS DOUBLE) - CAST(w.sum7 AS DOUBLE) / 7.0
                - CAST(s.num AS DOUBLE) / CAST(7 * s.den AS DOUBLE)
       END AS remainder
FROM win w
JOIN sidx s ON s.t = w.t AND s.dow = w.d % 7
ORDER BY event_type, d
""".strip()


@query("seasonal_decompose_daily", oracle=_DECOMP_SQL)
def seasonal_decompose_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the daily revenue series per
    event type (the moving-average method STL refines): trend = centered
    7-day moving average (full windows only), day-of-week seasonal index,
    remainder — the monitoring decomposition every ops dashboard draws.
    The float-seam kill: the detrended value is kept as the EXACT
    INTEGER ``7*y - sum7`` (never y - sum7/7.0), so the per-dow seasonal
    mean is one double division of exact int64 sums — no cross-row float
    accumulation anywhere; trend and remainder are short identical
    expression chains over exact-integer inputs. Everything after the
    one map-side daily aggregate is calendar-bounded (~30 rows/type);
    the dow index joins back by key."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("t"),
        F.datediff(
            F.date_trunc("day", F.col("ts")), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("d"),
    ).agg(
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("y")
    )
    w7 = Window.partitionBy("t").orderBy("d").rowsBetween(-3, 3)
    win = daily.select(
        "t",
        "d",
        "y",
        F.sum("y").over(w7).cast("long").alias("sum7"),
        F.count(F.lit(1)).over(w7).cast("long").alias("cnt7"),
    ).localCheckpoint()
    sidx = (
        win.filter(F.col("cnt7") == 7)
        .groupBy(F.col("t").alias("st"), (F.col("d") % 7).alias("dow"))
        .agg(
            F.sum(F.lit(7) * F.col("y") - F.col("sum7"))
            .cast("long")
            .alias("num"),
            F.count(F.lit(1)).cast("long").alias("den"),
        )
    )
    seasonal = F.col("num").cast("double") / (F.lit(7) * F.col("den")).cast("double")
    trend = F.when(
        F.col("cnt7") == 7, F.col("sum7").cast("double") / F.lit(7.0)
    )
    return (
        win.join(
            F.broadcast(sidx),
            (F.col("t") == F.col("st")) & (F.col("dow") == F.col("d") % 7),
        )
        .select(
            F.col("t").alias("event_type"),
            "d",
            "y",
            trend.alias("trend"),
            seasonal.alias("seasonal"),
            F.when(
                F.col("cnt7") == 7,
                F.col("y").cast("double")
                - F.col("sum7").cast("double") / F.lit(7.0)
                - seasonal,
            ).alias("remainder"),
        )
        .orderBy("event_type", "d")
    )


# --- difference-in-differences (2x2 causal panel) ------------------------------

_DID_SQL = """
WITH cells AS (
    SELECT event_type,
           CAST(SUM(CASE WHEN user_id % 2 = 1 AND date_trunc('day', ts) >= TIMESTAMP '2024-01-16 00:00:00'
                         THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_tp,
           CAST(SUM(CASE WHEN user_id % 2 = 1 AND date_trunc('day', ts) >= TIMESTAMP '2024-01-16 00:00:00'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_tp,
           CAST(SUM(CASE WHEN user_id % 2 = 1 AND date_trunc('day', ts) < TIMESTAMP '2024-01-16 00:00:00'
                         THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_tb,
           CAST(SUM(CASE WHEN user_id % 2 = 1 AND date_trunc('day', ts) < TIMESTAMP '2024-01-16 00:00:00'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_tb,
           CAST(SUM(CASE WHEN user_id % 2 = 0 AND date_trunc('day', ts) >= TIMESTAMP '2024-01-16 00:00:00'
                         THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_cp,
           CAST(SUM(CASE WHEN user_id % 2 = 0 AND date_trunc('day', ts) >= TIMESTAMP '2024-01-16 00:00:00'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_cp,
           CAST(SUM(CASE WHEN user_id % 2 = 0 AND date_trunc('day', ts) < TIMESTAMP '2024-01-16 00:00:00'
                         THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT) ELSE 0 END) AS BIGINT) AS s_cb,
           CAST(SUM(CASE WHEN user_id % 2 = 0 AND date_trunc('day', ts) < TIMESTAMP '2024-01-16 00:00:00'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_cb
    FROM events
    GROUP BY event_type
)
SELECT event_type, n_tp, n_tb, n_cp, n_cb,
       CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE) / 100.0 AS mean_treat_post,
       CAST(s_tb AS DOUBLE) / CAST(n_tb AS DOUBLE) / 100.0 AS mean_treat_pre,
       CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE) / 100.0 AS mean_ctrl_post,
       CAST(s_cb AS DOUBLE) / CAST(n_cb AS DOUBLE) / 100.0 AS mean_ctrl_pre,
       (CAST(s_tp AS DOUBLE) / CAST(n_tp AS DOUBLE) / 100.0
        - CAST(s_tb AS DOUBLE) / CAST(n_tb AS DOUBLE) / 100.0)
       - (CAST(s_cp AS DOUBLE) / CAST(n_cp AS DOUBLE) / 100.0
          - CAST(s_cb AS DOUBLE) / CAST(n_cb AS DOUBLE) / 100.0) AS did_estimate
FROM cells
ORDER BY event_type
""".strip()


@query("did_estimate_by_type", oracle=_DID_SQL)
def did_estimate_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences — the panel causal-inference workhorse
    next to CUPED (which handles the randomized case; DiD handles the
    observational one): treated = odd user_ids, post = second half of
    the observation month, outcome = event value. The classic 2x2:
    did = (treated_post - treated_pre) - (control_post - control_pre).
    All FOUR cell sums and counts come from ONE map-side-combined
    conditional aggregate over one scan (exact int64 cents); each mean
    is a two-step division of exact integers and the estimate one
    left-associated chain, written identically in both engines — the
    CUPED moments-sketch exactness discipline on a 2x2 design."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    treated = F.col("user_id") % 2 == 1
    post = F.date_trunc("day", F.col("ts")) >= F.lit("2024-01-16 00:00:00").cast(
        "timestamp"
    )

    def cell(cond, name_s, name_n):
        return [
            F.sum(F.when(cond, cents).otherwise(F.lit(0)))
            .cast("long")
            .alias(name_s),
            F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0)))
            .cast("long")
            .alias(name_n),
        ]

    cells = ev.groupBy("event_type").agg(
        *cell(treated & post, "s_tp", "n_tp"),
        *cell(treated & ~post, "s_tb", "n_tb"),
        *cell(~treated & post, "s_cp", "n_cp"),
        *cell(~treated & ~post, "s_cb", "n_cb"),
    )

    def mean(s, n):
        return F.col(s).cast("double") / F.col(n).cast("double") / F.lit(100.0)

    return cells.select(
        "event_type",
        "n_tp",
        "n_tb",
        "n_cp",
        "n_cb",
        mean("s_tp", "n_tp").alias("mean_treat_post"),
        mean("s_tb", "n_tb").alias("mean_treat_pre"),
        mean("s_cp", "n_cp").alias("mean_ctrl_post"),
        mean("s_cb", "n_cb").alias("mean_ctrl_pre"),
        (
            (mean("s_tp", "n_tp") - mean("s_tb", "n_tb"))
            - (mean("s_cp", "n_cp") - mean("s_cb", "n_cb"))
        ).alias("did_estimate"),
    ).orderBy("event_type")

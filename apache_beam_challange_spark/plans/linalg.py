"""Distributed linear algebra over the embedding corpus — the PCA family
(SURVEY.md §2.9 "beyond the reference": the preprocessing step every
embedding-quantization / whitening pipeline runs before OPQ-style
rotations; the reference has no analog).

Architecture is the published distributed-PCA shape (same as Spark MLlib's
``RowMatrix.computePrincipalComponents`` and the classic tall-skinny
Gram trick): the DATA-SIZED work is one pass building the dim x dim Gram
matrix ``G = sum x xT`` (a 4096-group map-side-combined aggregate — the
shuffle is O(dim^2 * partitions), corpus-independent); everything after is
O(dim^2) on a parameter-bounded 4096-row matrix, so the driver-side read
is bounded by the SCHEMA (dim=64), never the data. The power iteration
itself runs in exact fixed-point arithmetic so the DuckDB oracle replays
it bit-identically:

- Gram entries: per-row ``FLOOR(x_i * x_j * 1e9 + 0.5)`` (identical IEEE
  double ops in both engines) summed as int64; per-n average via
  ``FLOOR(CAST(gsum AS DOUBLE) / n)`` — gsum <= n * 1e9 stays under 2^53
  up to ~9M vectors, documented bound.
- Iterate ``s = G_avg v`` in pure int64 (|s_i| <= 1e9 * 1e6 * 64 ~ 6.4e16,
  no overflow), L1-normalize via ``FLOOR(CAST(s AS DOUBLE) * 1e6 /
  CAST(norm1 AS DOUBLE))`` — int64->double conversion and each single
  multiply/divide are IEEE-identical across engines (values above 2^53
  round, but round identically). L1 normalization (not L2) keeps the
  whole trajectory in integer space — power iteration converges under any
  norm, and it avoids the engine-ordered double sum an L2 norm would need.
- Sign is pinned by the deterministic all-positive start vector
  (v0 = 15625 = FLOOR(1e6 / 64) in every coordinate).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_beam_challange_spark.functions.vector import as_double
from apache_beam_challange_spark.plans.registry import query
from apache_beam_challange_spark.sources.catalog import load_table
from apache_beam_challange_spark.sources.driver import collect_bounded, local_frame

_DIM = 64
_SG = 1_000_000_000  # Gram fixed-point scale (1e-9 resolution per product)
_SV = 1_000_000      # eigenvector fixed-point scale (L1 mass = ~1e6)
_V0 = _SV // _DIM    # 15625 — deterministic all-positive start
_ITER = 8


def _pca_chain(dim: int = _DIM, n_iter: int = _ITER) -> str:
    """The shared WITH-body: corpus, Gram, average, and the unrolled
    power-iteration chain (AS MATERIALIZED per the engine's DuckDB
    discipline — lazy re-expansion of an iteration chain is
    exponential). Ends with ``v{n_iter}`` (the fixed-point component)
    and ``n{n_iter}`` (its pre-normalization L1 mass)."""
    steps = []
    prev = "v0"
    for t in range(1, n_iter + 1):
        steps.append(
            f"s{t} AS MATERIALIZED (\n"
            f"    SELECT g.i, CAST(SUM(g.g * v.v) AS BIGINT) AS s\n"
            f"    FROM gavg g JOIN {prev} v ON v.i = g.j GROUP BY g.i\n"
            f"),\n"
            f"n{t} AS MATERIALIZED (SELECT CAST(SUM(ABS(s)) AS BIGINT) AS norm1 FROM s{t}),\n"
            f"v{t} AS MATERIALIZED (\n"
            f"    SELECT i, CAST(FLOOR(CAST(s AS DOUBLE) * 1000000.0\n"
            f"                / CAST((SELECT norm1 FROM n{t}) AS DOUBLE)) AS BIGINT) AS v\n"
            f"    FROM s{t}\n"
            f")"
        )
        prev = f"v{t}"
    chain = ",\n".join(steps)
    return f"""comp AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
),
cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
pos AS (SELECT unnest(generate_series(1, {dim})) AS p),
gram AS MATERIALIZED (
    SELECT i.p AS i, j.p AS j,
           CAST(SUM(CAST(FLOOR(c.x[i.p] * c.x[j.p] * {_SG} + 0.5) AS BIGINT)) AS BIGINT) AS gsum
    FROM comp c, pos i, pos j
    GROUP BY i.p, j.p
),
gavg AS MATERIALIZED (
    SELECT i, j,
           CAST(FLOOR(CAST(gsum AS DOUBLE) / (SELECT n FROM cnt)) AS BIGINT) AS g
    FROM gram
),
v0 AS (SELECT p AS i, CAST({_V0} AS BIGINT) AS v FROM pos),
{chain}"""


def _pca_oracle_sql(dim: int = _DIM, n_iter: int = _ITER) -> str:
    return f"""
WITH {_pca_chain(dim, n_iter)}
SELECT CAST(v.i AS BIGINT) AS dim,
       CAST(v.v AS DOUBLE) / 1000000.0 AS loading,
       CAST((SELECT norm1 FROM n{n_iter}) AS DOUBLE) / 1000000.0 / {_SG}.0 AS eigval_est
FROM v{n_iter} v
ORDER BY dim
""".strip()


@query("pca_power_iteration_top_component", oracle=_pca_oracle_sql())
def pca_power_iteration_top_component(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Top principal direction of the embedding corpus (un-centered PCA,
    i.e. the dominant eigenvector of ``(1/n) X^T X`` — the spectral
    summary whitening/OPQ pipelines start from). One distributed pass
    builds the upper-triangle Gram in exact 1e-9 fixed point (the
    symmetric half is mirrored — IEEE multiplication is commutative, so
    the mirrored entries are bit-equal to computing the full square);
    the 4096-entry matrix is a parameter-bounded driver read (dim^2,
    corpus-independent — the documented MLlib ``RowMatrix`` architecture),
    and 8 L1-normalized power-iteration rounds run in exact int64
    fixed point, replayed identically by the oracle's unrolled CTE
    chain. Returns (dim, loading, eigval_est) — 64 rows."""
    v, norm1 = _power_component(spark, sf_dir)
    eig = float(norm1) / 1000000.0 / float(_SG)
    out = [(i, float(v[i]) / 1000000.0, eig) for i in range(1, _DIM + 1)]
    return local_frame(
        spark, out, "dim long, loading double, eigval_est double"
    ).orderBy("dim")


def _power_component(spark: SparkSession, sf_dir: str) -> tuple[list[int], int]:
    """Distributed Gram + driver-side fixed-point iteration (shared by
    the component and projection queries). Returns the 1-indexed
    1e6-scaled component and the final pre-normalization L1 mass."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        as_double(F.col("embedding")).alias("x")
    )
    n = emb.count()
    comp = emb.select(F.posexplode("x").alias("i0", "xi"), "x")
    tri = comp.select(
        (F.col("i0") + 1).alias("i"),
        F.posexplode("x").alias("j0", "xj"),
        "xi",
    ).filter(F.col("j0") + 1 >= F.col("i"))
    half = (
        tri.select(
            "i",
            (F.col("j0") + 1).alias("j"),
            F.floor(F.col("xi") * F.col("xj") * _SG + F.lit(0.5))
            .cast("long")
            .alias("term"),
        )
        .groupBy("i", "j")
        .agg(F.sum("term").alias("gsum"))
    )
    # the upper triangle: bounded by the schema (64-dim), not the corpus
    g = [[0] * (_DIM + 1) for _ in range(_DIM + 1)]
    for i, j, gsum in collect_bounded(half, _DIM * (_DIM + 1) // 2):
        gavg = math.floor(float(gsum) / n)
        g[i][j] = gavg
        g[j][i] = gavg
    v = [_V0] * (_DIM + 1)
    norm1 = 0
    for _ in range(_ITER):
        s = [
            sum(g[i][j] * v[j] for j in range(1, _DIM + 1))
            for i in range(_DIM + 1)
        ]
        norm1 = sum(abs(x) for x in s[1:])
        v = [
            math.floor(float(x) * 1000000.0 / float(norm1)) for x in s
        ]
    return v, norm1


_PROJ_TOPK = 8


def _pca_proj_oracle_sql(dim: int = _DIM, n_iter: int = _ITER) -> str:
    return f"""
WITH {_pca_chain(dim, n_iter)},
proj AS MATERIALIZED (
    SELECT c.vec_id,
           CAST(SUM(CAST(FLOOR(c.x[v.i] * v.v + 0.5) AS BIGINT)) AS BIGINT) AS pu
    FROM comp c, v{n_iter} v
    GROUP BY c.vec_id
),
hi AS (SELECT vec_id, pu FROM proj ORDER BY pu DESC, vec_id LIMIT {_PROJ_TOPK}),
lo AS (SELECT vec_id, pu FROM proj ORDER BY pu ASC, vec_id LIMIT {_PROJ_TOPK})
SELECT 'top' AS tail, vec_id, CAST(pu AS DOUBLE) / 1000000.0 AS projection FROM hi
UNION ALL
SELECT 'bottom' AS tail, vec_id, CAST(pu AS DOUBLE) / 1000000.0 AS projection FROM lo
ORDER BY tail, vec_id
""".strip()


@query("pca_projection_extremes", oracle=_pca_proj_oracle_sql())
def pca_projection_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVE the principal component: project every embedding onto the
    power-iteration axis and return the two extreme tails (the vectors
    a curation pass would inspect first — the most/least aligned with
    the corpus' dominant direction). The component arrives as a 64-int
    broadcast literal (driver-computed, dim-bounded); the projection is
    one narrow corpus pass (per-component ``FLOOR(x_i * v_i + 0.5)``
    exact int64 — 1e-6-scaled v keeps the fold order-free), and each
    tail is a TakeOrderedAndProject, so the whole serve is scan +
    fold + two partial top-k merges — zero joins, zero data-sized
    shuffles."""
    v, _ = _power_component(spark, sf_dir)
    vec = F.array(*[F.lit(v[i]) for i in range(1, _DIM + 1)])
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("x")
    )
    proj = emb.select(
        "vec_id",
        F.aggregate(
            F.zip_with(F.col("x"), vec, lambda xi, vi: F.floor(xi * vi + F.lit(0.5))),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        ).alias("pu"),
    )
    hi = proj.orderBy(F.col("pu").desc(), "vec_id").limit(_PROJ_TOPK)
    lo = proj.orderBy(F.col("pu").asc(), "vec_id").limit(_PROJ_TOPK)
    out = hi.select(F.lit("top").alias("tail"), "vec_id", "pu").unionByName(
        lo.select(F.lit("bottom").alias("tail"), "vec_id", "pu")
    )
    return out.select(
        "tail",
        "vec_id",
        (F.col("pu").cast("double") / F.lit(1000000.0)).alias("projection"),
    ).orderBy("tail", "vec_id")


# --- k-center greedy diversity sample (farthest-point traversal) -------------

_KC_K = 8
_KC_SD = 1_000_000_000


def _kcenter_oracle_sql(k: int = _KC_K, dim: int = _DIM) -> str:
    """Unrolled greedy farthest-point chain: round r computes every
    vector's fixed-point dot against the round-(r-1) pick, folds it into
    the running max-dot-to-chosen state, and picks the argmin (max-dot
    == min-distance for unit-normalized inputs; exact int64 everywhere,
    ties broken by vec_id)."""
    picks = ["CAST(0 AS BIGINT)"]  # seed center: vec_id 0
    ctes = []
    prev_state = None
    for r in range(2, k + 1):
        center = (
            "(SELECT x FROM vecs WHERE vec_id = 0)"
            if r == 2
            else f"(SELECT x FROM vecs WHERE vec_id = (SELECT vec_id FROM p{r - 1}))"
        )
        ctes.append(
            f"d{r} AS MATERIALIZED (\n"
            f"    SELECT v.vec_id,\n"
            f"           CAST(SUM(CAST(FLOOR(v.x[p.p] * c.x[p.p] * {_KC_SD} + 0.5) AS BIGINT)) AS BIGINT) AS md\n"
            f"    FROM vecs v, pos p, {center} c\n"
            f"    GROUP BY v.vec_id\n"
            f")"
        )
        if prev_state is None:
            state = f"d{r}"
        else:
            state = f"s{r}"
            ctes.append(
                f"s{r} AS MATERIALIZED (\n"
                f"    SELECT a.vec_id, GREATEST(a.md, b.md) AS md\n"
                f"    FROM {prev_state} a JOIN d{r} b ON a.vec_id = b.vec_id\n"
                f")"
            )
        not_in = ", ".join(picks)
        ctes.append(
            f"p{r} AS MATERIALIZED (\n"
            f"    SELECT vec_id, md FROM {state}\n"
            f"    WHERE vec_id NOT IN ({not_in})\n"
            f"    ORDER BY md ASC, vec_id LIMIT 1\n"
            f")"
        )
        picks.append(f"(SELECT vec_id FROM p{r})")
        prev_state = state
    chain = ",\n".join(ctes)
    sel = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS sel_round, vec_id,"
        f" CAST(md AS DOUBLE) / {_KC_SD}.0 AS max_dot_at_pick FROM p{r}"
        for r in range(2, k + 1)
    )
    return f"""
WITH vecs AS MATERIALIZED (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings
),
pos AS (SELECT unnest(generate_series(1, {dim})) AS p),
{chain}
SELECT CAST(1 AS BIGINT) AS sel_round, CAST(0 AS BIGINT) AS vec_id,
       CAST(NULL AS DOUBLE) AS max_dot_at_pick
UNION ALL
{sel}
ORDER BY sel_round
""".strip()


@query("kcenter_diversity_sample", oracle=_kcenter_oracle_sql())
def kcenter_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) diversity sampling over the
    embedding corpus — the classic coreset selector training-data
    curation uses to pick a maximally-spread exemplar subset (Gonzalez
    1985 2-approximation; the selection objective SemDeDup prunes
    toward, run in reverse). Unit-normalized inputs make max-dot ==
    min-distance, so each of the k-1 bounded rounds is ONE corpus pass:
    broadcast the newly chosen center, fixed-point dot (exact int64 —
    selection argmins can never diverge between engines), fold into the
    running max-dot state, take the 1-row argmin (parameter-bounded
    driver read). Work is O(k * n * dim) with k a constant — the same
    shape as the IVF coarse assign — and the state frame stays
    (vec_id, max_dot) narrow. Returns the k picks with selection round
    and coverage radius proxy."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("x")
    )

    def dot_u(a: F.Column, b: F.Column) -> F.Column:
        return F.aggregate(
            F.zip_with(a, b, lambda p, q: F.floor(p * q * _KC_SD + F.lit(0.5))),
            F.lit(0).cast("long"),
            lambda acc, t: acc + t,
        )

    chosen: list[tuple[int, int, float | None]] = [(1, 0, None)]
    state = None
    for r in range(2, _KC_K + 1):
        last_id = chosen[-1][1]
        center = emb.filter(F.col("vec_id") == last_id).select(
            F.col("x").alias("cx")
        )
        # r13 (guide §1.2 / §2.3): the running max-dot state is now (a)
        # NARROW — (vec_id, md) only; the vectors ride in fresh from the
        # per-round scan, never through the fold — and (b) materialized
        # per round (lazy localCheckpoint; the argmin action realizes
        # it), so round r's pass reads the round r-1 STATE instead of
        # re-executing the whole join chain from round 2 — the docstring
        # promise ("each round is ONE corpus pass") made literal: total
        # work drops from O(k^2) corpus passes to O(k).
        d = emb.crossJoin(F.broadcast(center)).select(
            "vec_id", dot_u(F.col("x"), F.col("cx")).alias("md")
        )
        if state is None:
            state = d.localCheckpoint(eager=False)
        else:
            state = (
                state.select("vec_id", F.col("md").alias("md_prev"))
                .join(d, "vec_id")
                .select("vec_id", F.greatest("md_prev", "md").alias("md"))
                .localCheckpoint(eager=False)
            )
        picked_ids = [c[1] for c in chosen]
        row = (
            state.filter(~F.col("vec_id").isin(picked_ids))
            .orderBy(F.col("md").asc(), F.col("vec_id"))
            .limit(1)
            .collect()[0]
        )
        chosen.append((r, row["vec_id"], float(row["md"]) / _KC_SD))
    return local_frame(
        spark, chosen, "sel_round long, vec_id long, max_dot_at_pick double"
    ).orderBy("sel_round")


# --- distributed least squares via exact normal equations --------------------

_LINREG_SQL = """
WITH m AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS BIGINT) AS sh,
           CAST(SUM(CAST(EXTRACT(hour FROM ts) AS BIGINT)
                    * CAST(EXTRACT(hour FROM ts) AS BIGINT)) AS BIGINT) AS shh,
           CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS sy,
           CAST(SUM(CAST(EXTRACT(hour FROM ts) AS BIGINT)
                    * CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS shy
    FROM events
    GROUP BY event_type
)
SELECT event_type, n,
       (CAST(n AS DOUBLE) * CAST(shy AS DOUBLE) - CAST(sh AS DOUBLE) * CAST(sy AS DOUBLE))
       / (CAST(n AS DOUBLE) * CAST(shh AS DOUBLE) - CAST(sh AS DOUBLE) * CAST(sh AS DOUBLE))
       / 10000.0 AS slope_per_hour,
       (CAST(sy AS DOUBLE)
        - (CAST(n AS DOUBLE) * CAST(shy AS DOUBLE) - CAST(sh AS DOUBLE) * CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE) * CAST(shh AS DOUBLE) - CAST(sh AS DOUBLE) * CAST(sh AS DOUBLE))
          * CAST(sh AS DOUBLE))
       / CAST(n AS DOUBLE) / 10000.0 AS intercept
FROM m
ORDER BY event_type
""".strip()


@query("linreg_value_on_hour_by_type", oracle=_LINREG_SQL)
def linreg_value_on_hour_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed ordinary least squares — ``value ~ hour-of-day`` per
    event type — via EXACT normal equations: the only data-sized work is
    one map-side-combined aggregate of five integer moments (hour is a
    small int, value fixed to 1e-4 units, every sum exact int64), and
    the closed-form slope/intercept are a fixed sequence of double ops
    on those exact moments, written in the identical order in both
    engines (moments cast to double FIRST so neither engine overflows
    int64 on the cross terms at scale — n*shy stays exact-int only to
    ~1e18). This is the moments-sketch pattern CUPED already uses,
    extended to a supervised fit: the regression every monitoring
    pipeline runs, with no MLlib dependency and full oracle
    verifiability."""
    ev = load_table(spark, sf_dir, "events")
    h = F.hour("ts").cast("long")
    yu = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(h).alias("sh"),
        F.sum(h * h).alias("shh"),
        F.sum(yu).alias("sy"),
        F.sum(h * yu).alias("shy"),
    )
    nd = F.col("n").cast("double")
    shd = F.col("sh").cast("double")
    shhd = F.col("shh").cast("double")
    syd = F.col("sy").cast("double")
    shyd = F.col("shy").cast("double")
    slope_u = (nd * shyd - shd * syd) / (nd * shhd - shd * shd)
    return m.select(
        "event_type",
        "n",
        (slope_u / F.lit(10000.0)).alias("slope_per_hour"),
        ((syd - slope_u * shd) / nd / F.lit(10000.0)).alias("intercept"),
    ).orderBy("event_type")


# --- Chow structural-break test -------------------------------------------------

_CHOW_BREAK_DAY = 15  # split: days 0-14 vs 15+ (mid-window structural break)

_CHOW_RSS = (
    "(CAST({s2y} AS DOUBLE) - CAST({sy} AS DOUBLE) * CAST({sy} AS DOUBLE)"
    " / CAST({n} AS DOUBLE))"
    " - (CAST({sxy} AS DOUBLE) - CAST({sx} AS DOUBLE) * CAST({sy} AS DOUBLE)"
    "    / CAST({n} AS DOUBLE))"
    " * (CAST({sxy} AS DOUBLE) - CAST({sx} AS DOUBLE) * CAST({sy} AS DOUBLE)"
    "    / CAST({n} AS DOUBLE))"
    " / (CAST({s2x} AS DOUBLE) - CAST({sx} AS DOUBLE) * CAST({sx} AS DOUBLE)"
    "    / CAST({n} AS DOUBLE))"
)


def _chow_m(seg: str) -> dict[str, str]:
    return {
        "n": f"n{seg}", "sx": f"sx{seg}", "sy": f"sy{seg}",
        "s2x": f"s2x{seg}", "s2y": f"s2y{seg}", "sxy": f"sxy{seg}",
    }


_CHOW_SQL = f"""
WITH daily AS (
    SELECT event_type,
           CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
           CAST(SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS yc
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
),
m AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(d) AS BIGINT) AS sx,
           CAST(SUM(yc) AS BIGINT) AS sy,
           CAST(SUM(d * d) AS BIGINT) AS s2x,
           CAST(SUM(yc * yc) AS BIGINT) AS s2y,
           CAST(SUM(d * yc) AS BIGINT) AS sxy,
           CAST(SUM(CASE WHEN d < {_CHOW_BREAK_DAY} THEN 1 ELSE 0 END) AS BIGINT) AS n1,
           CAST(SUM(CASE WHEN d < {_CHOW_BREAK_DAY} THEN d ELSE 0 END) AS BIGINT) AS sx1,
           CAST(SUM(CASE WHEN d < {_CHOW_BREAK_DAY} THEN yc ELSE 0 END) AS BIGINT) AS sy1,
           CAST(SUM(CASE WHEN d < {_CHOW_BREAK_DAY} THEN d * d ELSE 0 END) AS BIGINT) AS s2x1,
           CAST(SUM(CASE WHEN d < {_CHOW_BREAK_DAY} THEN yc * yc ELSE 0 END) AS BIGINT) AS s2y1,
           CAST(SUM(CASE WHEN d < {_CHOW_BREAK_DAY} THEN d * yc ELSE 0 END) AS BIGINT) AS sxy1,
           CAST(SUM(CASE WHEN d >= {_CHOW_BREAK_DAY} THEN 1 ELSE 0 END) AS BIGINT) AS n2,
           CAST(SUM(CASE WHEN d >= {_CHOW_BREAK_DAY} THEN d ELSE 0 END) AS BIGINT) AS sx2,
           CAST(SUM(CASE WHEN d >= {_CHOW_BREAK_DAY} THEN yc ELSE 0 END) AS BIGINT) AS sy2,
           CAST(SUM(CASE WHEN d >= {_CHOW_BREAK_DAY} THEN d * d ELSE 0 END) AS BIGINT) AS s2x2,
           CAST(SUM(CASE WHEN d >= {_CHOW_BREAK_DAY} THEN yc * yc ELSE 0 END) AS BIGINT) AS s2y2,
           CAST(SUM(CASE WHEN d >= {_CHOW_BREAK_DAY} THEN d * yc ELSE 0 END) AS BIGINT) AS sxy2
    FROM daily
    GROUP BY event_type
)
SELECT event_type, n, n1, n2,
       ((({_CHOW_RSS.format(**_chow_m(''))})
         - (({_CHOW_RSS.format(**_chow_m('1'))})
            + ({_CHOW_RSS.format(**_chow_m('2'))}))) / 2.0)
       / ((({_CHOW_RSS.format(**_chow_m('1'))})
           + ({_CHOW_RSS.format(**_chow_m('2'))}))
          / CAST(n - 4 AS DOUBLE)) AS chow_f
FROM m
ORDER BY event_type
""".strip()


@query("chow_break_daily_revenue", oracle=_CHOW_SQL)
def chow_break_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow test (1960) for a structural break in the daily-revenue
    trend at mid-window, per event type: fit value ~ day on the full
    series and on each segment, F = ((RSS_p - RSS_1 - RSS_2)/k) /
    ((RSS_1 + RSS_2)/(n - 2k)) with k=2 — the econometric
    regime-change detector joining the CUSUM changepoint family with a
    parametric test. ALL nine per-segment moments come from ONE
    map-side-combined conditional aggregate (the OLS/CUPED moments
    discipline — segment membership is just a CASE inside the sums);
    every RSS is the identical centered-moment double expression in
    both engines; no second scan, no window, no join."""
    ev = load_table(spark, sf_dir, "events")
    d = F.datediff(
        F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
    ).cast("long")
    yc = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    daily = ev.groupBy(
        "event_type", d.alias("d")
    ).agg(F.sum(yc).alias("yc"))
    dd, yy = F.col("d"), F.col("yc")
    in1 = dd < _CHOW_BREAK_DAY
    segs = {"": F.lit(True), "1": in1, "2": ~in1}
    aggs = []
    for tag, cond in segs.items():
        z = F.lit(0)
        aggs += [
            F.sum(F.when(cond, 1).otherwise(z)).alias(f"n{tag}"),
            F.sum(F.when(cond, dd).otherwise(z)).alias(f"sx{tag}"),
            F.sum(F.when(cond, yy).otherwise(z)).alias(f"sy{tag}"),
            F.sum(F.when(cond, dd * dd).otherwise(z)).alias(f"s2x{tag}"),
            F.sum(F.when(cond, yy * yy).otherwise(z)).alias(f"s2y{tag}"),
            F.sum(F.when(cond, dd * yy).otherwise(z)).alias(f"sxy{tag}"),
        ]
    m = daily.groupBy("event_type").agg(*aggs)

    def rss(tag):
        n = F.col(f"n{tag}").cast("double")
        sx = F.col(f"sx{tag}").cast("double")
        sy = F.col(f"sy{tag}").cast("double")
        s2x = F.col(f"s2x{tag}").cast("double")
        s2y = F.col(f"s2y{tag}").cast("double")
        sxy = F.col(f"sxy{tag}").cast("double")
        sxy_c = sxy - sx * sy / n
        return (s2y - sy * sy / n) - sxy_c * sxy_c / (s2x - sx * sx / n)

    f_stat = ((rss("") - (rss("1") + rss("2"))) / F.lit(2.0)) / (
        (rss("1") + rss("2")) / (F.col("n") - 4).cast("double")
    )
    return m.select(
        "event_type", "n", "n1", "n2", f_stat.alias("chow_f")
    ).orderBy("event_type")

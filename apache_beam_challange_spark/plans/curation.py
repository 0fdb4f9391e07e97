"""Round-4 curation + relational coverage: batch sessionization
(gaps-and-islands), latest-record upsert snapshot, deterministic stratified
sampling, mergeable histogram quantiles, Bloom-filter membership, top-decile
quality filtering, anti-join integrity checks, and a TPC-H Q6-shaped
pushdown aggregate.

These are the batch-side operations a 100 TB training-data pipeline runs
daily; each is expressed as pure DataFrame ops (window / two-phase agg /
equi-join — no UDFs, no collect), and each oracle reproduces the exact
arithmetic so the driver's hash gate verifies values, not just shapes.

The reference has no analog for any of these (its whole surface is four
bounded Beam pipelines, `pipelines/*.py` — see SURVEY.md §2.9's "beyond
the reference" mandate); the deterministic md5-bucket sampling follows the
same content-addressed pattern as ``dataset_split_counts``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apache_beam_challange_spark.functions.text import (
    QUALITY_SCORE_SQL,
    quality_score,
)
from apache_beam_challange_spark.plans.extensions import _MINHASH_CTE
from apache_beam_challange_spark.plans.registry import query
from apache_beam_challange_spark.sources.catalog import load_table

# --- batch sessionization (gaps-and-islands) -------------------------------


@query(
    "batch_sessionize_events",
    oracle="""
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     >= INTERVAL 10 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
),
numbered AS (
    SELECT user_id, ts,
           SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS sess_id
    FROM flagged
)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, sess_id
""".strip(),
)
def batch_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via the gaps-and-islands rewrite: a per-user
    LAG marks gap >= 10 min as a session boundary, a running SUM numbers
    the islands, and one aggregation folds each island to (start, end,
    n_events). The two windows and the final groupBy all share ONE
    hash-partitioning on user_id, so the whole operator costs a single
    shuffle at any scale — the batch twin of ``streaming_session_windows``
    (same gap semantics, same oracle skeleton), for backfills over at-rest
    data where no state store is needed."""
    ev = load_table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = (
        F.when(
            F.col("ts") - F.lag("ts").over(order_w)
            >= F.expr("INTERVAL 10 MINUTES"),
            1,
        )
        .otherwise(0)
        .alias("new_sess")
    )
    numbered = ev.select("user_id", "ts", "event_id", new_sess).withColumn(
        "sess_id",
        F.sum("new_sess").over(order_w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        numbered.groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
    )


# --- latest-record snapshot (upsert/compaction semantics) ------------------


@query(
    "latest_event_per_user",
    oracle="""
SELECT user_id, ts AS last_ts, event_type AS last_event_type,
       value AS last_value
FROM (
    SELECT user_id, ts, event_id, event_type, value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
) t
WHERE rn = 1
""".strip(),
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-record-per-key snapshot — the compaction step of
    upsert/changelog semantics (MERGE latest-wins, SCD type-1): one
    row_number window per key, deterministic tie-break on event_id. At
    100 TB this is how a change feed folds into a serving snapshot; the
    window is key-partitioned so it scales with the key count, and AQE
    coalesces the post-filter partitions."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


# --- deterministic stratified sampling -------------------------------------

# md5(doc_id) first-4-hex as an integer 0..65535 — identical text in Spark
# (conv) and DuckDB (strpos polynomial), mod 100 gives the sampling bucket.
_HEXD = "(STRPOS('0123456789abcdef', SUBSTR({m}, {p}, 1)) - 1)"
_DOC_HEX4 = (
    "("
    + " + ".join(
        _HEXD.format(m="md5(CAST(doc_id AS VARCHAR))", p=p)
        + f" * {16 ** (4 - p)}"
        for p in range(1, 5)
    )
    + ") % 100"
)


@query(
    "stratified_sample_documents",
    oracle=f"""
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN {_DOC_HEX4} < (CASE WHEN lang = 'en' THEN 10 ELSE 30 END)
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
FROM documents
GROUP BY lang
""".strip(),
)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for mixture rebalancing: English
    keeps 10%, every low-resource language keeps 30% (upsampling the tail
    is the standard pretraining-mixture move). Membership is
    content-addressed — md5(doc_id) mod 100 under the per-stratum rate —
    so the sample is stable under reshuffles, retries, and engine swaps
    (no RNG state, no ordering dependence), and UNIONS of shards sample
    consistently. Single scan, one partial-aggregated groupBy."""
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        % 100
    )
    rate = F.when(F.col("lang") == "en", 10).otherwise(30)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(bucket < rate, 1).otherwise(0)).alias("n_sampled"),
    )


# --- mergeable histogram quantiles -----------------------------------------

_HIST_CTE = """
hist AS (
    SELECT CAST(FLOOR(l_extendedprice / 100) AS BIGINT) AS bin,
           COUNT(*) AS n
    FROM lineitem GROUP BY 1
),
cum AS (
    SELECT bin, n,
           COALESCE(SUM(n) OVER (
               ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ), 0) AS cum_before,
           SUM(n) OVER () AS total
    FROM hist
),
targets AS (
    SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS p
)
""".strip()


@query(
    "histogram_quantiles_lineitem",
    oracle=f"""
WITH {_HIST_CTE}
SELECT p, ROUND(bin * 100 + (p * total - cum_before) / n * 100, 6) AS est_value
FROM cum, targets
WHERE cum_before < p * total AND cum_before + n >= p * total
""".strip(),
)
def histogram_quantiles_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile estimation from a MERGEABLE fixed-width histogram: one
    map-side-combined groupBy builds per-bin counts (the sketch — shard
    histograms merge by addition, the property that makes this the 100 TB
    quantile structure), then p50/p95/p99 are interpolated inside the
    covering bin. The cumulative window runs on the AGGREGATED bins
    (~1000 rows regardless of input scale), so the single-partition
    window cost is O(bins), not O(rows). Bin arithmetic is integer and
    the interpolation uses only (bin, counts, p), so the estimate is
    bit-reproducible — the oracle runs the same algorithm, not an exact
    percentile."""
    li = load_table(spark, sf_dir, "lineitem")
    hist = li.groupBy(
        F.floor(F.col("l_extendedprice") / 100).cast("long").alias("bin")
    ).agg(F.count(F.lit(1)).alias("n"))
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "bin",
        "n",
        F.coalesce(F.sum("n").over(w_cum), F.lit(0)).alias("cum_before"),
        F.sum("n").over(
            Window.rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total"),
    )
    targets = spark.range(1).select(
        F.explode(F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99))).alias("p")
    )
    return (
        cum.crossJoin(F.broadcast(targets))
        .filter(
            (F.col("cum_before") < F.col("p") * F.col("total"))
            & (F.col("cum_before") + F.col("n") >= F.col("p") * F.col("total"))
        )
        .select(
            "p",
            F.round(
                F.col("bin") * 100
                + (F.col("p") * F.col("total") - F.col("cum_before"))
                / F.col("n")
                * 100,
                6,
            ).alias("est_value"),
        )
    )


# --- Bloom-filter membership -----------------------------------------------

#: Bloom geometry: m bits, k hashes. Positions derive from one md5 per key
#: (same parametric-family trick as MinHash: one hash, k integer variants),
#: exact BIGINT arithmetic in both engines.
_BLOOM_M = 8192
_BLOOM_K = 4
_BLOOM_P = 2_147_483_647
_BLOOM_A0 = 700_001
_BLOOM_B = 12_345

_KEY_HEX15 = " + ".join(
    _HEXD.format(m="md5(CAST({key} AS VARCHAR))", p=p) + f" * {16 ** (15 - p)}"
    for p in range(1, 16)
)


def _bloom_positions_sql(key: str) -> str:
    """DuckDB rows ``(pos_idx, pos)`` for one key column."""
    base = f"(({_KEY_HEX15.format(key=key)}) % {_BLOOM_P})"
    return (
        "SELECT i AS pos_idx, "
        f"(({base} * ({_BLOOM_A0} + 2 * i) + i * {_BLOOM_B}) % {_BLOOM_P}) "
        f"% {_BLOOM_M} AS pos "
        "FROM (SELECT unnest(generate_series(0, "
        f"{_BLOOM_K - 1})) AS i) idx"
    )


def _bloom_positions(key: F.Column) -> F.Column:
    """Array of k bit positions for one key — Spark twin of
    :func:`_bloom_positions_sql`."""
    base = (
        F.conv(F.substring(F.md5(key.cast("string")), 1, 15), 16, 10).cast(
            "long"
        )
        % _BLOOM_P
    )
    return F.array(
        *[
            ((base * (_BLOOM_A0 + 2 * i) + i * _BLOOM_B) % _BLOOM_P)
            % _BLOOM_M
            for i in range(_BLOOM_K)
        ]
    )


@query(
    "bloom_membership_orders",
    oracle=f"""
WITH members AS (
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
),
bits AS (
    SELECT DISTINCT pos FROM members,
        ({_bloom_positions_sql('c_custkey')}) h
),
probes AS (
    SELECT DISTINCT o_custkey AS probe_key FROM orders
),
probe_hits AS (
    SELECT probe_key,
           COUNT(DISTINCT h.pos_idx) AS n_hits
    FROM probes,
         ({_bloom_positions_sql('probe_key')}) h
    JOIN bits ON h.pos = bits.pos
    GROUP BY probe_key
),
flags AS (
    SELECT p.probe_key,
           COALESCE(h.n_hits, 0) = {_BLOOM_K} AS pass,
           EXISTS (SELECT 1 FROM members m
                   WHERE m.c_custkey = p.probe_key) AS is_member
    FROM probes p LEFT JOIN probe_hits h ON p.probe_key = h.probe_key
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
       CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT)
           AS n_bloom_pass,
       CAST(SUM(CASE WHEN pass AND is_member THEN 1 ELSE 0 END) AS BIGINT)
           AS n_true_members,
       CAST(SUM(CASE WHEN pass AND NOT is_member THEN 1 ELSE 0 END)
            AS BIGINT) AS n_false_positives
FROM flags
""".strip(),
)
def bloom_membership_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership as a relational sketch: the BUILDING-segment
    customer keys set k=4 md5-derived bits in an m=8192 filter; every
    distinct order custkey probes it. The bitset is rows of distinct set
    positions (<= m rows REGARDLESS of member count — the sketch property),
    built with one groupBy and broadcast into the probe join, so probing N
    keys costs one broadcast-hash-join pass, no shuffle of the probe side
    beyond its own distinct. Pass/member flags fold into ONE global
    aggregation (the probe subtree executes once — not once per output
    count), reporting measured false positives against exact membership:
    the trade-off a 100 TB pipeline accepts to pre-filter a join. The
    oracle recomputes the identical bit arithmetic (one md5 per key,
    parametric family)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    members = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    bits = (
        members.select(
            F.explode(_bloom_positions(F.col("c_custkey"))).alias("pos")
        )
        .distinct()
    )
    probes = orders.select(
        F.col("o_custkey").alias("probe_key")
    ).distinct()
    probe_pos = probes.select(
        "probe_key",
        F.posexplode(_bloom_positions(F.col("probe_key"))).alias(
            "pos_idx", "pos"
        ),
    )
    # hits stays partitioned on probe_key from the distinct, the bits and
    # members sides broadcast, so the whole query is one probe-side
    # shuffle + one single-row final aggregate.
    hits = (
        probe_pos.join(F.broadcast(bits), "pos")
        .groupBy("probe_key")
        .agg(F.count_distinct("pos_idx").alias("n_hits"))
    )
    flags = (
        probes.join(hits, "probe_key", "left")
        .withColumn(
            "pass", F.coalesce(F.col("n_hits"), F.lit(0)) == _BLOOM_K
        )
        .join(
            F.broadcast(members.withColumn("is_member", F.lit(True))),
            F.col("probe_key") == F.col("c_custkey"),
            "left",
        )
        .withColumn("is_member", F.coalesce(F.col("is_member"), F.lit(False)))
    )
    return flags.agg(
        F.count(F.lit(1)).alias("n_probes"),
        F.sum(F.when(F.col("pass"), 1).otherwise(0)).alias("n_bloom_pass"),
        F.sum(
            F.when(F.col("pass") & F.col("is_member"), 1).otherwise(0)
        ).alias("n_true_members"),
        F.sum(
            F.when(F.col("pass") & ~F.col("is_member"), 1).otherwise(0)
        ).alias("n_false_positives"),
    )


# --- top-decile quality filter ---------------------------------------------


@query(
    "top_decile_quality_by_lang",
    oracle=f"""
WITH scored AS (
    SELECT lang, doc_id, ({QUALITY_SCORE_SQL.strip()}) AS score
    FROM documents
),
ranked AS (
    SELECT lang, score,
           ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY score DESC, doc_id
           ) AS rn,
           COUNT(*) OVER (PARTITION BY lang) AS n_lang
    FROM scored
)
SELECT lang, COUNT(*) AS n_top, ROUND(MIN(score), 6) AS cutoff_score
FROM ranked
WHERE rn <= CAST(FLOOR(n_lang * 0.10) AS BIGINT)
GROUP BY lang
""".strip(),
)
def top_decile_quality_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-gated quality curation: keep each language's top 10% of
    docs by the deterministic surface-quality score (the shape of a
    FineWeb-style quality filter: score, rank within stratum, cut at a
    percentile rather than a global constant so low-resource languages
    aren't wiped out). One key-partitioned window ranks; the cutoff row
    count is floor(n*0.10) per language. Returns the kept count and the
    per-language score cutoff actually applied."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "lang", "doc_id", quality_score(F.col("text")).alias("score")
    )
    w_rank = Window.partitionBy("lang").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    w_n = Window.partitionBy("lang")
    ranked = scored.select(
        "lang",
        "score",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n_lang"),
    )
    return (
        ranked.filter(
            F.col("rn") <= F.floor(F.col("n_lang") * 0.10).cast("long")
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_top"),
            F.round(F.min("score"), 6).alias("cutoff_score"),
        )
    )


# --- anti-join integrity check ---------------------------------------------


@query(
    "customers_without_urgent_orders",
    oracle="""
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
GROUP BY c_mktsegment
""".strip(),
)
def customers_without_urgent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left ANTI join (NOT EXISTS): customers who never placed an urgent
    order, counted per market segment. The priority filter pushes into the
    orders scan BEFORE the anti join, shrinking the build side ~5x; the
    anti join shuffles both sides on custkey once and streams — the
    referential/exclusion primitive (orphan detection, suppression lists,
    tombstone filtering) that pipelines run against every ingest batch."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    urgent = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_custkey"
    )
    return (
        cust.join(
            urgent, cust["c_custkey"] == urgent["o_custkey"], "left_anti"
        )
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


# --- TPC-H Q6-shaped pushdown aggregate ------------------------------------


@query(
    "q6_forecast_revenue",
    oracle="""
SELECT ROUND(SUM(CAST(FLOOR(l_extendedprice * l_discount * 10000 + 0.5)
                 AS BIGINT)) / CAST(10000.0 AS DOUBLE), 4) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.045 AND l_discount <= 0.075
  AND l_quantity < 24
""".strip(),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape — the canonical predicate-pushdown probe: a pure
    filter + scalar aggregate whose four predicates must ALL reach the
    parquet scan (PushedFilters), with row-group statistics skipping
    whole chunks of a date-partitioned 100 TB fact table. No shuffle at
    all: partial sums combine map-side into a single-row result. Discount
    bounds sit between the data's 0.01 grid points so double comparison
    is unambiguous in both engines. Revenue uses the fixed-point-per-row
    sum discipline (every other revenue aggregate's `_dec_sum` pattern):
    a raw double SUM's partial-aggregation order differs between engines
    and could flip the 4-dp rounding at larger row counts."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount") >= 0.045)
        & (F.col("l_discount") <= 0.075)
        & (F.col("l_quantity") < 24)
    ).agg(
        F.round(
            F.sum(
                F.floor(
                    F.col("l_extendedprice") * F.col("l_discount") * 10000
                    + F.lit(0.5)
                ).cast("long")
            )
            / 10000.0,
            4,
        ).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --- PageRank over the near-dup graph --------------------------------------

_PR_SCALE = 1_000_000
_PR_ITER = 3


def _pagerank_ctes(n_iter: int = _PR_ITER, scale: int = _PR_SCALE) -> str:
    """Unrolled integer-PageRank CTEs over ``cand`` pair rows — the SQL
    twin of :func:`~apache_beam_challange_spark.operators.graph.
    pagerank_int` (same floor divisions, same 85/100 damping)."""
    teleport = (15 * scale) // 100
    parts = [
        """
edges AS (
    SELECT doc_id_1 AS node, doc_id_2 AS nbr FROM cand
    UNION ALL
    SELECT doc_id_2 AS node, doc_id_1 AS nbr FROM cand
),
deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY node
),
pr0 AS (
    SELECT node, CAST(%d AS BIGINT) AS r FROM deg
)""".strip()
        % scale
    ]
    for i in range(1, n_iter + 1):
        parts.append(
            f"""
pr{i} AS (
    SELECT d.node,
           CAST({teleport} + (85 * COALESCE(s.acc, 0)) // 100 AS BIGINT) AS r
    FROM deg d LEFT JOIN (
        SELECT e.nbr AS node, CAST(SUM(p.r // g.deg) AS BIGINT) AS acc
        FROM edges e
        JOIN pr{i - 1} p ON p.node = e.node
        JOIN deg g ON g.node = e.node
        GROUP BY e.nbr
    ) s ON s.node = d.node
)""".strip()
        )
    return ",\n".join(parts)


@query(
    "pagerank_near_dup_graph",
    oracle=f"""
WITH {_MINHASH_CTE},
bands AS (
    SELECT doc_id, CAST(FLOOR(hash_idx / 2) AS BIGINT) AS band_idx,
           STRING_AGG(CAST(min_hash AS VARCHAR), '|' ORDER BY hash_idx) AS band_val
    FROM mh
    GROUP BY doc_id, FLOOR(hash_idx / 2)
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                AND a.doc_id < b.doc_id
),
{_pagerank_ctes()}
SELECT node AS doc_id, r AS rank_int FROM pr{_PR_ITER}
""".strip(),
)
def pagerank_near_dup_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the MinHash-LSH near-dup graph — the
    cluster-representative signal beyond plain connected components (pick
    the most-linked member, not the min id). Exact integer fixed-point
    arithmetic end to end (contrib = r DIV deg, 85/100 damping as
    rationals), so three unrolled iterations hash-match the SQL twin with
    no float drift. Two shuffles per iteration on the node id; the
    symmetrized edge list materializes once and feeds all rounds."""
    from apache_beam_challange_spark.operators.graph import pagerank_int
    from apache_beam_challange_spark.plans.extensions import lsh_pair_graph

    cand = lsh_pair_graph(spark, sf_dir)
    return pagerank_int(cand, n_iter=_PR_ITER, scale=_PR_SCALE).select(
        F.col("node").alias("doc_id"), "rank_int"
    )


# --- unigram-LM surprise scoring -------------------------------------------


@query(
    "unigram_surprise_docs",
    oracle="""
WITH tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS n_t FROM tok GROUP BY token
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
doc AS (
    SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
           SUM(CAST(FLOOR(LN(tf.n_t) * 1000000000 + 0.5) AS BIGINT)) AS s_ln_fp
    FROM tok t JOIN tf ON tf.token = t.token
    GROUP BY t.doc_id
)
SELECT doc_id, n_tokens,
       ROUND(s_ln_fp / 1000000000.0 / n_tokens - (SELECT LN(n) FROM tot), 6)
           AS avg_logprob
FROM doc
ORDER BY avg_logprob ASC, doc_id
LIMIT 20
""".strip(),
)
def unigram_surprise_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model surprise — the shape of CCNet/Gopher
    perplexity filtering with the corpus itself as the LM: token
    probabilities from one corpus-wide count, each doc scored by its mean
    token log-probability, lowest-probability (most surprising / most
    out-of-distribution) docs surfaced for review. The vocabulary
    aggregate is zipf-small and EXPLICITLY broadcast into the token join
    (AQE would pick it up at test scale, but a web-scale vocab over the
    threshold must not silently fall back to a sort-merge shuffle on
    ``token`` — the most skewed key in the corpus; a corpus whose vocab
    genuinely outgrows broadcast would salt the hot tokens instead).
    Per-doc scoring is one key aggregation. Determinism: per-term
    ``ln(count)`` converts to fixed-point (1e9) BEFORE the sum, so the
    per-doc total is an exact bigint — engine- and summation-order-
    independent (the rollup/PageRank fixed-point pattern); only a fixed
    handful of per-value ulp coincidences could ever differ, not a
    scale-dependent accumulation."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    tf = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n_t"))
    tot = tok.agg(F.count(F.lit(1)).alias("n"))
    doc = (
        tok.join(F.broadcast(tf), "token")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.floor(F.log("n_t") * F.lit(1_000_000_000) + F.lit(0.5))
                .cast("long")
            ).alias("s_ln_fp"),
        )
    )
    return (
        doc.crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                F.col("s_ln_fp") / F.lit(1_000_000_000.0) / F.col("n_tokens")
                - F.log("n"),
                6,
            ).alias("avg_logprob"),
        )
        .orderBy(F.col("avg_logprob").asc(), F.col("doc_id"))
        .limit(20)
    )


# --- positional phrase search ----------------------------------------------

_PHRASE = ("row", "column", "sort")


@query(
    "phrase_search_positions",
    oracle=f"""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
pos AS (
    SELECT doc_id, unnest(generate_series(1, len(ts))) AS i, ts FROM tok
),
posting AS (SELECT doc_id, i, ts[i] AS token FROM pos),
p0 AS (SELECT doc_id, i FROM posting WHERE token = '{_PHRASE[0]}'),
p1 AS (SELECT doc_id, i - 1 AS i FROM posting WHERE token = '{_PHRASE[1]}'),
p2 AS (SELECT doc_id, i - 2 AS i FROM posting WHERE token = '{_PHRASE[2]}')
SELECT p0.doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches
FROM p0
JOIN p1 ON p0.doc_id = p1.doc_id AND p0.i = p1.i
JOIN p2 ON p0.doc_id = p2.doc_id AND p0.i = p2.i
GROUP BY p0.doc_id
""".strip(),
)
def phrase_search_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phrase search on a positional posting list: postings filter
    to the phrase's tokens FIRST (three tiny slices of the index), then
    adjacency is three equi-joins on (doc_id, normalized position) — the
    classic positional-index intersection, never a regex scan over full
    text. At rest the posting list is the inverted index the engine
    already materializes (`inverted_index_terms`); at query time cost is
    proportional to the phrase terms' posting sizes, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    posting = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), " ")).alias("i", "token"),
    )
    p0 = posting.filter(F.col("token") == _PHRASE[0]).select("doc_id", "i")
    p1 = posting.filter(F.col("token") == _PHRASE[1]).select(
        "doc_id", (F.col("i") - 1).alias("i")
    )
    p2 = posting.filter(F.col("token") == _PHRASE[2]).select(
        "doc_id", (F.col("i") - 2).alias("i")
    )
    return (
        p0.join(p1, ["doc_id", "i"])
        .join(p2, ["doc_id", "i"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
    )


# --- blocked fuzzy join (entity resolution) --------------------------------


#: Hard per-block candidate bound for the fuzzy join: blocks larger than
#: this are EXCLUDED from matching (standard record-linkage practice for
#: stop-word blocks — a hot block like every name ending "ltd" would
#: reopen the quadratic). Mirrored in the oracle, so the bound is part of
#: the operator's semantics, not an implementation accident. TPC-H part
#: name blocks stay well under this at every tested sf.
_FUZZY_BLOCK_CAP = 2000


def blocked_fuzzy_pairs(names: DataFrame, cap: int = _FUZZY_BLOCK_CAP) -> DataFrame:
    """Core of :func:`fuzzy_part_name_pairs` over any one-column ``p_name``
    DataFrame — factored out so the block-size bound is testable against a
    synthetic hot block."""
    blocked = names.select(
        "p_name",
        F.element_at(F.split(F.col("p_name"), " "), -1).alias("block"),
    )
    # enforce the bound: count per block, drop oversized blocks BEFORE
    # the self-join, so worst-case candidates are <= cap * n_blocks
    sizes = blocked.groupBy("block").agg(F.count(F.lit(1)).alias("_bn"))
    bounded = blocked.join(
        F.broadcast(sizes.filter(F.col("_bn") <= cap).select("block")),
        "block",
    )
    a = bounded.select(F.col("p_name").alias("name_1"), "block")
    b = bounded.select(F.col("p_name").alias("name_2"), "block")
    return (
        a.join(b, "block")
        .filter(F.col("name_1") < F.col("name_2"))
        .withColumn(
            "edit_dist", F.levenshtein(F.col("name_1"), F.col("name_2"))
        )
        .filter(F.col("edit_dist") <= 2)
        .select("name_1", "name_2", "edit_dist")
    )


@query(
    "fuzzy_part_name_pairs",
    oracle=f"""
WITH names AS (SELECT DISTINCT p_name FROM part),
blocked AS (
    SELECT p_name, string_split(p_name, ' ')[-1] AS block FROM names
),
bounded AS (
    SELECT p_name, block FROM blocked
    QUALIFY COUNT(*) OVER (PARTITION BY block) <= {_FUZZY_BLOCK_CAP}
)
SELECT a.p_name AS name_1, b.p_name AS name_2,
       CAST(levenshtein(a.p_name, b.p_name) AS INT) AS edit_dist
FROM bounded a
JOIN bounded b ON a.block = b.block AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) <= 2
""".strip(),
)
def fuzzy_part_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy join: near-identical part names within
    Levenshtein distance 2, BLOCKED on the name's last token so the
    comparison is an equi-join within blocks — the standard blocking
    discipline that keeps record linkage linear-ish instead of all-pairs
    (candidate count is sum of block-size squares, bounded by the
    blocking key's selectivity, not n^2). Distinct-name dedup first so
    the quadratic term is over ENTITIES, not rows. Blocks larger than
    ``_FUZZY_BLOCK_CAP`` are excluded (oracle-mirrored), making the
    quadratic bound ENFORCED rather than assumed on hot-key corpora."""
    part = load_table(spark, sf_dir, "part")
    return blocked_fuzzy_pairs(part.select("p_name").distinct())


# --- deterministic per-group fixed-k sample --------------------------------


@query(
    "per_lang_doc_sample",
    oracle="""
SELECT lang, doc_id, CAST(rn AS BIGINT) AS sample_rank
FROM (
    SELECT lang, doc_id,
           ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS rn
    FROM documents
) t
WHERE rn <= 5
""".strip(),
)
def per_lang_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fixed-k per-stratum sample (the reservoir-sampling
    use case without reservoir state): rank each language's docs by the
    md5 of their id — a content-addressed stand-in for a uniform draw —
    and keep the first k=5. Stable across reshuffles/retries/engines like
    every sampling op here; one key-partitioned window, no RNG. The
    eyeball-sample every curation pipeline pulls per shard/language."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= 5)
    )


# --- BM25 lexical retrieval ------------------------------------------------

#: Fixed text query for the retrieval demos (a "user query" in the data's
#: vocabulary); k1/b are the standard Robertson defaults as exact decimals.
_BM25_QUERY = ("row", "column", "sort", "merge", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75

_BM25_CTE = f"""
tok AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents
),
doclen AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY doc_id
),
stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(dl) AS BIGINT) AS total_tokens
    FROM doclen
),
qtf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok
    WHERE term IN {_BM25_QUERY!r}
    GROUP BY doc_id, term
),
qdf AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM qtf GROUP BY term
),
bm25 AS (
    SELECT q.doc_id,
           ROUND(SUM(CAST(FLOOR(
               LN((s.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0)
               * q.tf * ({_BM25_K1} + 1.0)
               / (q.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                   + {_BM25_B} * l.dl * s.n_docs / s.total_tokens))
               * 1000000000 + 0.5) AS BIGINT)) / 1000000000.0, 6) AS score
    FROM qtf q
    JOIN qdf d ON d.term = q.term
    JOIN doclen l ON l.doc_id = q.doc_id
    CROSS JOIN stats s
    GROUP BY q.doc_id
)
""".strip()


def _bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full BM25-scored (doc_id, score) table for the fixed query — the
    shared scoring arm of :func:`bm25_top_docs` and
    :func:`hybrid_rrf_vec0` (which cut at different depths)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    )
    doclen = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = doclen.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
    )
    qtf = (
        tok.filter(F.col("term").isin(list(_BM25_QUERY)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    qdf = qtf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    denom = F.col("tf") + _BM25_K1 * (
        1.0
        - _BM25_B
        + _BM25_B * F.col("dl") * F.col("n_docs") / F.col("total_tokens")
    )
    # per-(doc, term) score -> fixed-point bigint BEFORE the sum: each
    # term value is a deterministic double from exact integer inputs, and
    # summing bigints makes the per-doc total independent of partial-
    # aggregation order in either engine (ADVICE r4 determinism note)
    term_fp = F.floor(
        idf
        * F.col("tf")
        * (_BM25_K1 + 1.0)
        / denom
        * F.lit(1_000_000_000)
        + F.lit(0.5)
    ).cast("long")
    return (
        qtf.join(F.broadcast(qdf), "term")
        .join(doclen, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(term_fp) / F.lit(1_000_000_000.0), 6).alias(
                "score"
            )
        )
    )


@query(
    "bm25_top_docs",
    oracle=f"""
WITH {_BM25_CTE}
SELECT doc_id, score FROM bm25
ORDER BY score DESC, doc_id
LIMIT 20
""".strip(),
)
def bm25_top_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval (Robertson k1=1.2, b=0.75, Lucene's +1 IDF)
    for a fixed multi-term query. Scale shape: per-(doc, term) counts
    filter to the QUERY terms before any join (posting-list discipline —
    cost tracks the query terms' postings, not the corpus); doc length
    and corpus stats are one reusable aggregation, broadcast as scalars.
    Every score input is an exact integer (tf, df, dl, N, Σdl), each
    per-term double converts to fixed-point (1e9) before the sum so the
    per-doc total is an order-independent bigint, and scores round
    BEFORE the ranking cut."""
    return (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(20)
    )


# --- hybrid retrieval: reciprocal rank fusion ------------------------------

_RRF_K = 60
_RRF_DEPTH = 50


@query(
    "hybrid_rrf_vec0",
    oracle=f"""
WITH {_BM25_CTE},
lex AS (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
    FROM bm25
    ORDER BY score DESC, doc_id
    LIMIT {_RRF_DEPTH}
),
vecs AS (
    SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
qv AS (SELECT v AS qvec FROM vecs WHERE vec_id = 0),
sim AS (
    SELECT vec_id,
           ROUND(list_cosine_similarity(v, (SELECT qvec FROM qv)), 6) AS cs
    FROM vecs WHERE vec_id <> 0
),
vec AS (
    SELECT vec_id AS doc_id,
           ROW_NUMBER() OVER (ORDER BY cs DESC, vec_id) AS r
    FROM sim
    ORDER BY cs DESC, vec_id
    LIMIT {_RRF_DEPTH}
),
fused AS (
    SELECT COALESCE(l.doc_id, v.doc_id) AS doc_id,
           ROUND(COALESCE(1.0 / ({_RRF_K} + l.r), 0)
                 + COALESCE(1.0 / ({_RRF_K} + v.r), 0), 6) AS rrf_score
    FROM lex l FULL OUTER JOIN vec v ON l.doc_id = v.doc_id
)
SELECT doc_id, rrf_score FROM fused
ORDER BY rrf_score DESC, doc_id
LIMIT 20
""".strip(),
)
def hybrid_rrf_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval — the modern RAG stack as one relational plan:
    BM25 ranks the text query, exact cosine ranks the query embedding
    (vec 0), and reciprocal rank fusion (k=60, Cormack et al. SIGIR'09)
    merges the two top-50 lists on a FULL OUTER join of INTEGER ranks.
    Fusing ranks (not scores) sidesteps cross-scorer calibration and
    makes the fusion arithmetic deterministic: 1/(60+r) from exact ints,
    rounded before the final cut. Both arms are the engine's existing
    retrieval operators; the fusion adds one tiny join over two
    top-depth lists."""
    from apache_beam_challange_spark.operators.similarity import knn_join_exact

    lex = (
        _bm25_scores(spark, sf_dir)
        .orderBy(F.col("score").desc(), F.col("doc_id"))
        .limit(_RRF_DEPTH)
        .select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), F.col("doc_id")))
            .alias("r_lex"),
        )
    )
    emb = load_table(spark, sf_dir, "embeddings")
    vec = knn_join_exact(emb, [0], _RRF_DEPTH).select(
        F.col("vec_id").alias("doc_id"),
        F.row_number()
        .over(Window.orderBy(F.col("cosine_sim").desc(), F.col("vec_id")))
        .alias("r_vec"),
    )
    fused = (
        lex.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.round(
                F.coalesce(1.0 / (_RRF_K + F.col("r_lex")), F.lit(0.0))
                + F.coalesce(1.0 / (_RRF_K + F.col("r_vec")), F.lit(0.0)),
                6,
            ).alias("rrf_score"),
        )
    )
    return fused.orderBy(F.col("rrf_score").desc(), F.col("doc_id")).limit(20)


# --- OHLC downsampling bars ------------------------------------------------


@query(
    "ohlc_hourly_value_bars",
    oracle="""
WITH ranked AS (
    SELECT date_trunc('hour', ts) AS hour, value,
           ROW_NUMBER() OVER (
               PARTITION BY date_trunc('hour', ts) ORDER BY ts, event_id
           ) AS rn_a,
           ROW_NUMBER() OVER (
               PARTITION BY date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC
           ) AS rn_d
    FROM events
)
SELECT hour,
       MIN(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MIN(CASE WHEN rn_d = 1 THEN value END) AS close,
       CAST(COUNT(*) AS BIGINT) AS n_events
FROM ranked
GROUP BY hour
""".strip(),
)
def ohlc_hourly_value_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling bars — the time-series compaction every metrics
    store runs: per hour, the first (open) and last (close) value by
    event time plus min/max, in ONE aggregation pass via min_by/max_by
    (no window, no self-join; open/close tie-break on (ts, event_id) so
    the bar is deterministic under concurrent timestamps). Mergeable
    shard-wise like any min/max aggregate."""
    ev = load_table(spark, sf_dir, "events")
    key = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy(
        F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour")
    ).agg(
        F.min_by(F.col("value"), key).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max_by(F.col("value"), key).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


# --- SCD type-2 history (round 5) ------------------------------------------


@query(
    "scd2_event_type_history",
    oracle="""
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_type
    FROM events
),
numbered AS (
    SELECT user_id, ts, event_type,
           SUM(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                    THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS ver
    FROM ordered
),
versions AS (
    SELECT user_id, event_type, ver,
           MIN(ts) AS valid_from, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM numbered
    GROUP BY user_id, event_type, ver
)
SELECT user_id, event_type, valid_from,
       LEAD(valid_from) OVER (
           PARTITION BY user_id ORDER BY valid_from
       ) AS valid_to,
       CAST(CASE WHEN LEAD(valid_from) OVER (
           PARTITION BY user_id ORDER BY valid_from
       ) IS NULL THEN 1 ELSE 0 END AS INT) AS is_current,
       n_events
FROM versions
""".strip(),
)
def scd2_event_type_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history build — the batch twin of
    ``latest_event_per_user`` (SCD-1): consecutive runs of the same
    event_type per user collapse into versioned rows carrying
    ``valid_from`` / ``valid_to`` (LEAD of the next version's start;
    NULL + ``is_current=1`` on the open row). Change detection (LAG),
    island numbering (running SUM), version fold (groupBy) and interval
    assembly (LEAD) all share ONE hash-partitioning on user_id — a
    single shuffle end to end at any scale, the same plan discipline as
    ``batch_sessionize_events``. This is how a change feed becomes a
    point-in-time-queryable dimension at rest."""
    ev = load_table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        F.when(
            F.lag("event_type").over(order_w).isNull()
            | (F.lag("event_type").over(order_w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
        .alias("chg")
    )
    numbered = ev.select("user_id", "ts", "event_id", "event_type", changed).select(
        "user_id",
        "ts",
        "event_type",
        F.sum("chg")
        .over(order_w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("ver"),
    )
    versions = numbered.groupBy("user_id", "event_type", "ver").agg(
        F.min("ts").alias("valid_from"),
        F.count(F.lit(1)).alias("n_events"),
    )
    interval_w = Window.partitionBy("user_id").orderBy("valid_from")
    valid_to = F.lead("valid_from").over(interval_w)
    return versions.select(
        "user_id",
        "event_type",
        "valid_from",
        valid_to.alias("valid_to"),
        F.when(valid_to.isNull(), 1).otherwise(0).cast("int").alias("is_current"),
        "n_events",
    )


# --- data-quality quarantine routing (round 5) -----------------------------


@query(
    "quarantine_rule_counts",
    oracle="""
WITH flags AS (
    SELECT CASE WHEN value > 400 THEN 1 ELSE 0 END AS f_value,
           CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS f_err,
           CASE WHEN props IS NULL OR NOT json_valid(props) THEN 1
                ELSE 0 END AS f_malformed,
           CASE WHEN props IS NOT NULL AND json_valid(props)
                 AND CAST(json_extract_string(props, '$.k') AS INT) > 80
                THEN 1 ELSE 0 END AS f_props
    FROM events
),
agg AS (
    SELECT CAST(SUM(f_value) AS BIGINT) AS a, CAST(SUM(f_err) AS BIGINT) AS b,
           CAST(SUM(f_props) AS BIGINT) AS c,
           CAST(SUM(f_malformed) AS BIGINT) AS m,
           CAST(SUM(CASE WHEN f_value = 0 AND f_err = 0 AND f_props = 0
                          AND f_malformed = 0
                    THEN 1 ELSE 0 END) AS BIGINT) AS d
    FROM flags
)
SELECT 'value_above_400' AS rule, a AS n_rows FROM agg
UNION ALL SELECT 'error_type', b FROM agg
UNION ALL SELECT 'props_k_above_80', c FROM agg
UNION ALL SELECT 'props_malformed', m FROM agg
UNION ALL SELECT 'clean', d FROM agg
""".strip(),
)
def quarantine_rule_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality quarantine routing — the dead-letter accounting every
    ingestion pipeline runs before rows reach the lake: each rule's
    violation count plus the clean remainder, computed in ONE scan and
    ONE partial-aggregated reduction (per-rule SUM(CASE) flags folded
    map-side; the per-rule rows come from a 4-row stack unpivot of the
    single aggregate row — no explode over the fact table, no second
    scan per rule). Rules exercise range (value), domain (event_type)
    nested-JSON (props.k) and malformed-payload checks; a malformed or
    NULL props is quarantined by its own explicit rule (true fail-closed
    — the extractor's silent NULL previously let such rows route as
    clean), while a valid object merely missing the optional key stays
    clean. The oracle guards its extractor behind json_valid because
    DuckDB ERRORS on malformed JSON rather than returning NULL. Rule
    definitions are shared with the streaming dead-letter router
    (functions/quality.py), so accounting and routing cannot drift."""
    from apache_beam_challange_spark.functions.quality import QUALITY_RULES

    ev = load_table(spark, sf_dir, "events")
    f_value = F.when(QUALITY_RULES["value_above_400"](), 1).otherwise(0)
    f_err = F.when(QUALITY_RULES["error_type"](), 1).otherwise(0)
    f_props = F.when(QUALITY_RULES["props_k_above_80"](), 1).otherwise(0)
    f_malformed = F.when(QUALITY_RULES["props_malformed"](), 1).otherwise(0)
    agg = ev.select(
        f_value.alias("f_value"),
        f_err.alias("f_err"),
        f_props.alias("f_props"),
        f_malformed.alias("f_malformed"),
    ).agg(
        F.sum("f_value").alias("a"),
        F.sum("f_err").alias("b"),
        F.sum("f_props").alias("c"),
        F.sum("f_malformed").alias("m"),
        F.sum(
            F.when(
                (F.col("f_value") == 0)
                & (F.col("f_err") == 0)
                & (F.col("f_props") == 0)
                & (F.col("f_malformed") == 0),
                1,
            ).otherwise(0)
        ).alias("d"),
    )
    return agg.selectExpr(
        "stack(5, 'value_above_400', a, 'error_type', b, "
        "'props_k_above_80', c, 'props_malformed', m, 'clean', d) "
        "AS (rule, n_rows)"
    )


# --- benchmark decontamination (round 5) -----------------------------------


@query(
    "benchmark_contamination_topk",
    oracle="""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS ts FROM documents
),
grams AS (
    SELECT DISTINCT doc_id, array_to_string(ts[i:i+2], ' ') AS g
    FROM toks, LATERAL (
        SELECT unnest(generate_series(1, len(ts) - 2)) AS i
    ) x
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 20 = 0),
corpus AS (SELECT doc_id, g FROM grams WHERE doc_id % 20 <> 0),
tot AS (
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS total_ngrams
    FROM corpus GROUP BY doc_id
),
m AS (
    SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS matched_ngrams
    FROM corpus c JOIN bench b ON b.g = c.g
    GROUP BY c.doc_id
)
SELECT t.doc_id, matched_ngrams, total_ngrams,
       ROUND(CAST(matched_ngrams AS DOUBLE) / total_ngrams, 6)
           AS contamination
FROM tot t JOIN m ON m.doc_id = t.doc_id
ORDER BY contamination DESC, t.doc_id
LIMIT 20
""".strip(),
)
def benchmark_contamination_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the n-gram-overlap check every serious
    pretraining pipeline runs before training (GPT-3 appendix C / Dolma
    style): a held-out "benchmark" slice (content-addressed: doc_id %% 20
    == 0 stands in for the eval set) contributes its DISTINCT word
    n-grams; every corpus doc is scored by the fraction of its distinct
    n-grams that appear in the benchmark set, and the most-contaminated
    docs surface for removal. Scale shape: the benchmark n-gram set is
    small by construction (eval sets are tiny next to the corpus) and
    BROADCASTS into the corpus n-gram stream — the corpus side never
    shuffles except for its two per-doc aggregations; n=3 here because
    the synthetic corpus is short-doc (real pipelines use 8-13), the
    plan is parameter-independent."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.split(F.col("text"), " ").alias("ts"))
    grams = (
        toks.filter(F.size("ts") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(ts) - 2),"
                    " i -> concat_ws(' ', slice(ts, i, 3)))"
                )
            ).alias("g"),
        )
        .dropDuplicates(["doc_id", "g"])
    )
    bench = (
        grams.filter(F.col("doc_id") % 20 == 0).select("g").distinct()
    )
    corpus = grams.filter(F.col("doc_id") % 20 != 0)
    tot = corpus.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("total_ngrams")
    )
    matched = (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("matched_ngrams"))
    )
    return (
        tot.join(matched, "doc_id")
        .select(
            "doc_id",
            "matched_ngrams",
            "total_ngrams",
            F.round(
                F.col("matched_ngrams").cast("double")
                / F.col("total_ngrams"),
                6,
            ).alias("contamination"),
        )
        .orderBy(F.col("contamination").desc(), F.col("doc_id"))
        .limit(20)
    )


# --- end-to-end curation funnel (round 5) ----------------------------------


@query(
    "curation_funnel_by_lang",
    oracle=f"""
WITH staged AS (
    SELECT lang,
           ROW_NUMBER() OVER (
               PARTITION BY md5(array_to_string(string_split(text, ' ')[1:8], ' '))
               ORDER BY doc_id
           ) AS rn,
           {QUALITY_SCORE_SQL} AS q,
           LEN(STRING_SPLIT(text, ' ')) AS n_tok
    FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dedup,
       CAST(SUM(CASE WHEN rn = 1 AND q >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_kept,
       CAST(SUM(CASE WHEN rn = 1 AND q >= 0.5 THEN n_tok ELSE 0 END)
           AS BIGINT) AS tokens_kept
FROM staged
GROUP BY lang
""".strip(),
)
def curation_funnel_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation pipeline END TO END as one relational plan — the
    composition every training-data run executes: prefix-fingerprint
    dedup (md5 of the first 8 tokens — the cheap prefix-dup detector;
    keep-first by doc_id) -> surface-quality gate (the engine's
    deterministic quality score, cut at 0.5) -> per-language accounting
    of documents and tokens surviving each stage. Two shuffles total at
    any scale: the fingerprint window and the per-language aggregation —
    the stages FUSE into one pass over the corpus instead of three
    materialized intermediate tables, which is the point of declaring
    the funnel to one optimizer."""
    docs = load_table(spark, sf_dir, "documents")
    fp = F.md5(F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 8)))
    w = Window.partitionBy(fp).orderBy("doc_id")
    staged = docs.select(
        "lang",
        F.row_number().over(w).alias("rn"),
        quality_score(F.col("text")).alias("q"),
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    )
    kept = (F.col("rn") == 1) & (F.col("q") >= 0.5)
    return staged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).alias("n_dedup"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(kept, F.col("n_tok")).otherwise(0)).alias("tokens_kept"),
    )


# --- attribution delay quantiles ---------------------------------------------


@query(
    "attribution_delay_quantiles",
    oracle="""
WITH pairs AS (
    SELECT date_diff('second', c.ts, p.ts) AS delay_sec
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON c.user_id = p.user_id
     AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 30 MINUTE
),
counts AS (
    SELECT delay_sec, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM pairs GROUP BY delay_sec
),
cum AS (
    SELECT delay_sec,
           SUM(cnt) OVER (ORDER BY delay_sec
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c,
           CAST(SUM(cnt) OVER () AS BIGINT) AS n
    FROM counts
)
SELECT n AS n_pairs,
       CAST(MIN(CASE WHEN c >= (n + 3) // 4 THEN delay_sec END) AS BIGINT)
           AS p25_sec,
       CAST(MIN(CASE WHEN c >= (n + 1) // 2 THEN delay_sec END) AS BIGINT)
           AS p50_sec,
       CAST(MIN(CASE WHEN c >= (3 * n + 3) // 4 THEN delay_sec END) AS BIGINT)
           AS p75_sec,
       CAST(MIN(CASE WHEN c >= (9 * n + 9) // 10 THEN delay_sec END) AS BIGINT)
           AS p90_sec
FROM cum
GROUP BY n
""".strip(),
)
def attribution_delay_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact click-to-purchase delay quantiles over the attribution pairs
    (the same 30-minute interval join the stream-stream family runs,
    batch-side): p25/p50/p75/p90 by EXPLICIT rank indexing —
    ``rank = ceil(q * n)`` on the ordered delays, identical integer
    arithmetic in both engines (the rolling-median discipline: never
    trust two engines' quantile interpolation conventions to agree).
    One equi-join with a range predicate, a per-delay count (map-side
    combined — the delay domain is bounded at 1800 values by the
    30-minute window), a cumulative window over that tiny table, one
    1-row summary. Never a global sort of the raw pairs."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("c_ts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user_id"), F.col("ts").alias("p_ts")
    )
    pairs = c.join(
        p,
        (F.col("user_id") == F.col("p_user_id"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") < F.col("c_ts") + F.expr("INTERVAL 30 MINUTE")),
    ).select(
        # NTZ has no direct long cast; via tz-typed timestamp (session is
        # pinned UTC, so this is a wall-clock identity — the stream-join
        # family's established spelling)
        (
            F.col("p_ts").cast("timestamp").cast("long")
            - F.col("c_ts").cast("timestamp").cast("long")
        ).alias("delay_sec")
    )
    # per-delay counts first: the delay domain is BOUNDED by the window
    # (30 min = at most 1800 distinct second values), so the cumulative
    # window runs over a provably tiny post-aggregation table — never a
    # global sort of the raw pair rows
    counts = pairs.groupBy("delay_sec").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w_cum = Window.orderBy("delay_sec").rowsBetween(
        Window.unboundedPreceding, 0
    )
    w_all = Window.partitionBy()
    cum = counts.select(
        "delay_sec",
        F.sum("cnt").over(w_cum).alias("c"),
        F.sum("cnt").over(w_all).cast("long").alias("n"),
    )

    def q_at(num: int, den: int) -> F.Column:
        # rank = ceil((num/den) * n) via exact integers: (num*n + den-1) div den;
        # the quantile is the smallest delay whose cumulative count reaches it
        target = F.floor((num * F.col("n") + (den - 1)) / den).cast("long")
        return (
            F.min(F.when(F.col("c") >= target, F.col("delay_sec")))
            .cast("long")
        )

    return (
        cum.groupBy("n")
        .agg(
            q_at(1, 4).alias("p25_sec"),
            q_at(1, 2).alias("p50_sec"),
            q_at(3, 4).alias("p75_sec"),
            q_at(9, 10).alias("p90_sec"),
        )
        .select(
            F.col("n").alias("n_pairs"), "p25_sec", "p50_sec", "p75_sec", "p90_sec"
        )
    )


# --- week-over-week revenue --------------------------------------------------


@query(
    "weekly_revenue_wow",
    oracle="""
WITH weekly AS (
    SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS week_start,
           SUM(CAST(FLOOR(o_totalprice * 10000 + 0.5) AS BIGINT)) / 10000.0
               AS revenue
    FROM orders
    GROUP BY CAST(date_trunc('week', o_orderdate) AS DATE)
)
SELECT week_start, revenue,
       ROUND(CASE WHEN LAG(revenue) OVER (ORDER BY week_start) > 0
                  THEN (revenue - LAG(revenue) OVER (ORDER BY week_start))
                       / LAG(revenue) OVER (ORDER BY week_start)
             END, 6) AS wow_change,
       ROUND(AVG(revenue) OVER (
           ORDER BY week_start ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
       ), 4) AS revenue_4wk_avg
FROM weekly
ORDER BY week_start
""".strip(),
)
def weekly_revenue_wow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue reporting — the everyday business-metric
    shape (weekly rollup, LAG percent change, 4-week trailing average)
    every analytics engine must do well. The weekly rollup is the only
    fact-table shuffle (exact fixed-point sum, the `_dec_sum`
    discipline); the LAG and moving-average windows run over the
    ~350-row post-aggregation weekly table (the established small-input
    global-window class)."""
    o = load_table(spark, sf_dir, "orders")
    weekly = o.groupBy(
        F.date_trunc("week", F.col("o_orderdate")).cast("date").alias(
            "week_start"
        )
    ).agg(
        (
            F.sum(
                F.floor(F.col("o_totalprice") * 10000 + F.lit(0.5)).cast("long")
            )
            / 10000.0
        ).alias("revenue")
    )
    w = Window.orderBy("week_start")
    prev = F.lag("revenue").over(w)
    return weekly.select(
        "week_start",
        "revenue",
        F.round(
            F.when(prev > 0, (F.col("revenue") - prev) / prev), 6
        ).alias("wow_change"),
        F.round(
            F.avg("revenue").over(w.rowsBetween(-3, 0)), 4
        ).alias("revenue_4wk_avg"),
    ).orderBy("week_start")


# --- temperature-scaled training-mix allocation -------------------------------

#: total sampling budget to apportion across languages (docs, tokens —
#: unit-agnostic) and the smoothing exponent alpha = 1/2 (the
#: multilingual-LM upsampling literature uses alpha in [0.2, 0.7]:
#: q_s ~ p_s^alpha lifts low-resource groups; Conneau & Lample 2019,
#: Arivazhagan et al. 2019 — public literature). sqrt is the one
#: fractional power both engines evaluate bit-identically.
_MIX_BUDGET = 10_000


@query(
    "lang_mixing_allocation",
    oracle=f"""
WITH mass AS (
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS chars
    FROM documents
    GROUP BY lang
),
weighted AS (
    SELECT lang, n_docs, chars,
           CAST(FLOOR(SQRT(chars) * 1000000) AS BIGINT) AS weight_micro
    FROM mass
),
totals AS (
    SELECT SUM(weight_micro) AS tot_w FROM weighted
),
shares AS (
    -- n_floor must stay exact past 2^53, where a double division can
    -- land at k-epsilon (Spark truncates to k-1) or k+epsilon (DuckDB's
    -- rounding CAST gives k). Neither dialect shares an integer-division
    -- operator (Spark: div, DuckDB: //), so both get the double ESTIMATE
    -- plus a pure-bigint correction: the true quotient is <= the budget
    -- (10^4), so the double estimate is within +-1 of the floor and one
    -- CASE step pins it exactly.
    SELECT lang, n_docs, chars, weight_micro,
           q0 + CASE WHEN (q0 + 1) * tot_w <= num THEN 1
                     WHEN q0 * tot_w > num THEN -1
                     ELSE 0 END AS n_floor,
           MOD(num, tot_w) AS rem
    FROM (
        SELECT w.lang, w.n_docs, w.chars, w.weight_micro, t.tot_w,
               {_MIX_BUDGET} * w.weight_micro AS num,
               CAST(FLOOR(CAST({_MIX_BUDGET} * w.weight_micro AS DOUBLE)
                          / t.tot_w) AS BIGINT) AS q0
        FROM weighted w CROSS JOIN totals t
    )
),
ranked AS (
    SELECT lang, n_docs, chars, weight_micro, n_floor,
           ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rk,
           {_MIX_BUDGET} - SUM(n_floor) OVER () AS leftover
    FROM shares
)
SELECT lang, n_docs, chars, weight_micro,
       n_floor + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS alloc
FROM ranked
ORDER BY lang
""".strip(),
)
def lang_mixing_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled training-data mixing: apportion a fixed
    sampling budget across languages with alpha=0.5 smoothing
    (q_s ~ mass_s^alpha — the multilingual-LM upsampling rule that
    lifts low-resource groups; on this corpus en holds 43% of the
    char mass raw but ~32% smoothed) and EXACT largest-remainder
    (Hamilton) apportionment, so the integer allocations sum to the
    budget exactly.

    Engine-exact end to end: per-language char mass is an exact bigint
    sum, the smoothed weight is FLOOR(sqrt(mass)*1e6) (one IEEE sqrt —
    bit-stable in both engines), and floor/remainder come from bigint
    integer arithmetic — the engine uses Spark's native ``div``, and the
    oracle (which must also run verbatim on Spark SQL, where ``//`` does
    not exist) corrects a double ESTIMATE with one bigint CASE step,
    exact unconditionally because the quotient is bounded by the budget
    (ADVICE r7: the old (num - MOD)/tot double round-trip was exact only
    below 2^53). No float comparison anywhere; ties in the remainder
    ranking break on lang.

    Scale shape: one map-side-combined groupBy on lang, a 1-row total
    broadcast back, and the apportionment window runs over the
    LANGUAGE-bounded weight table (5 rows; bounded like the calendar
    and vocab windows). Facade-portable: this text runs verbatim on
    Spark SQL."""
    docs = load_table(spark, sf_dir, "documents")
    mass = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.col("n_chars").cast("long")).cast("long").alias("chars"),
    )
    weighted = mass.select(
        "lang",
        "n_docs",
        "chars",
        F.floor(F.sqrt(F.col("chars")) * 1000000).cast("long").alias(
            "weight_micro"
        ),
    )
    return hamilton_apportion(weighted, _MIX_BUDGET)


def hamilton_apportion(weighted: DataFrame, budget: int) -> DataFrame:
    """Largest-remainder apportionment of ``budget`` across the rows of
    ``weighted`` (key col ``lang``, passthrough cols ``n_docs``/``chars``,
    positive bigint ``weight_micro``): exact bigint floor/remainder, ties
    broken on the key. Extracted so tests/test_properties.py can drive it
    over generated weight tables (quota rule: every alloc within 1 of its
    real share; allocs sum EXACTLY to the budget)."""
    totals = weighted.agg(F.sum("weight_micro").alias("tot_w"))
    # Native bigint integer division (truncation == floor for positive
    # operands) — no double round-trip, exact for any int64 numerator
    # (ADVICE r7: the old (num - num % tot)/tot cast was exact only while
    # budget*weight_micro < 2^53).
    shares = weighted.crossJoin(F.broadcast(totals)).select(
        "lang",
        "n_docs",
        "chars",
        "weight_micro",
        F.expr(f"({budget} * weight_micro) div tot_w").alias("n_floor"),
        F.expr(f"({budget} * weight_micro) % tot_w").alias("rem"),
    )
    w_all = Window.partitionBy()
    ranked = shares.select(
        "lang",
        "n_docs",
        "chars",
        "weight_micro",
        "n_floor",
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), F.col("lang")))
        .alias("rk"),
        (F.lit(budget) - F.sum("n_floor").over(w_all)).alias("leftover"),
    )
    return ranked.select(
        "lang",
        "n_docs",
        "chars",
        "weight_micro",
        (
            F.col("n_floor")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        ).alias("alloc"),
    ).orderBy("lang")


# --- point-in-time SCD2 enrichment (temporal dimension join) ----------------

_PIT_SQL = """
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev_type
    FROM events
),
numbered AS (
    SELECT user_id, ts, event_type,
           SUM(CASE WHEN prev_type IS NULL OR prev_type <> event_type
                    THEN 1 ELSE 0 END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS ver
    FROM ordered
),
versions AS (
    SELECT user_id, event_type, ver, MIN(ts) AS valid_from
    FROM numbered
    GROUP BY user_id, event_type, ver
),
dim AS (
    SELECT user_id, event_type, ver, valid_from,
           LEAD(valid_from) OVER (
               PARTITION BY user_id ORDER BY valid_from, ver
           ) AS valid_to
    FROM versions
)
SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
       v.event_type AS state_type, v.valid_from AS state_valid_from
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
LEFT JOIN dim v
  ON v.user_id = p.user_id
 AND v.valid_from <= p.ts - INTERVAL 1 HOUR
 AND (v.valid_to > p.ts - INTERVAL 1 HOUR OR v.valid_to IS NULL)
ORDER BY purchase_id
""".strip()


@query("pit_scd2_state_before_purchase", oracle=_PIT_SQL)
def pit_scd2_state_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) dimension join — the lakehouse pattern
    ``scd2_event_type_history`` exists to serve: enrich every purchase
    with the SCD2 state version that was active ONE HOUR BEFORE it
    (training-feature discipline: join features as-of a cutoff, never
    leak the future). The oracle states the textbook interval
    predicate (``valid_from <= t < valid_to``); the engine executes the
    SCALE shape instead — the union + LOCF as-of trick: version-start
    rows and probe rows interleave in one per-user stream, sorted once
    (dim rows first on ties, ver-ordered, matching the half-open
    interval semantics exactly — a zero-length version is immediately
    overwritten by its successor in the same frame), and one
    ``last(struct) IGNORE NULLS`` window carries the active version
    onto each probe. ONE shuffle on user_id total, no interval join, no
    per-probe re-scan; probes before the first version keep NULL state.
    Same discipline as ``asof_join_last_event_per_order`` applied to a
    versioned dimension."""
    ev = load_table(spark, sf_dir, "events")
    order_w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changed = (
        F.when(
            F.lag("event_type").over(order_w).isNull()
            | (F.lag("event_type").over(order_w) != F.col("event_type")),
            1,
        )
        .otherwise(0)
    )
    numbered = ev.withColumn(
        "ver",
        F.sum(changed).over(
            order_w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    versions = numbered.groupBy("user_id", "event_type", "ver").agg(
        F.min("ts").alias("valid_from")
    )
    dim_rows = versions.select(
        "user_id",
        F.col("valid_from").alias("t"),
        F.lit(1).alias("is_dim"),
        "ver",
        F.struct(
            F.col("event_type").alias("state_type"),
            F.col("valid_from").alias("state_valid_from"),
        ).alias("state"),
        F.lit(None).cast("long").alias("purchase_id"),
        F.lit(None).cast("timestamp_ntz").alias("purchase_ts"),
    )
    probes = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("t"),
        F.lit(0).alias("is_dim"),
        F.lit(None).cast("bigint").alias("ver"),
        F.lit(None)
        .cast("struct<state_type:string,state_valid_from:timestamp_ntz>")
        .alias("state"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    merged = dim_rows.unionByName(probes)
    locf_w = (
        Window.partitionBy("user_id")
        .orderBy("t", F.col("is_dim").desc(), "ver")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        merged.withColumn(
            "active", F.last("state", ignorenulls=True).over(locf_w)
        )
        .filter(F.col("is_dim") == 0)
        .select(
            "purchase_id",
            "user_id",
            "purchase_ts",
            F.col("active.state_type").alias("state_type"),
            F.col("active.state_valid_from").alias("state_valid_from"),
        )
        .orderBy("purchase_id")
    )


# --- Gini / Lorenz inequality audit -------------------------------------------

_GINI_SQL = """
WITH rev AS (
    SELECT c.c_custkey, n.n_name,
           CAST(COALESCE(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5)
                                  AS BIGINT)), 0) AS BIGINT) AS rev_c
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, n.n_name
),
nat AS (
    SELECT n_name AS scope, c_custkey, rev_c,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY n_name ORDER BY rev_c, c_custkey
           ) AS BIGINT) AS rnk
    FROM rev
),
gl AS (
    SELECT 'ALL' AS scope, c_custkey, rev_c,
           CAST(ROW_NUMBER() OVER (ORDER BY rev_c, c_custkey) AS BIGINT) AS rnk
    FROM rev
),
scoped AS (SELECT * FROM nat UNION ALL SELECT * FROM gl)
SELECT scope,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(rev_c) AS BIGINT) AS total_c,
       CAST(2 * SUM(CAST(rnk AS DECIMAL(38, 0)) * CAST(rev_c AS DECIMAL(38, 0)))
            - CAST(COUNT(*) + 1 AS DECIMAL(38, 0)) * SUM(CAST(rev_c AS DECIMAL(38, 0)))
            AS DOUBLE)
       / CAST(CAST(COUNT(*) AS DECIMAL(38, 0))
              * SUM(CAST(rev_c AS DECIMAL(38, 0))) AS DOUBLE) AS gini
FROM scoped
GROUP BY scope
ORDER BY scope
""".strip()


@query("gini_revenue_inequality", oracle=_GINI_SQL)
def gini_revenue_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue — per nation AND globally —
    via the exact rank formula G = (2*sum(i*x_(i)) - (n+1)*sum(x)) /
    (n*sum(x)): the inequality audit behind data-mix decisions (how
    concentrated is a source / customer base), computed with zero
    float ambiguity — revenues are int64 cents, the rank-weighted sum
    runs in DECIMAL(38,0), and exactly ONE double division happens at
    the end. Per-nation ranks come from nation-partitioned windows
    (scale-safe); the GLOBAL ranks come from the distributed numbering
    primitive (``assign_global_row_ids``) — the second composed
    consumer of the primitive since its round-8 exchange-reuse fix,
    exercising exactly the composition shape that used to corrupt.
    Zero-order customers count with rev 0 (LEFT join + coalesce), as
    the textbook population Gini requires."""
    from apache_beam_challange_spark.plans.coverage import (
        assign_global_row_ids,
    )

    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("price_c"),
    )
    rev = (
        cust.join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey", "n_name")
        .agg(F.coalesce(F.sum("price_c"), F.lit(0)).cast("long").alias("rev_c"))
        .localCheckpoint()
    )
    dec = "decimal(38,0)"

    def gini_agg(df):
        s0 = F.sum(F.col("rev_c").cast(dec))
        s1 = F.sum(F.col("rnk").cast(dec) * F.col("rev_c").cast(dec))
        n = F.count(F.lit(1))
        return df.groupBy("scope").agg(
            n.alias("n_customers"),
            F.sum("rev_c").alias("total_c"),
            (
                (
                    F.lit(2).cast(dec) * s1
                    - (n + 1).cast(dec) * s0
                ).cast("double")
                / (n.cast(dec) * s0).cast("double")
            ).alias("gini"),
        )

    w_nat = Window.partitionBy("n_name").orderBy("rev_c", "c_custkey")
    nat = rev.select(
        F.col("n_name").alias("scope"),
        "rev_c",
        F.row_number().over(w_nat).cast("long").alias("rnk"),
    )
    gids = assign_global_row_ids(
        rev, ["rev_c", "c_custkey"], "c_custkey"
    ).select(F.col("c_custkey").alias("g_key"), F.col("global_id").alias("rnk"))
    glob = rev.join(gids, rev["c_custkey"] == F.col("g_key")).select(
        F.lit("ALL").alias("scope"), "rev_c", "rnk"
    )
    return (
        gini_agg(nat.unionByName(glob))
        .orderBy("scope")
    )

# --- Fellegi-Sunter probabilistic record linkage -------------------------------

import math as _math

#: (m, u) per comparison field: P(agree | match), P(agree | non-match).
#: Pinned model constants; the log-odds below are PRE-COMPUTED Python
#: doubles embedded as identical literals in both engines — no libm
#: call happens at query time, so the scores are bit-identical.
_FS_MU = {
    "brand": (0.9, 0.04),
    "type": (0.85, 0.02),
    "size": (0.8, 0.09),
    "name": (0.95, 0.01),
}
_FS_W = {
    f: (_math.log(m / u), _math.log((1.0 - m) / (1.0 - u)))
    for f, (m, u) in _FS_MU.items()
}
_FS_THRESHOLD = 4.0

_FS_CASES_SQL = " + ".join(
    f"(CASE WHEN {cond} THEN CAST({_FS_W[f][0]!r} AS DOUBLE)"
    f" ELSE CAST({_FS_W[f][1]!r} AS DOUBLE) END)"
    for f, cond in (
        ("brand", "a.p_brand = b.p_brand"),
        ("type", "a.p_type = b.p_type"),
        ("size", "ABS(a.p_size - b.p_size) <= 2"),
        ("name", "levenshtein(a.p_name, b.p_name) <= 3"),
    )
)

_FS_SQL = f"""
WITH blocked AS (
    SELECT p_partkey, p_name, p_brand, p_type, p_size,
           list_extract(string_split(p_name, ' '), -1) AS block
    FROM part
    QUALIFY COUNT(*) OVER (PARTITION BY block) <= {_FUZZY_BLOCK_CAP}
),
scored AS (
    SELECT a.p_partkey AS part_a, b.p_partkey AS part_b,
           CAST((CASE WHEN a.p_brand = b.p_brand THEN 1 ELSE 0 END)
                + (CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END)
                + (CASE WHEN ABS(a.p_size - b.p_size) <= 2 THEN 1 ELSE 0 END)
                + (CASE WHEN levenshtein(a.p_name, b.p_name) <= 3
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_agree,
           {_FS_CASES_SQL} AS fs_score
    FROM blocked a JOIN blocked b
      ON a.block = b.block AND a.p_partkey < b.p_partkey
)
SELECT part_a, part_b, n_agree, fs_score,
       fs_score >= CAST({_FS_THRESHOLD!r} AS DOUBLE) AS is_match
FROM scored
ORDER BY fs_score DESC, part_a, part_b
LIMIT 20
""".strip()


@query("fellegi_sunter_part_links", oracle=_FS_SQL)
def fellegi_sunter_part_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic record linkage (Fellegi & Sunter 1969): score every
    blocked candidate part pair with per-field agreement log-odds
    (brand/type exact, size within 2, name within Levenshtein 3) under
    pinned (m, u) model constants, flag matches above the decision
    threshold, return the top-20 scored links. The log-odds are
    PRE-COMPUTED Python doubles embedded as identical literals in both
    engines — the 4-term score is a fixed left-associative chain, so
    the scores are bit-identical with zero runtime libm. Candidates
    come from the established blocking discipline (last name token,
    ``_FUZZY_BLOCK_CAP``-bounded blocks dropped BEFORE the self-join,
    QUALIFY-mirrored in the oracle) — the linkage stays linear-ish in
    corpus size, never all-pairs; the serve end is a
    TakeOrderedAndProject."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_name", "p_brand", "p_type", "p_size"
    )
    blocked = part.withColumn(
        "block", F.element_at(F.split(F.col("p_name"), " "), -1)
    )
    sizes = blocked.groupBy("block").agg(F.count(F.lit(1)).alias("_bn"))
    bounded = blocked.join(
        F.broadcast(
            sizes.filter(F.col("_bn") <= _FUZZY_BLOCK_CAP).select("block")
        ),
        "block",
    )
    a = bounded.select(
        F.col("p_partkey").alias("ka"),
        F.col("p_name").alias("na"),
        F.col("p_brand").alias("ba"),
        F.col("p_type").alias("ta"),
        F.col("p_size").alias("sa"),
        "block",
    )
    b = bounded.select(
        F.col("p_partkey").alias("kb"),
        F.col("p_name").alias("nb"),
        F.col("p_brand").alias("bb"),
        F.col("p_type").alias("tb"),
        F.col("p_size").alias("sb"),
        "block",
    )
    conds = [
        (F.col("ba") == F.col("bb"), "brand"),
        (F.col("ta") == F.col("tb"), "type"),
        (F.abs(F.col("sa") - F.col("sb")) <= 2, "size"),
        (F.levenshtein(F.col("na"), F.col("nb")) <= 3, "name"),
    ]
    score = None
    agree = None
    for cond, f in conds:
        term = F.when(cond, F.lit(_FS_W[f][0])).otherwise(
            F.lit(_FS_W[f][1])
        )
        flag = F.when(cond, 1).otherwise(0)
        score = term if score is None else score + term
        agree = flag if agree is None else agree + flag
    return (
        a.join(b, "block")
        .filter(F.col("ka") < F.col("kb"))
        .select(
            F.col("ka").alias("part_a"),
            F.col("kb").alias("part_b"),
            agree.cast("long").alias("n_agree"),
            score.alias("fs_score"),
            (score >= F.lit(_FS_THRESHOLD)).alias("is_match"),
        )
        .orderBy(F.desc("fs_score"), "part_a", "part_b")
        .limit(20)
    )


# --- vocabulary JS-divergence drift -------------------------------------------

_VJS_K = 16
_VJS_SRC = "src0"

_VJS_SQL = f"""
WITH tok AS (
    SELECT unnest(string_split(text, ' ')) AS token,
           (source = '{_VJS_SRC}') AS is_b
    FROM documents
),
counts AS (
    SELECT token,
           CAST(SUM(CASE WHEN is_b THEN 0 ELSE 1 END) AS BIGINT) AS na,
           CAST(SUM(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT) AS nb
    FROM tok GROUP BY token
),
topk AS (
    SELECT token, na, nb
    FROM counts
    ORDER BY na + nb DESC, token
    LIMIT {_VJS_K}
),
tot AS (
    SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb
    FROM counts
),
spine AS (
    SELECT token, na, nb FROM topk
    UNION ALL
    SELECT '<OOV>' AS token,
           (SELECT ta FROM tot) - CAST(SUM(na) AS BIGINT),
           (SELECT tb FROM tot) - CAST(SUM(nb) AS BIGINT)
    FROM topk
)
SELECT s.token, s.na AS n_base, s.nb AS n_curr,
       0.5 * (CASE WHEN s.na = 0 THEN 0.0
                   ELSE (CAST(s.na AS DOUBLE) / CAST(t.ta AS DOUBLE))
                        * ln((CAST(s.na AS DOUBLE) / CAST(t.ta AS DOUBLE))
                             / (0.5 * (CAST(s.na AS DOUBLE) / CAST(t.ta AS DOUBLE)
                                       + CAST(s.nb AS DOUBLE) / CAST(t.tb AS DOUBLE))))
              END)
       + 0.5 * (CASE WHEN s.nb = 0 THEN 0.0
                     ELSE (CAST(s.nb AS DOUBLE) / CAST(t.tb AS DOUBLE))
                          * ln((CAST(s.nb AS DOUBLE) / CAST(t.tb AS DOUBLE))
                               / (0.5 * (CAST(s.na AS DOUBLE) / CAST(t.ta AS DOUBLE)
                                         + CAST(s.nb AS DOUBLE) / CAST(t.tb AS DOUBLE))))
                END) AS js_term
FROM spine s, tot t
ORDER BY s.token
""".strip()


@query("vocab_js_drift_src0", oracle=_VJS_SQL)
def vocab_js_drift_src0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between one source and the rest of the corpus —
    per-token Jensen-Shannon divergence terms over the global top-16
    tokens plus a pooled <OOV> bucket (non-trivial at every test SF) (the spine is COMPLETE: the two
    distributions sum to 1 including the tail, so nothing escapes the
    comparison). Each row is independently exact: counts are int64
    from one token aggregate, and a row's JS term is a fixed chain of
    double ops on that row's counts alone — there is NO cross-row
    float reduction anywhere, sidestepping summation order entirely
    (the scalar JS is the downstream 33-row fold). The zero-count
    sides use the defined 0*ln(0) = 0 limit via identical CASE guards.
    Top-K selection tie-breaks on the token string, so the spine is
    deterministic in both engines. One data-sized explode+aggregate;
    everything after is K+1 rows."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token"),
        (F.col("source") == _VJS_SRC).alias("is_b"),
    )
    counts = tok.groupBy("token").agg(
        F.sum(F.when(F.col("is_b"), 0).otherwise(1)).alias("na"),
        F.sum(F.when(F.col("is_b"), 1).otherwise(0)).alias("nb"),
    ).localCheckpoint()
    topk = counts.orderBy(
        (F.col("na") + F.col("nb")).desc(), "token"
    ).limit(_VJS_K)
    tot = counts.agg(
        F.sum("na").alias("ta"), F.sum("nb").alias("tb")
    )
    oov = (
        topk.agg(
            F.sum("na").alias("ka"), F.sum("nb").alias("kb")
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.lit("<OOV>").alias("token"),
            (F.col("ta") - F.col("ka")).alias("na"),
            (F.col("tb") - F.col("kb")).alias("nb"),
        )
    )
    spine = topk.select("token", "na", "nb").unionByName(oov)
    pa = F.col("na").cast("double") / F.col("ta").cast("double")
    pb = F.col("nb").cast("double") / F.col("tb").cast("double")
    m = F.lit(0.5) * (pa + pb)
    term = F.lit(0.5) * F.when(F.col("na") == 0, F.lit(0.0)).otherwise(
        pa * F.log(pa / m)
    ) + F.lit(0.5) * F.when(F.col("nb") == 0, F.lit(0.0)).otherwise(
        pb * F.log(pb / m)
    )
    return (
        spine.crossJoin(F.broadcast(tot))
        .select(
            "token",
            F.col("na").alias("n_base"),
            F.col("nb").alias("n_curr"),
            term.alias("js_term"),
        )
        .orderBy("token")
    )


# --- multi-touch attribution (exact linear credit) ------------------------------

_MTA_WINDOW_H = 24
_MTA_MICRO = 1000000

_MTA_SQL = f"""
WITH purchases AS (
    SELECT user_id, event_id AS p_id, epoch_us(ts) AS pt
    FROM events WHERE event_type = 'purchase'
),
touches AS (
    SELECT user_id, event_id AS t_id, event_type AS channel, epoch_us(ts) AS tt
    FROM events WHERE event_type <> 'purchase'
),
matched AS (
    SELECT p.p_id, t.channel, t.t_id,
           ROW_NUMBER() OVER (
               PARTITION BY p.p_id ORDER BY t.tt DESC, t.t_id
           ) AS rnk,
           COUNT(*) OVER (PARTITION BY p.p_id) AS n
    FROM purchases p JOIN touches t
      ON t.user_id = p.user_id
     AND t.tt < p.pt AND t.tt >= p.pt - {_MTA_WINDOW_H} * 3600000000
),
credits AS (
    SELECT channel,
           CAST({_MTA_MICRO} AS BIGINT) // n
           + CASE WHEN rnk <= CAST({_MTA_MICRO} AS BIGINT) % n
                  THEN 1 ELSE 0 END AS credit
    FROM matched
),
direct AS (
    SELECT '(direct)' AS channel, CAST({_MTA_MICRO} AS BIGINT) AS credit
    FROM purchases p
    WHERE NOT EXISTS (SELECT 1 FROM matched m WHERE m.p_id = p.p_id)
),
unioned AS (
    SELECT channel, credit FROM credits
    UNION ALL SELECT channel, credit FROM direct
)
SELECT channel,
       CAST(COUNT(*) AS BIGINT) AS n_credited,
       CAST(SUM(credit) AS BIGINT) AS credit_millionths,
       CAST(SUM(credit) AS DOUBLE)
       / CAST((SELECT COUNT(*) * {_MTA_MICRO} FROM purchases) AS DOUBLE)
           AS credit_share
FROM unioned
GROUP BY channel
ORDER BY channel
""".strip()


@query("multitouch_attribution", oracle=_MTA_SQL)
def multitouch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution with EXACT credit conservation:
    every purchase splits exactly 1,000,000 micro-credits equally
    (largest-remainder, recency-then-id tie-break — the Hamilton
    apportionment discipline from ``lang_mixing_allocation``) across
    its touchpoints in the preceding 24 h; untouched purchases credit
    '(direct)'. Total credit across channels is purchases x 1e6 BY
    CONSTRUCTION — integer accounting a float split cannot promise.
    The oracle states the textbook interval-predicate join; the engine
    runs the hour-bucket BINNED equi-join (each touch joins its 25
    covering purchase-hour buckets + exact residual predicate — the
    ``batch_interval_join_binned`` scale pattern, no NLJ), then one
    per-purchase window over the matched touches and one channel
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    hour_us = 3600000000
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("p_id"), us.alias("pt")
    )
    touches = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("channel"),
        us.alias("tt"),
    )
    # bin purchases to their covering hour buckets (window/1h + 1 buckets)
    p_binned = purchases.select(
        "user_id",
        "p_id",
        "pt",
        F.explode(
            F.sequence(
                F.floor(
                    (F.col("pt") - _MTA_WINDOW_H * hour_us) / hour_us
                ).cast("long"),
                F.floor(F.col("pt") / hour_us).cast("long"),
            )
        ).alias("hb"),
    )
    t_binned = touches.withColumn(
        "hb", F.floor(F.col("tt") / hour_us).cast("long")
    )
    matched = (
        t_binned.join(p_binned, ["user_id", "hb"])
        .filter(
            (F.col("tt") < F.col("pt"))
            & (F.col("tt") >= F.col("pt") - _MTA_WINDOW_H * hour_us)
        )
        .select("p_id", "channel", "t_id", "tt")
    )
    w = Window.partitionBy("p_id").orderBy(F.desc("tt"), "t_id")
    wn = Window.partitionBy("p_id")
    credits = matched.select(
        "channel",
        "p_id",
        F.row_number().over(w).alias("rnk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    ).select(
        "channel",
        "p_id",
        (
            F.expr(f"CAST({_MTA_MICRO} AS BIGINT) div n")
            + F.when(
                F.col("rnk") <= F.expr(f"CAST({_MTA_MICRO} AS BIGINT) % n"),
                1,
            ).otherwise(0)
        ).alias("credit"),
    )
    direct = (
        purchases.join(
            matched.select("p_id").distinct(), "p_id", "left_anti"
        )
        .select(
            F.lit("(direct)").alias("channel"),
            F.lit(_MTA_MICRO).cast("long").alias("credit"),
        )
    )
    n_purch = purchases.agg(
        (F.count(F.lit(1)) * _MTA_MICRO).alias("total_micro")
    )
    return (
        credits.select("channel", "credit")
        .unionByName(direct)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_credited"),
            F.sum("credit").alias("credit_millionths"),
        )
        .crossJoin(F.broadcast(n_purch))
        .select(
            "channel",
            "n_credited",
            "credit_millionths",
            (
                F.col("credit_millionths").cast("double")
                / F.col("total_micro").cast("double")
            ).alias("credit_share"),
        )
        .orderBy("channel")
    )


# --- cohort LTV curve --------------------------------------------------------

_LTV_SQL = """
WITH firsts AS (
    SELECT user_id,
           CAST(CAST(MIN(ts) AS DATE) - DATE '2024-01-01' AS BIGINT) // 7
               AS cohort_week
    FROM events GROUP BY user_id
),
cohort_sizes AS (
    SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS cohort_users
    FROM firsts GROUP BY cohort_week
),
purchases AS (
    SELECT e.user_id, f.cohort_week,
           CAST(CAST(e.ts AS DATE) - DATE '2024-01-01' AS BIGINT) // 7
               - f.cohort_week AS age_week,
           CAST(FLOOR(e.value * 100 + 0.5) AS BIGINT) AS cents
    FROM events e JOIN firsts f ON f.user_id = e.user_id
    WHERE e.event_type = 'purchase'
),
cells AS (
    SELECT cohort_week, age_week,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_buyers,
           CAST(SUM(cents) AS BIGINT) AS revenue_c
    FROM purchases GROUP BY cohort_week, age_week
)
SELECT c.cohort_week, c.age_week, s.cohort_users, c.n_buyers, c.revenue_c,
       CAST(SUM(c.revenue_c) OVER (
           PARTITION BY c.cohort_week ORDER BY c.age_week
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS BIGINT) AS cum_revenue_c,
       CAST(SUM(c.revenue_c) OVER (
           PARTITION BY c.cohort_week ORDER BY c.age_week
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) AS DOUBLE) / CAST(s.cohort_users AS DOUBLE) / 100.0 AS ltv_per_user
FROM cells c JOIN cohort_sizes s ON s.cohort_week = c.cohort_week
ORDER BY c.cohort_week, c.age_week
""".strip()


@query("cohort_ltv_curve", oracle=_LTV_SQL)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve — cumulative purchase revenue per
    signup-week cohort by age-week, normalized to LTV per cohort user —
    the growth metric every subscription/commerce dashboard plots,
    computed exactly: cohort assignment from each user's first event
    (one user rollup), revenue in int64 cents, the cumulative an
    INTEGER window over <= 5 rows per cohort (exact regardless of
    order), and the single double division only at the per-user
    normalization. Two data-sized operations total (user rollup +
    cohort join back onto purchases); the curve table itself is
    weeks x weeks rows."""
    ev = load_table(spark, sf_dir, "events")
    week = (
        F.floor(
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            / 7
        ).cast("long")
    )
    firsts = ev.groupBy("user_id").agg(
        F.floor(
            F.datediff(
                F.min("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            / 7
        )
        .cast("long")
        .alias("cohort_week")
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            week.alias("w"),
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cents"),
        )
        .join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.col("w") - F.col("cohort_week")).alias("age_week"),
            "cents",
        )
    )
    cells = purchases.groupBy("cohort_week", "age_week").agg(
        F.count_distinct("user_id").alias("n_buyers"),
        F.sum("cents").alias("revenue_c"),
    )
    w_cum = (
        Window.partitionBy("cohort_week")
        .orderBy("age_week")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        cells.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "age_week",
            "cohort_users",
            "n_buyers",
            "revenue_c",
            F.sum("revenue_c").over(w_cum).alias("cum_revenue_c"),
            (
                F.sum("revenue_c").over(w_cum).cast("double")
                / F.col("cohort_users").cast("double")
                / F.lit(100.0)
            ).alias("ltv_per_user"),
        )
        .orderBy("cohort_week", "age_week")
    )


# --- WAU growth accounting -------------------------------------------------------

_GA_SQL = """
WITH weeks AS (
    SELECT DISTINCT user_id,
           CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) // 7 AS w
    FROM events
),
flags AS (
    SELECT user_id, w,
           MIN(w) OVER (PARTITION BY user_id) AS first_w,
           LAG(w) OVER (PARTITION BY user_id ORDER BY w) AS prev_w
    FROM weeks
),
states AS (
    SELECT w,
           CASE WHEN w = first_w THEN 'new'
                WHEN prev_w = w - 1 THEN 'retained'
                ELSE 'resurrected' END AS state
    FROM flags
),
active AS (
    SELECT w, CAST(COUNT(*) AS BIGINT) AS wau FROM weeks GROUP BY w
),
churn AS (
    SELECT a.w + 1 AS w, CAST(COUNT(*) AS BIGINT) AS churned
    FROM weeks a
    WHERE NOT EXISTS (SELECT 1 FROM weeks b
                      WHERE b.user_id = a.user_id AND b.w = a.w + 1)
    GROUP BY a.w + 1
)
SELECT s.w AS week, MAX(a.wau) AS wau,
       CAST(SUM(CASE WHEN s.state = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
       CAST(SUM(CASE WHEN s.state = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS retained,
       CAST(SUM(CASE WHEN s.state = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS resurrected,
       CAST(COALESCE(MAX(c.churned), 0) AS BIGINT) AS churned
FROM states s
JOIN active a ON a.w = s.w
LEFT JOIN churn c ON c.w = s.w
GROUP BY s.w
ORDER BY s.w
""".strip()


@query("growth_accounting_wau", oracle=_GA_SQL)
def growth_accounting_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly-active-user growth accounting — the new / retained /
    resurrected / churned decomposition (the Social-Capital growth
    framework) whose identity WAU_t = new + retained + resurrected and
    churn_t = active_{t-1} setminus active_t every growth report is
    built on. Distinct (user, week) activity once; classification from
    a per-user window (first week -> new, previous week adjacent ->
    retained, else resurrected); churn via a LEFT ANTI self-join
    shifted one week. All exact int64 counts; the per-user windows
    partition on user (scale-safe); the decomposition identity is
    test-pinned."""
    ev = load_table(spark, sf_dir, "events")
    weeks = (
        ev.select(
            "user_id",
            F.floor(
                F.datediff(
                    F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
                )
                / 7
            )
            .cast("long")
            .alias("w"),
        )
        .distinct()
        .localCheckpoint()
    )
    wf = Window.partitionBy("user_id")
    wo = Window.partitionBy("user_id").orderBy("w")
    states = weeks.select(
        "w",
        F.when(F.col("w") == F.min("w").over(wf), "new")
        .when(F.lag("w").over(wo) == F.col("w") - 1, "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    active = weeks.groupBy("w").agg(F.count(F.lit(1)).alias("wau"))
    nxt = weeks.select("user_id", (F.col("w") + 1).alias("w"))
    churn = (
        nxt.join(weeks, ["user_id", "w"], "left_anti")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("churned"))
    )
    return (
        states.groupBy("w")
        .agg(
            F.sum(F.when(F.col("state") == "new", 1).otherwise(0)).alias(
                "new_users"
            ),
            F.sum(
                F.when(F.col("state") == "retained", 1).otherwise(0)
            ).alias("retained"),
            F.sum(
                F.when(F.col("state") == "resurrected", 1).otherwise(0)
            ).alias("resurrected"),
        )
        .join(F.broadcast(active), "w")
        .join(F.broadcast(churn), "w", "left")
        .select(
            F.col("w").alias("week"),
            "wau",
            "new_users",
            "retained",
            "resurrected",
            F.coalesce("churned", F.lit(0)).cast("long").alias("churned"),
        )
        .orderBy("week")
    )

"""Round-5 late additions — the remaining operations a 100 TB
training-data pipeline runs that the registry did not yet cover:

- **sequence packing** (`sequence_packing_by_shard`): GPT-style
  concat-and-chunk packing accounting — how many fixed-length training
  sequences a corpus yields, how many documents straddle a sequence
  boundary, and how much tail padding each shard pays. Pure prefix-sum
  windows, partitioned by (lang, shard) so no global total order is ever
  required — the shard key IS the parallelism unit at 100 TB.
- **PII detection / redaction** (`pii_redaction_counts`): regex
  email/phone/IPv4 detection and redaction accounting. The synthetic
  corpus carries no PII, so the query *constructs* deterministic contact
  strings from the data and then detects and redacts them — the same
  encode-then-decode discipline the multimodal codecs use (the regexes
  are exercised against real matches, not vacuous zeros).
- **time-series gap fill + LOCF** (`resample_locf_hourly`): resample the
  events stream onto a dense hourly spine per event type and carry the
  last observation forward across gaps — the standard feature-store /
  sensor-series repair. The carried value is a *picked* row value (no
  float arithmetic), so the result is engine-exact.
- **triangle counting** (`near_dup_triangle_stats`): the classic
  degree-ordered node-iterator (each triangle counted exactly once from
  its lowest-degree corner) over the MinHash-LSH near-dup pair graph,
  plus the global clustering coefficient — the graph-shape diagnostic for
  a dedup candidate graph (cliquish = true duplicate clusters,
  star-heavy = a hub key worth inspecting).
- **scalar-quantized ANN** (`sq8_topk_vec0`): SQ8 — per-dimension
  min/max train, 8-bit codes, integer symmetric ADC shortlist, exact
  cosine rerank. Completes the quantization family (PQ / OPQ / IVFPQ /
  SQ) with the memory-4x-cheaper route every vector store ships first.
- **BPE pair statistics** (`bpe_pair_counts`): the first iteration of
  byte-pair-encoding tokenizer training — corpus-frequency-weighted
  adjacent character-pair counts, the argmax of which is BPE's first
  merge. One word-frequency aggregate (vocab-sized, tiny) then a
  per-pair aggregate — the map-side-combined shape tokenizer training
  uses at corpus scale.

The reference has no analog for any of these (SURVEY.md §2.9's "beyond
the reference" mandate); every query is expressed as pure DataFrame ops
(windows, two-phase aggregates, equi-joins — no UDFs, no collect) and
every oracle reproduces the exact arithmetic, so the driver's hash gate
verifies values, not just shapes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apache_beam_challange_spark.plans.extensions import (
    _MINHASH_CTE,
    _SPLIT_HEX4,
)
from apache_beam_challange_spark.functions.text import QUALITY_SCORE_SQL
from apache_beam_challange_spark.plans.curation import _FUZZY_BLOCK_CAP
from apache_beam_challange_spark.plans.registry import query
from apache_beam_challange_spark.sources.catalog import load_table
from apache_beam_challange_spark.sources.driver import collect_bounded, local_frame

# --- sequence packing (concat-and-chunk) -----------------------------------

#: Tokens per training sequence. 256 keeps sf0.01 shards multi-sequence;
#: the arithmetic is budget-agnostic.
_SEQ_BUDGET = 256
#: Shards per language — the packing parallelism unit. Within a shard the
#: pack order is doc_id; across shards there is NO ordering requirement,
#: which is what makes the plan scale: each (lang, shard) group packs
#: independently under one hash partitioning.
_N_SHARDS = 8


@query(
    "sequence_packing_by_shard",
    oracle=f"""
WITH toks AS (
    SELECT lang, doc_id % {_N_SHARDS} AS shard, doc_id,
           LEN(string_split(text, ' ')) AS n_tok
    FROM documents
),
placed AS (
    SELECT lang, shard, n_tok,
           SUM(n_tok) OVER (
               PARTITION BY lang, shard ORDER BY doc_id
               ROWS UNBOUNDED PRECEDING
           ) - n_tok AS off
    FROM toks
),
agg AS (
    SELECT lang, shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN off // {_SEQ_BUDGET}
                              <> (off + n_tok - 1) // {_SEQ_BUDGET}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_split_docs
    FROM placed
    GROUP BY lang, shard
)
SELECT lang, shard, n_docs, n_tokens,
       (n_tokens + {_SEQ_BUDGET - 1}) // {_SEQ_BUDGET} AS n_sequences,
       n_split_docs,
       ((n_tokens + {_SEQ_BUDGET - 1}) // {_SEQ_BUDGET}) * {_SEQ_BUDGET}
           - n_tokens AS pad_tokens
FROM agg
""".strip(),
)
def sequence_packing_by_shard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing, accounted per
    (lang, shard): documents are laid end-to-end in doc_id order within
    a shard and cut every ``_SEQ_BUDGET`` tokens. Reports sequences
    yielded, documents split across a boundary, and tail padding.

    Scale shape: ONE window + ONE aggregate, both on the same
    (lang, shard) hash partitioning — a single shuffle, no global sort.
    At 100 TB the shard count widens and every shard packs independently;
    the per-shard prefix sum is the only ordered computation and it never
    leaves its partition."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        (F.col("doc_id") % _N_SHARDS).alias("shard"),
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tok"),
    )
    w = (
        Window.partitionBy("lang", "shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    placed = toks.select(
        "lang",
        "shard",
        "n_tok",
        (F.sum("n_tok").over(w) - F.col("n_tok")).alias("off"),
    )
    b = F.lit(_SEQ_BUDGET)
    agg = placed.groupBy("lang", "shard").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        F.sum(
            F.when(
                F.expr(f"off div {_SEQ_BUDGET}")
                != F.expr(f"(off + n_tok - 1) div {_SEQ_BUDGET}"),
                1,
            ).otherwise(0)
        ).alias("n_split_docs"),
    )
    n_seq = (F.col("n_tokens") + (_SEQ_BUDGET - 1)) / b
    n_seq = F.floor(n_seq).cast("long")
    return agg.select(
        "lang",
        "shard",
        "n_docs",
        "n_tokens",
        n_seq.alias("n_sequences"),
        "n_split_docs",
        (n_seq * b - F.col("n_tokens")).cast("long").alias("pad_tokens"),
    )


# --- PII detection / redaction ---------------------------------------------

#: RE2- and java.util.regex-compatible by construction: character classes,
#: bounded repetition, no backreferences, no lookaround.
_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\+1-[0-9]{3}-[0-9]{4}"
_IP_RE = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"

#: SQL expression constructing the deterministic contact tail appended to
#: each document (DuckDB spelling; the Spark twin is built in-function).
_RAW_SQL = (
    "text || ' contact user' || CAST(doc_id AS VARCHAR) || '@' || source "
    "|| '.com or call +1-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') "
    "|| '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') "
    "|| ' from 10.' || CAST(doc_id % 256 AS VARCHAR) || '.0.' "
    "|| CAST(doc_id % 100 AS VARCHAR)"
)


@query(
    "pii_redaction_counts",
    oracle=f"""
WITH raw AS (
    SELECT lang, {_RAW_SQL} AS raw FROM documents
),
red AS (
    SELECT lang, raw,
           regexp_replace(
               regexp_replace(
                   regexp_replace(raw, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PHONE_RE}', '<PHONE>', 'g'),
               '{_IP_RE}', '<IP>', 'g') AS redacted
    FROM raw
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(LEN(regexp_extract_all(raw, '{_EMAIL_RE}'))) AS BIGINT)
           AS n_emails,
       CAST(SUM(LEN(regexp_extract_all(raw, '{_PHONE_RE}'))) AS BIGINT)
           AS n_phones,
       CAST(SUM(LEN(regexp_extract_all(raw, '{_IP_RE}'))) AS BIGINT)
           AS n_ips,
       CAST(SUM(LEN(raw) - LEN(redacted)) AS BIGINT) AS chars_redacted
FROM red
GROUP BY lang
""".strip(),
)
def pii_redaction_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction accounting per language: regex
    email / NANP-phone / IPv4 detectors counted on the raw text, then a
    three-pass redaction (match -> placeholder) whose removed-character
    total is verified exactly. The corpus is synthetic, so the
    deterministic contact tail is CONSTRUCTED from each row first — the
    detectors run against real matches (500 each at sf0.01), and a regex
    drift between engines fails the hash gate instead of comparing zeros.

    Scale shape: one narrow projection (regex work is per-row, pushed
    into the scan stage) and one map-side-combined aggregate — redaction
    at 100 TB is embarrassingly parallel and this plan keeps it that
    way. Patterns stay in the RE2 ∩ java.util.regex dialect (classes and
    bounded repeats only) so the same text matches identically here, in
    the DuckDB oracle, and in any sidecar scrubber."""
    docs = load_table(spark, sf_dir, "documents")
    raw = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@"),
        F.col("source"),
        F.lit(".com or call +1-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" from 10."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".0."),
        (F.col("doc_id") % 100).cast("string"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ),
        _IP_RE,
        "<IP>",
    )
    staged = docs.select(
        "lang",
        F.regexp_count(raw, F.lit(_EMAIL_RE)).alias("ne"),
        F.regexp_count(raw, F.lit(_PHONE_RE)).alias("np"),
        F.regexp_count(raw, F.lit(_IP_RE)).alias("ni"),
        (F.length(raw) - F.length(redacted)).alias("delta"),
    )
    return staged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ne").cast("long").alias("n_emails"),
        F.sum("np").cast("long").alias("n_phones"),
        F.sum("ni").cast("long").alias("n_ips"),
        F.sum("delta").cast("long").alias("chars_redacted"),
    )


# --- time-series resample + LOCF gap fill ----------------------------------


@query(
    "resample_locf_hourly",
    oracle="""
WITH b AS (
    SELECT date_trunc('hour', MIN(ts)) AS h0,
           date_trunc('hour', MAX(ts)) AS h1
    FROM events
),
spine AS (
    SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour FROM b
),
types AS (SELECT DISTINCT event_type FROM events),
grid AS (SELECT event_type, hour FROM types CROSS JOIN spine),
ranked AS (
    SELECT event_type, date_trunc('hour', ts) AS hour, value,
           ROW_NUMBER() OVER (
               PARTITION BY event_type, date_trunc('hour', ts)
               ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
),
lastv AS (SELECT event_type, hour, value FROM ranked WHERE rn = 1)
SELECT g.event_type, g.hour,
       LAST_VALUE(l.value IGNORE NULLS) OVER (
           PARTITION BY g.event_type ORDER BY g.hour
           ROWS UNBOUNDED PRECEDING
       ) AS value_locf,
       CAST(CASE WHEN l.value IS NULL THEN 1 ELSE 0 END AS INT) AS is_gap
FROM grid g
LEFT JOIN lastv l ON l.event_type = g.event_type AND l.hour = g.hour
""".strip(),
)
def resample_locf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample the events stream onto a dense hourly spine per event
    type and repair gaps by last-observation-carried-forward — the
    standard sensor-series / feature-store densification. The carried
    value is the hour's LAST raw reading (row_number pick, ties broken
    on event_id), never an aggregate of floats, so the filled series is
    bit-identical in any engine; hours before the first observation stay
    NULL honestly.

    Scale shape: the spine is bounds × types — dimension-sized however
    large the fact table gets — so the grid build is a broadcast-able
    cross of two tiny inputs; the per-hour pick and the LOCF window both
    run on one event_type partitioning. The LOCF window orders the
    per-type DENSE spine (bounded rows/hour), not raw events."""
    events = load_table(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts"))
    bounds = events.agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("interval 1 hour"))
        ).alias("hour")
    )
    types = events.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(spine))
    w_pick = Window.partitionBy("event_type", "hour").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    lastv = (
        events.select("event_type", hour.alias("hour"), "ts", "event_id", "value")
        .withColumn("rn", F.row_number().over(w_pick))
        .filter(F.col("rn") == 1)
        .select("event_type", "hour", "value")
    )
    w_locf = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(lastv, ["event_type", "hour"], "left")
        .select(
            "event_type",
            "hour",
            F.last("value", ignorenulls=True).over(w_locf).alias("value_locf"),
            F.when(F.col("value").isNull(), 1).otherwise(0).cast("int").alias("is_gap"),
        )
    )


# --- triangle counting over the near-dup graph -----------------------------


def _lsh_pair_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared MinHash-LSH candidate pair graph (a < b) — see
    plans/extensions.py:lsh_pair_graph, the single edge-list definition."""
    from apache_beam_challange_spark.plans.extensions import lsh_pair_graph

    return lsh_pair_graph(spark, sf_dir)


@query(
    "near_dup_triangle_stats",
    oracle=f"""
WITH {_MINHASH_CTE},
bands AS (
    SELECT doc_id, CAST(FLOOR(hash_idx / 2) AS BIGINT) AS band_idx,
           STRING_AGG(CAST(min_hash AS VARCHAR), '|' ORDER BY hash_idx)
               AS band_val
    FROM mh
    GROUP BY doc_id, FLOOR(hash_idx / 2)
),
edges AS (
    SELECT DISTINCT a.doc_id AS u, b.doc_id AS v
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                AND a.doc_id < b.doc_id
),
deg AS (
    SELECT node, CAST(COUNT(*) AS BIGINT) AS d
    FROM (SELECT u AS node FROM edges UNION ALL SELECT v FROM edges)
    GROUP BY node
),
oriented AS (
    SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.u ELSE e.v END AS src,
           CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN e.v ELSE e.u END AS dst,
           CASE WHEN (du.d, e.u) < (dv.d, e.v) THEN dv.d ELSE du.d END AS dst_d
    FROM edges e
    JOIN deg du ON du.node = e.u
    JOIN deg dv ON dv.node = e.v
),
tri AS (
    SELECT COUNT(*) AS n_triangles
    FROM oriented e1
    JOIN oriented e2 ON e2.src = e1.src
                    AND (e1.dst_d, e1.dst) < (e2.dst_d, e2.dst)
    JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst
),
wed AS (
    SELECT SUM(d * (d - 1) // 2) AS n_wedges FROM deg
)
SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
       CAST((SELECT COUNT(*) FROM edges) AS BIGINT) AS n_edges,
       CAST(tri.n_triangles AS BIGINT) AS n_triangles,
       CAST(wed.n_wedges AS BIGINT) AS n_wedges,
       ROUND(CASE WHEN wed.n_wedges = 0 THEN 0.0
                  ELSE 3.0 * tri.n_triangles / wed.n_wedges END, 6)
           AS clustering_coeff
FROM tri, wed
""".strip(),
)
def near_dup_triangle_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the near-dup
    candidate graph, via the degree-ordered node-iterator (Schank &
    Wagner '05): orient every edge from its (degree, id)-smaller
    endpoint, join wedges at the common source, and close each wedge
    against the oriented edge set — every triangle is counted exactly
    once, from its lowest-degree corner.

    Scale shape: orientation bounds each source's out-degree by
    O(sqrt(m)) on any graph, so the wedge join — the only superlinear
    step — is the arboricity-optimal one; everything is equi-joins and
    two aggregates on the edge list (no matrix, no all-pairs). The
    coefficient (cliquishness of candidate clusters vs star-shaped hub
    keys) is one division of exact integers, rounded once."""
    from apache_beam_challange_spark.operators.graph import triangle_stats

    edges = _lsh_pair_graph(spark, sf_dir).select(
        F.col("doc_id_1").alias("u"), F.col("doc_id_2").alias("v")
    )
    return triangle_stats(edges)


# --- SQ8 scalar-quantized ANN ----------------------------------------------


@query(
    "sq8_topk_vec0",
    oracle="""
WITH vecs AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
comp AS (
    SELECT vec_id, unnest(v) AS x, unnest(generate_series(1, 64)) AS j
    FROM vecs
),
stats AS (
    SELECT j, MIN(x) AS mn, MAX(x) AS mx FROM comp GROUP BY j
),
codes AS (
    SELECT c.vec_id, c.j,
           CAST(CASE WHEN s.mx = s.mn THEN 0
                     ELSE LEAST(FLOOR((c.x - s.mn) * 255.0 / (s.mx - s.mn)),
                                255)
                END AS BIGINT) AS code
    FROM comp c JOIN stats s ON s.j = c.j
),
scored AS (
    SELECT c.vec_id,
           SUM((c.code - q.code) * (c.code - q.code)) AS l2c
    FROM codes c
    JOIN (SELECT j, code FROM codes WHERE vec_id = 0) q ON q.j = c.j
    WHERE c.vec_id <> 0
    GROUP BY c.vec_id
),
short AS (
    SELECT vec_id FROM scored ORDER BY l2c ASC, vec_id LIMIT 100
)
SELECT v.vec_id, v.label,
       ROUND(list_cosine_similarity(v.v, q.qv), 6) AS cosine_sim
FROM short s
JOIN vecs v ON v.vec_id = s.vec_id
CROSS JOIN (SELECT v AS qv FROM vecs WHERE vec_id = 0) q
ORDER BY cosine_sim DESC, v.vec_id
LIMIT 20
""".strip(),
)
def sq8_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized similarity search: train per-dimension
    (min, max) over the corpus, quantize every component to an 8-bit
    code, shortlist by the INTEGER symmetric code-space L2 distance
    (a bigint sum of squared code deltas — engine-exact, and invariant
    to the per-dim mn offsets that make a raw code dot product drift
    from the true ranking: measured recall@20 0.65 dot vs 1.00 L2 on
    this corpus, floor 0.90 pinned in tests), then rerank the
    100-candidate shortlist by exact cosine on the float vectors. The
    4x-compressed route every vector store ships first, completing the
    quantization family next to PQ/OPQ/IVFPQ.

    Scale shape: the trained stats are 64 rows (broadcast); the scan
    reads CODES (one byte per component at rest, bigint here), never
    corpus floats, until the <=100-row rerank; the shortlist is a
    TakeOrderedAndProject over the code aggregate. FLOOR quantization
    (not ROUND) keeps the code boundary identical across engines —
    DuckDB rounds half-away while Spark rounds half-up, and FLOOR
    sidesteps the disagreement."""
    from apache_beam_challange_spark.functions.vector import as_double, cosine

    emb = load_table(spark, sf_dir, "embeddings")
    comp = emb.select(
        "vec_id",
        F.posexplode(as_double(F.col("embedding"))).alias("j0", "x"),
    ).select("vec_id", (F.col("j0") + 1).alias("j"), "x")
    stats = comp.groupBy("j").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    codes = comp.join(F.broadcast(stats), "j").select(
        "vec_id",
        "j",
        F.when(F.col("mx") == F.col("mn"), F.lit(0))
        .otherwise(
            F.least(
                F.floor((F.col("x") - F.col("mn")) * 255.0 / (F.col("mx") - F.col("mn"))),
                F.lit(255),
            )
        )
        .cast("long")
        .alias("code"),
    )
    qcodes = codes.filter(F.col("vec_id") == 0).select(
        "j", F.col("code").alias("qcode")
    )
    delta = F.col("code") - F.col("qcode")
    shortlist = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qcodes), "j")
        .groupBy("vec_id")
        .agg(F.sum(delta * delta).alias("l2c"))
        .orderBy(F.col("l2c").asc(), F.col("vec_id"))
        .limit(100)
        .select("vec_id")
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("__qvec")
    )
    return (
        shortlist.join(emb, "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(as_double(F.col("embedding")), F.col("__qvec")), 6).alias(
                "cosine_sim"
            ),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(20)
    )


# --- BPE pair statistics ----------------------------------------------------


@query(
    "bpe_pair_counts",
    oracle="""
WITH wf AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
),
pos AS (
    SELECT token, freq,
           unnest(generate_series(1, len(token) - 1)) AS i
    FROM wf
    WHERE len(token) >= 2
),
pairs AS (SELECT substr(token, i, 2) AS pair, freq FROM pos)
SELECT pair, CAST(SUM(freq) AS BIGINT) AS n_occurrences
FROM pairs
GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT 50
""".strip(),
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training: corpus-frequency-
    weighted adjacent character-pair counts; the argmax is BPE's first
    merge. The word-frequency table is computed ONCE (vocab-sized —
    Zipf-small next to the corpus) so the character explosion runs over
    distinct words, not over every corpus occurrence — the standard
    trick that makes tokenizer training tractable at 100 TB: corpus
    pass produces (word, freq), all later merge iterations run on the
    tiny vocab table alone.

    Top-50 via TakeOrderedAndProject with the pair itself as the tie
    break, so the cut is deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    pairs = (
        wf.filter(F.length("token") >= 2)
        .select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length("token") - 1),
                    lambda i: F.col("token").substr(i, F.lit(2)),
                )
            ).alias("pair"),
            "freq",
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").cast("long").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair"))
        .limit(50)
    )


# --- exact set-similarity join via prefix filtering -------------------------

#: DuckDB spelling of the 15-hex-digit md5 prefix of a doc_id as a BIGINT
#: (twin of Spark's conv(substring(md5(...), 1, 15), 16, 10)).
from apache_beam_challange_spark.plans.extensions import _HEXD  # noqa: E402

_DOC_HEX15 = " + ".join(
    _HEXD.format(m="md5(CAST(doc_id AS VARCHAR))", p=p) + f" * {16 ** (15 - p)}"
    for p in range(1, 16)
)


@query(
    "prefix_filter_jaccard_pairs",
    oracle="""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
),
pos AS (
    SELECT doc_id, tokens,
           unnest(generate_series(1, greatest(len(tokens) - 2, 1))) AS i
    FROM tok
),
sh AS (
    SELECT DISTINCT doc_id, array_to_string(tokens[i:i+2], ' ') AS shingle
    FROM pos
),
freq AS (SELECT shingle, COUNT(*) AS sf FROM sh GROUP BY shingle),
ranked AS (
    SELECT s.doc_id, s.shingle,
           ROW_NUMBER() OVER (
               PARTITION BY s.doc_id ORDER BY f.sf, s.shingle
           ) AS rn,
           COUNT(*) OVER (PARTITION BY s.doc_id) AS n
    FROM sh s JOIN freq f ON f.shingle = s.shingle
),
prefix AS (
    SELECT doc_id, shingle FROM ranked
    WHERE rn <= n - (n + 1) // 2 + 1
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
    FROM prefix a
    JOIN prefix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
inter AS (
    SELECT c.doc_id_1, c.doc_id_2, COUNT(*) AS n_inter
    FROM cand c
    JOIN sh a ON a.doc_id = c.doc_id_1
    JOIN sh b ON b.doc_id = c.doc_id_2 AND b.shingle = a.shingle
    GROUP BY c.doc_id_1, c.doc_id_2
)
SELECT i.doc_id_1, i.doc_id_2,
       ROUND(n_inter / (s1.n_sh + s2.n_sh - n_inter), 6) AS jaccard
FROM inter i
JOIN sizes s1 ON i.doc_id_1 = s1.doc_id
JOIN sizes s2 ON i.doc_id_2 = s2.doc_id
WHERE n_inter / (s1.n_sh + s2.n_sh - n_inter) >= 0.5
""".strip(),
)
def prefix_filter_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity join (shingle-set Jaccard >= 0.5) via prefix
    filtering (PPJoin-family, Xiao et al. WWW'08): order each document's
    distinct word-3-gram shingles by ascending global frequency (rarest
    first), keep only the first n - ceil(t*n) + 1 as the document's
    PREFIX, and generate candidates only where two prefixes share a
    shingle. Pigeonhole guarantee: any pair with Jaccard >= t shares
    >= ceil(t*|x|) elements, so the globally-smallest shared element
    sits inside BOTH prefixes — recall is exactly 1.0 by construction
    (asserted against brute force in tests), unlike the probabilistic
    MinHash route, and with no signature to tune.

    The set universe is SHINGLES, not tokens, deliberately: on shingles
    (order-sensitive, near-unique) high-Jaccard pairs are the true
    near-dups, so the output is sparse; token sets over a Zipf vocab
    would make most pairs qualify and the join inherently quadratic.
    Scale shape: prefix elements are the RARE ones, so candidate blocks
    are the small-posting blocks — the frequent-element blowup is
    filtered out by construction; everything else is equi-joins and
    per-doc windows. The third member of the near-dup join family: LSH
    (probabilistic, driver tier), blocked-by-source (quadratic
    baseline), prefix-filter (exact, subquadratic)."""
    from apache_beam_challange_spark.operators.dedup import shingles

    docs = load_table(spark, sf_dir, "documents")
    # the distinct shingle set feeds five consumers (freq, ranked, both
    # verify sides, sizes); Spark's exchange reuse already shares the
    # materialized distinct across them (verified: a localCheckpoint here
    # does not change the 4.7 s sf0.1 wall), so the plan stays fully lazy
    sh = shingles(docs, n=3, distinct=True)
    freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("sf"))
    w_rank = Window.partitionBy("doc_id").orderBy("sf", "shingle")
    w_n = Window.partitionBy("doc_id")
    # shingle frequencies are corpus-scale (unlike a word vocab), so the
    # attach is a plain equi-join — NOT broadcast — by design
    ranked = sh.join(freq, "shingle").select(
        "doc_id",
        "shingle",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    prefix = ranked.filter(
        F.col("rn") <= F.col("n") - F.expr("(n + 1) div 2") + 1
    ).select("doc_id", "shingle", "rn", "n")
    a = prefix.select(
        F.col("doc_id").alias("doc_id_1"),
        "shingle",
        F.col("rn").alias("rn1"),
        F.col("n").alias("na"),
    )
    b = prefix.select(
        F.col("doc_id").alias("doc_id_2"),
        "shingle",
        F.col("rn").alias("rn2"),
        F.col("n").alias("nb"),
    )
    # r14 (guide §3.2 — shrink the verification join's input): PPJoin's
    # POSITIONAL filter (Xiao et al. WWW'08 §4). The shingle order
    # (global frequency, shingle) is one total order shared by every
    # document, so for a candidate generated at prefix positions
    # (rn1, rn2) any common shingle is either < the match in that order
    # (at most min(rn1-1, rn2-1) of those in both) or >= it (at most
    # min(na-rn1+1, nb-rn2+1)): overlap <= ub. Jaccard >= 0.5 needs
    # 3*overlap >= na+nb, and the globally-smallest common shingle of a
    # qualifying pair always satisfies the bound (zero common elements
    # precede it), so keeping pairs where ANY match passes is exact —
    # recall stays 1.0, only never-verifiable pairs leave the candidate
    # set before the distinct and the two verification joins.
    ub = F.least(F.col("rn1"), F.col("rn2")) - 1 + F.least(
        F.col("na") - F.col("rn1"), F.col("nb") - F.col("rn2")
    ) + 1
    cand = (
        a.join(b, "shingle")
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .filter(F.lit(3) * ub >= F.col("na") + F.col("nb"))
        .select("doc_id_1", "doc_id_2")
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col("doc_id").alias("doc_id_1"), "shingle")
    sb = sh.select(F.col("doc_id").alias("doc_id_2"), "shingle")
    inter = (
        cand.join(sa, "doc_id_1")
        .join(sb, ["doc_id_2", "shingle"])
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    s1 = sizes.select(F.col("doc_id").alias("doc_id_1"), F.col("n_sh").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("doc_id_2"), F.col("n_sh").alias("n2"))
    jac = F.col("n_inter") / (F.col("n1") + F.col("n2") - F.col("n_inter"))
    return (
        inter.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .filter(jac >= 0.5)
        .select("doc_id_1", "doc_id_2", F.round(jac, 6).alias("jaccard"))
    )


# --- weighted sampling without replacement (Efraimidis-Spirakis) -----------


@query(
    "weighted_doc_sample",
    oracle=f"""
WITH keyed AS (
    SELECT doc_id, lang, n_chars,
           LN(CAST(({_DOC_HEX15}) % 1000003 + 1 AS DOUBLE) / 1000004.0)
               / n_chars AS k
    FROM documents
)
SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS weight,
       ROUND(k, 6) AS sample_key
FROM keyed
ORDER BY k DESC, doc_id
LIMIT 25
""".strip(),
)
def weighted_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis A-Res, IPL'06): each row draws a deterministic
    uniform u from the md5 of its id, scores k = ln(u)/w with weight
    w = n_chars, and the k-largest keys ARE a weighted sample without
    replacement — the one-pass, merge-friendly way to draw
    quality-weighted training subsets from a 100 TB corpus (top-k of
    keys is a TakeOrderedAndProject; no sequential reservoir state, no
    RNG service — retries and reshuffles reproduce the same sample).

    The uniform is (md5_15hex % 1000003 + 1) / 1000004 — the engine's
    content-addressed md5 discipline — and ln()/division are single
    IEEE-exact ops per row (no summation), so keys are bit-identical in
    both engines."""
    docs = load_table(spark, sf_dir, "documents")
    u = (
        (
            F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 15), 16, 10)
            .cast("long")
            % 1000003
            + 1
        ).cast("double")
        / 1000004.0
    )
    k = F.log(u) / F.col("n_chars")
    return (
        docs.select(
            "doc_id",
            "lang",
            F.col("n_chars").cast("long").alias("weight"),
            k.alias("k"),
        )
        .orderBy(F.col("k").desc(), "doc_id")
        .limit(25)
        .select("doc_id", "lang", "weight", F.round(F.col("k"), 6).alias("sample_key"))
    )


# --- entity resolution end-to-end: fuzzy edges -> clusters ------------------


@query(
    "entity_part_clusters",
    oracle=f"""
WITH RECURSIVE names AS (SELECT DISTINCT p_name FROM part),
ids AS (
    SELECT p_name, ROW_NUMBER() OVER (ORDER BY p_name) AS nid FROM names
),
blocked AS (
    SELECT p_name, nid, string_split(p_name, ' ')[-1] AS block FROM ids
),
bounded AS (
    SELECT p_name, nid, block FROM blocked
    QUALIFY COUNT(*) OVER (PARTITION BY block) <= {_FUZZY_BLOCK_CAP}
),
pairs AS (
    SELECT a.nid AS n1, b.nid AS n2
    FROM bounded a
    JOIN bounded b ON a.block = b.block AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
),
edges AS (
    SELECT n1 AS node, n2 AS nbr FROM pairs
    UNION ALL
    SELECT n2 AS node, n1 AS nbr FROM pairs
),
reach AS (
    SELECT nid AS node, nid AS lbl FROM ids
    UNION
    SELECT e.nbr AS node, r.lbl
    FROM reach r JOIN edges e ON e.node = r.node
),
comp AS (SELECT node, MIN(lbl) AS component FROM reach GROUP BY node),
sizes AS (
    SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM comp GROUP BY component
)
SELECT i.p_name, ci.p_name AS canonical_name, s.cluster_size,
       c.node = c.component AS is_canonical
FROM comp c
JOIN ids i ON i.nid = c.node
JOIN ids ci ON ci.nid = c.component
JOIN sizes s ON s.component = c.component
""".strip(),
)
def entity_part_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution END TO END: the blocked Levenshtein fuzzy join
    proposes same-entity edges over distinct part names, connected
    components merges them into entity clusters, and each cluster's
    lexicographically-first name becomes the canonical entity — the full
    record-linkage pipeline (block -> match -> cluster -> canonicalize)
    as one composition of already-verified operators
    (``blocked_fuzzy_pairs`` + ``connected_components``).

    Name -> integer ids via ROW_NUMBER over the DISTINCT-name table
    (entity-count-sized — 64 rows here, vocab-scale at 100 TB — so the
    global window is a deliberate small-side step, like the probe lists
    and histogram bins the global-window audit already covers); the
    iterative min-label propagation runs on integers, the recursive-CTE
    oracle reproduces the same fixpoint."""
    from apache_beam_challange_spark.operators.graph import connected_components
    from apache_beam_challange_spark.plans.curation import blocked_fuzzy_pairs

    part = load_table(spark, sf_dir, "part")
    names = part.select("p_name").distinct()
    ids = names.select(
        "p_name", F.row_number().over(Window.orderBy("p_name")).alias("nid")
    )
    pairs = blocked_fuzzy_pairs(names)
    edges = (
        pairs.join(
            ids.select(F.col("p_name").alias("name_1"), F.col("nid").alias("doc_id_1")),
            "name_1",
        )
        .join(
            ids.select(F.col("p_name").alias("name_2"), F.col("nid").alias("doc_id_2")),
            "name_2",
        )
        .select("doc_id_1", "doc_id_2")
    )
    comp = connected_components(
        ids.select(F.col("nid").alias("doc_id")), edges
    )
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return (
        comp.join(ids, comp["node"] == ids["nid"])
        .join(
            ids.select(
                F.col("nid").alias("component"),
                F.col("p_name").alias("canonical_name"),
            ),
            "component",
        )
        .join(sizes, "component")
        .select(
            "p_name",
            "canonical_name",
            "cluster_size",
            (F.col("node") == F.col("component")).alias("is_canonical"),
        )
    )


# --- Z-order layout keys ----------------------------------------------------


@query(
    "zorder_orders_keys",
    oracle="""
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
scaled AS (
    SELECT o_orderkey,
           CAST(FLOOR(CAST(((o_custkey) - (mn_c)) * 256 AS DOUBLE) / ((mx_c) - (mn_c) + 1)) AS BIGINT) AS za,
           CAST(FLOOR(CAST(((day) - (mn_d)) * 256 AS DOUBLE) / ((mx_d) - (mn_d) + 1)) AS BIGINT) AS zb
    FROM dims, b
)
SELECT o_orderkey, CAST((((za) // 1) % 2 + 2 * (((zb) // 1) % 2)) * 1 + (((za) // 2) % 2 + 2 * (((zb) // 2) % 2)) * 4 + (((za) // 4) % 2 + 2 * (((zb) // 4) % 2)) * 16 + (((za) // 8) % 2 + 2 * (((zb) // 8) % 2)) * 64 + (((za) // 16) % 2 + 2 * (((zb) // 16) % 2)) * 256 + (((za) // 32) % 2 + 2 * (((zb) // 32) % 2)) * 1024 + (((za) // 64) % 2 + 2 * (((zb) // 64) % 2)) * 4096 + (((za) // 128) % 2 + 2 * (((zb) // 128) % 2)) * 16384 AS BIGINT) AS zkey
FROM scaled
""".strip(),
)
def zorder_orders_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout keys over (o_custkey, order day): both
    dimensions scaled to 8-bit ranks by exact monotone integer
    arithmetic, then bit-interleaved into one bigint sort key. Writing
    the table sorted by this key clusters row groups into small
    rectangles of the (customer, date) plane, so min/max skipping prunes
    scans filtered on EITHER dimension — the two-predicate upgrade over
    single-column sort-on-write (tests/test_rowgroup_clustering.py), and
    what lakehouse engines expose as OPTIMIZE ZORDER. The layout effect
    itself (narrow per-file ranges on both dims after a z-sorted write)
    is asserted in tests/test_traindata.py; this query oracle-verifies
    the key arithmetic bit-for-bit.

    Scale shape: one narrow projection against broadcast global bounds —
    the sort itself is the range-partitioned write the compaction
    operator already owns."""
    from apache_beam_challange_spark.functions.layout import (
        scale_to_bits,
        zorder_key,
    )

    orders = load_table(spark, sf_dir, "orders")
    dims = orders.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01")).cast("long").alias(
            "day"
        ),
    )
    b = dims.agg(
        F.min("o_custkey").alias("mn_c"),
        F.max("o_custkey").alias("mx_c"),
        F.min("day").alias("mn_d"),
        F.max("day").alias("mx_d"),
    )
    scaled = dims.crossJoin(F.broadcast(b)).select(
        "o_orderkey",
        scale_to_bits(F.col("o_custkey"), F.col("mn_c"), F.col("mx_c")).alias("za"),
        scale_to_bits(F.col("day"), F.col("mn_d"), F.col("mx_d")).alias("zb"),
    )
    return scaled.select(
        "o_orderkey", zorder_key(F.col("za"), F.col("zb")).alias("zkey")
    )


# --- mergeable-sketch rollup: sliding-window HLL ----------------------------


@query(
    "hll_sliding_distinct_users",
    oracle="""
WITH pairs AS (
    SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
    FROM events
),
days AS (SELECT DISTINCT day FROM pairs),
hashed AS (
    SELECT day,
           ((STRPOS('0123456789abcdef', SUBSTR(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 4096 + (STRPOS('0123456789abcdef', SUBSTR(md5(CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 256 + (STRPOS('0123456789abcdef', SUBSTR(md5(CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 16 + (STRPOS('0123456789abcdef', SUBSTR(md5(CAST(user_id AS VARCHAR)), 4, 1)) - 1)) % 64 AS bucket,
           (((STRPOS('0123456789abcdef', SUBSTR(md5('w#' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 4096 + (STRPOS('0123456789abcdef', SUBSTR(md5('w#' || CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 256 + (STRPOS('0123456789abcdef', SUBSTR(md5('w#' || CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 16 + (STRPOS('0123456789abcdef', SUBSTR(md5('w#' || CAST(user_id AS VARCHAR)), 4, 1)) - 1)) * 65536 + ((STRPOS('0123456789abcdef', SUBSTR(md5('v#' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 4096 + (STRPOS('0123456789abcdef', SUBSTR(md5('v#' || CAST(user_id AS VARCHAR)), 2, 1)) - 1) * 256 + (STRPOS('0123456789abcdef', SUBSTR(md5('v#' || CAST(user_id AS VARCHAR)), 3, 1)) - 1) * 16 + (STRPOS('0123456789abcdef', SUBSTR(md5('v#' || CAST(user_id AS VARCHAR)), 4, 1)) - 1))) % 16777216 AS w
    FROM pairs
),
regs AS (
    SELECT day, bucket,
           MAX(CASE WHEN w = 0 THEN 25
                    ELSE 24 - CAST(FLOOR(LOG2(w)) AS INT) END) AS r
    FROM hashed
    GROUP BY day, bucket
),
rep AS (
    SELECT r.day + o.o AS win_day, r.bucket, r.r
    FROM regs r, (SELECT CAST(unnest(generate_series(0, 6)) AS INT) AS o) o
    WHERE r.day + o.o IN (SELECT day FROM days)
),
spine AS (
    SELECT d.day AS win_day, b.b AS bucket
    FROM days d, (SELECT unnest(generate_series(0, 63)) AS b) b
),
merged AS (
    SELECT s.win_day, s.bucket, COALESCE(MAX(rep.r), 0) AS r
    FROM spine s
    LEFT JOIN rep ON rep.win_day = s.win_day AND rep.bucket = s.bucket
    GROUP BY s.win_day, s.bucket
),
sums AS (
    SELECT win_day,
           SUM(1.0 / (CAST(1 AS BIGINT) << r)) AS s,
           SUM(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS v
    FROM merged
    GROUP BY win_day
),
est AS (
    SELECT win_day,
           CASE WHEN 0.709 * 64 * 64 / s <= 2.5 * 64 AND v > 0
                THEN 64 * LN(64.0 / v)
                ELSE 0.709 * 64 * 64 / s END AS e
    FROM sums
),
exact AS (
    SELECT p.day + o.o AS win_day, COUNT(DISTINCT p.user_id) AS exact_users
    FROM pairs p, (SELECT CAST(unnest(generate_series(0, 6)) AS INT) AS o) o
    WHERE p.day + o.o IN (SELECT day FROM days)
    GROUP BY p.day + o.o
)
SELECT e.win_day, ROUND(e.e, 6) AS hll_estimate,
       CAST(x.exact_users AS BIGINT) AS exact_users
FROM est e JOIN exact x ON x.win_day = e.win_day
""".strip(),
)
def hll_sliding_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct users from MERGED HyperLogLog sketches —
    the reason sketches exist at 100 TB: per-day register tables (the
    same md5-derived 64-register layout ``hll_registers_users``
    verifies) are merged by register-wise MAX into every 7-day trailing
    window, so the sliding distinct-count rollup touches only
    days x 64 register rows, never the raw events again. The bounded
    x7 replication is the standard sliding-window-merge trick; the
    estimator is the HLL harmonic mean with the small-range linear
    count — and because every 2^-r term is an exact dyadic double whose
    exponents span < 53 bits, the harmonic sum is EXACT in any
    summation order, keeping even this float estimator engine- and
    partitioning-reproducible. Exact distinct counts ride along so the
    sketch error is visible in the verified output."""
    ev = load_table(spark, sf_dir, "events")

    def hex4(prefix: str | None, col):
        s = (
            col.cast("string")
            if prefix is None
            else F.concat(F.lit(prefix), col.cast("string"))
        )
        return F.conv(F.substring(F.md5(s), 1, 4), 16, 10).cast("long")

    # the distinct (day, user) table feeds FIVE consumers (hashed->regs,
    # the day spine twice, the replication filter, and the exact arm);
    # materialize it once (lazy localCheckpoint, the dedup-chain
    # discipline) or Spark re-runs the events scan + distinct per
    # consumer — measured 5 fact scans -> 1 in the executed plan
    pairs = (
        ev.select(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            "user_id",
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    days = pairs.select("day").distinct()
    hashed = pairs.select(
        "day",
        (hex4(None, F.col("user_id")) % 64).alias("bucket"),
        (
            (hex4("w#", F.col("user_id")) * 65536 + hex4("v#", F.col("user_id")))
            % 16777216
        ).alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(25)).otherwise(
        F.lit(24) - F.floor(F.log2(F.col("w"))).cast("int")
    )
    regs = hashed.groupBy("day", "bucket").agg(F.max(rho).alias("r"))
    offs = spark.range(0, 7).select(F.col("id").cast("int").alias("o"))
    rep = (
        regs.crossJoin(F.broadcast(offs))
        .select(F.date_add(F.col("day"), F.col("o")).alias("win_day"), "bucket", "r")
        .join(F.broadcast(days.select(F.col("day").alias("win_day"))), "win_day")
    )
    buckets = spark.range(0, 64).select(F.col("id").cast("long").alias("bucket"))
    spine = days.select(F.col("day").alias("win_day")).crossJoin(F.broadcast(buckets))
    merged = (
        spine.join(rep, ["win_day", "bucket"], "left")
        .groupBy("win_day", "bucket")
        .agg(F.coalesce(F.max("r"), F.lit(0)).alias("r"))
    )
    sums = merged.groupBy("win_day").agg(
        F.sum(F.lit(1.0) / F.expr("shiftleft(CAST(1 AS BIGINT), r)")).alias("s"),
        F.sum(F.when(F.col("r") == 0, 1).otherwise(0)).alias("v"),
    )
    raw = F.lit(0.709) * 64 * 64 / F.col("s")
    est = sums.select(
        "win_day",
        F.when(
            (raw <= 2.5 * 64) & (F.col("v") > 0),
            F.lit(64) * F.log(F.lit(64.0) / F.col("v")),
        )
        .otherwise(raw)
        .alias("e"),
    )
    exact = (
        pairs.crossJoin(F.broadcast(offs))
        .select(F.date_add(F.col("day"), F.col("o")).alias("win_day"), "user_id")
        .join(F.broadcast(days.select(F.col("day").alias("win_day"))), "win_day")
        .groupBy("win_day")
        .agg(F.count_distinct("user_id").cast("long").alias("exact_users"))
    )
    return est.join(exact, "win_day").select(
        "win_day", F.round(F.col("e"), 6).alias("hll_estimate"), "exact_users"
    )


# --- interval overlap join (bucketed, not theta) ----------------------------


@query(
    "sessions_overlapping_error_hours",
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
),
sessions AS (
    SELECT user_id, sess_id, MIN(ts) AS s_start, MAX(ts) AS s_end
    FROM numbered GROUP BY user_id, sess_id
),
errs AS (
    SELECT date_trunc('hour', ts) AS hour, COUNT(*) AS n
    FROM events WHERE event_type = 'error'
    GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS h
    FROM errs
),
hot AS (
    SELECT e.hour FROM errs e, tot WHERE e.n * tot.h > tot.t
)
SELECT h.hour,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(DISTINCT s.user_id) AS BIGINT) AS n_users
FROM hot h
JOIN sessions s
  ON s.s_start < h.hour + INTERVAL 1 HOUR AND s.s_end >= h.hour
GROUP BY h.hour
""".strip(),
)
def sessions_overlapping_error_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join done the scalable way: user sessions
    (gaps-and-islands intervals) against "hot" error hours (hours whose
    error count exceeds the average — an integer cross-multiplication,
    no float threshold). The oracle states the natural THETA join
    (s_start < h_end AND s_end >= h_start); the engine never executes
    one — each session EXPLODES into the hours it covers (bounded
    fan-out: sessions are gap-bounded and short) and overlap becomes a
    hash EQUI-join on the hour, the interval-bucketing rewrite every
    scale-out engine uses for range-overlap joins. Plan-asserted: no
    CartesianProduct / BroadcastNestedLoopJoin.

    Output per hot hour: sessions and distinct users active in it — the
    'who was exposed to the incident window' query."""
    ev = load_table(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_sess = F.when(
        F.col("ts") - F.lag("ts").over(w_lag) >= F.expr("INTERVAL 10 MINUTES"),
        1,
    ).otherwise(0)
    numbered = ev.select(
        "user_id", "ts", "event_id", new_sess.alias("new_sess")
    ).select("user_id", "ts", F.sum("new_sess").over(w_run).alias("sess_id"))
    sessions = numbered.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("s_start"), F.max("ts").alias("s_end")
    )
    errs = (
        ev.filter(F.col("event_type") == "error")
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = errs.agg(
        F.sum("n").alias("t"), F.count(F.lit(1)).alias("h")
    )
    hot = (
        errs.crossJoin(F.broadcast(tot))
        .filter(F.col("n") * F.col("h") > F.col("t"))
        .select("hour")
    )
    # bucketize: one row per hour the session touches (bounded fan-out)
    cover = sessions.select(
        "user_id",
        "sess_id",
        F.explode(
            F.sequence(
                F.date_trunc("hour", F.col("s_start")),
                F.date_trunc("hour", F.col("s_end")),
                F.expr("interval 1 hour"),
            )
        ).alias("hour"),
    )
    return (
        hot.join(cover, "hour")
        .groupBy("hour")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )


# --- CUSUM changepoint detection --------------------------------------------


@query(
    "cusum_hourly_changepoints",
    oracle="""
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hour, CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(x) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS h
    FROM hourly
),
pre AS (
    SELECT hour, x,
           SUM(x * tot.h - tot.t) OVER (
               ORDER BY hour ROWS UNBOUNDED PRECEDING
           ) AS p,
           tot.t AS t
    FROM hourly, tot
),
cusum AS (
    SELECT hour, x, t,
           p - LEAST(0, MIN(p) OVER (ORDER BY hour ROWS UNBOUNDED PRECEDING))
               AS s
    FROM pre
)
SELECT hour, x AS n_events, CAST(s AS BIGINT) AS cusum_scaled,
       CAST(CASE WHEN s > 12 * t THEN 1 ELSE 0 END AS INT) AS alarm
FROM cusum
""".strip(),
)
def cusum_hourly_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection on the hourly event-rate series — the
    classic sequential drift detector, made relational by the prefix-min
    rewrite: S_t = max(0, S_{t-1} + (x_t - mean)) has the closed form
    S_t = P_t - min(0, min_{j<=t} P_j) with P the prefix sum of
    (x_t - mean), so the apparently-sequential recurrence becomes two
    stock window functions. All arithmetic is scaled by the hour count
    (x*H - T) so the drift term is an exact integer — no float mean —
    and the alarm threshold (cumulated excess of 12 average-hours) is an
    integer comparison.

    Scale shape: the windows run over the HOURLY aggregate (~bounded
    rows/day however big the fact table), the established
    small-input-global-window pattern; the raw scan is one map-side
    combined groupBy."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hour")).agg(
        F.count(F.lit(1)).alias("x")
    )
    tot = hourly.agg(F.sum("x").alias("t"), F.count(F.lit(1)).alias("h"))
    w = Window.orderBy("hour").rowsBetween(Window.unboundedPreceding, 0)
    pre = hourly.crossJoin(F.broadcast(tot)).select(
        "hour",
        "x",
        "t",
        F.sum(F.col("x") * F.col("h") - F.col("t")).over(w).alias("p"),
    )
    cusum = pre.select(
        "hour",
        "x",
        "t",
        (F.col("p") - F.least(F.lit(0), F.min("p").over(w))).alias("s"),
    )
    return cusum.select(
        "hour",
        F.col("x").alias("n_events"),
        F.col("s").alias("cusum_scaled"),
        F.when(F.col("s") > 12 * F.col("t"), 1).otherwise(0).cast("int").alias("alarm"),
    )


# --- split leakage guard ----------------------------------------------------

@query(
    "split_leakage_pairs",
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
splits AS (
    SELECT doc_id,
           CASE WHEN {_SPLIT_HEX4} < 80 THEN 'train'
                WHEN {_SPLIT_HEX4} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
)
SELECT LEAST(s1.split, s2.split) AS split_1,
       GREATEST(s1.split, s2.split) AS split_2,
       CAST(COUNT(*) AS BIGINT) AS n_leaked_pairs
FROM cand c
JOIN splits s1 ON s1.doc_id = c.doc_id_1
JOIN splits s2 ON s2.doc_id = c.doc_id_2
WHERE s1.split <> s2.split
GROUP BY 1, 2
""".strip(),
)
def split_leakage_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/test LEAKAGE GUARD — the eval-hygiene check every training
    pipeline must run: near-duplicate document pairs (MinHash-LSH
    candidates, the verified recall stage) whose two sides land in
    DIFFERENT dataset splits (the content-addressed 80/10/10 of
    ``dataset_split_counts``). A near-dup of a training doc sitting in
    val/test silently inflates eval scores; this query counts exactly
    those pairs per (split, split) cell, split pair canonicalized with
    LEAST/GREATEST so (train,val) and (val,train) fold together.

    Pure composition of two already-verified components — signatures
    from the at-rest table, splits from the md5 bucket — so the only new
    work is two dimension-cheap joins on the sparse candidate pairs."""
    cand = _lsh_pair_graph(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    bucket = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
        ).cast("long")
        % 100
    )
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    splits = docs.select("doc_id", split.alias("split"))
    s1 = splits.select(
        F.col("doc_id").alias("doc_id_1"), F.col("split").alias("split_a")
    )
    s2 = splits.select(
        F.col("doc_id").alias("doc_id_2"), F.col("split").alias("split_b")
    )
    return (
        cand.join(s1, "doc_id_1")
        .join(s2, "doc_id_2")
        .filter(F.col("split_a") != F.col("split_b"))
        .groupBy(
            F.least("split_a", "split_b").alias("split_1"),
            F.greatest("split_a", "split_b").alias("split_2"),
        )
        .agg(F.count(F.lit(1)).alias("n_leaked_pairs"))
    )


# --- per-group OLS trend (exact integer sums) -------------------------------


@query(
    "daily_trend_slopes",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS y
    FROM events GROUP BY 1, 2
),
b AS (SELECT MIN(day) AS d0 FROM daily),
xy AS (
    SELECT event_type, CAST(day - b.d0 AS BIGINT) AS x, y FROM daily, b
),
agg AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(x * y) AS BIGINT) AS sxy
    FROM xy GROUP BY event_type
)
SELECT event_type, n AS n_days,
       ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
             / (n * sxx - sx * sx), 6) AS slope
FROM agg
WHERE n >= 2
""".strip(),
)
def daily_trend_slopes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group ordinary-least-squares trend — is each event type's
    daily volume rising or falling? — computed GROUPED and EXACTLY:
    slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²) where x is the integer
    day index and y the integer daily count, so every sum is an exact
    bigint in any partitioning/summation order and the single float
    division at the end is IEEE-exact. The pattern (sufficient
    statistics as integer map-side-combined sums, model math on the
    tiny aggregate) is how regression-per-key scales to millions of
    groups — no per-group iteration, one groupBy."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(F.count(F.lit(1)).alias("y"))
    d0 = daily.agg(F.min("day").alias("d0"))
    xy = daily.crossJoin(F.broadcast(d0)).select(
        "event_type",
        F.datediff(F.col("day"), F.col("d0")).cast("long").alias("x"),
        "y",
    )
    agg = xy.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    return agg.filter(F.col("n") >= 2).select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(num / den, 6).alias("slope"),
    )


# --- Johnson-Lindenstrauss random-projection ANN ----------------------------


def _jl_plane(plane: int, dim: int = 64) -> list:
    """Component j of JL projection vector ``plane``: the same
    deterministic frac(sin)-family as the LSH hyperplanes
    (operators/similarity.py:_hyperplane) at a disjoint plane-index range,
    evaluated once at plan-build time; repr() round-trips the doubles
    exactly into the DuckDB oracle literal."""
    import math

    vals = []
    for j in range(plane * dim + 1, plane * dim + dim + 1):
        s = math.sin(float(j)) * 43758.5453
        vals.append(s - math.floor(s) - 0.5)
    return vals


_JL_PLANES = [_jl_plane(200 + p) for p in range(32)]


def _jl_oracle() -> str:
    projs = ",\n           ".join(
        "list_dot_product(v, ["
        + ", ".join(repr(x) for x in _JL_PLANES[p])
        + f"]) AS p{p}"
        for p in range(32)
    )
    score = " + ".join(f"c.p{p} * q.p{p}" for p in range(32))
    return f"""
WITH vecs AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
proj AS (
    SELECT vec_id,
           {projs}
    FROM vecs
),
scored AS (
    SELECT c.vec_id, {score} AS s
    FROM proj c CROSS JOIN (SELECT * FROM proj WHERE vec_id = 0) q
    WHERE c.vec_id <> 0
),
short AS (SELECT vec_id FROM scored ORDER BY s DESC, vec_id LIMIT 100)
SELECT v.vec_id, v.label,
       ROUND(list_cosine_similarity(v.v, q.qv), 6) AS cosine_sim
FROM short s
JOIN vecs v ON v.vec_id = s.vec_id
CROSS JOIN (SELECT v AS qv FROM vecs WHERE vec_id = 0) q
ORDER BY cosine_sim DESC, v.vec_id
LIMIT 20
""".strip()


@query("rp_jl_topk_vec0", oracle=_jl_oracle())
def rp_jl_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via Johnson-Lindenstrauss random projection: every vector is
    reduced 64 -> 32 dims through deterministic frac(sin) projection
    vectors, the shortlist ranks by the PROJECTED dot product (JL
    preserves inner products to within distortion ~ sqrt(ln n / k)),
    and exact cosine reranks the top-100. The continuous-projection
    sibling of the sign-LSH family: same hyperplane machinery, but
    keeping the real projections instead of quantizing to sign bits.
    HONEST ABLATION, not a serving route: on this NEAR-ORTHOGONAL corpus
    the JL distortion (~1/sqrt(k)) exceeds the tiny true-neighbor signal
    gap, so measured recall@20 is corpus-size-dependent — 0.85 at 500
    vectors (sf0.01), 0.75 at the sf0.001 fixture (floor 0.70 pinned),
    collapsing to 0.35 at 2000 vectors (sf0.1) — which is exactly WHY
    the servable ANN tier uses OR-amplified sign-LSH / IVF(+PQ) /
    SQ8-rerank instead of raw dimensionality reduction; this query
    documents that design decision with a measured, oracle-checked
    datapoint (the same role the recall-0.10 single-table LSH ablation
    plays). Each projection is the SAME
    sequential left-to-right fold in both engines (the
    ``functions.vector.dot`` discipline), so even this float shortlist
    is oracle-stable.

    Scale shape: projections are a narrow per-row map against literal
    plane vectors (broadcast by value into the codegen'd expression);
    the shortlist is a TakeOrderedAndProject; only <=100 float vectors
    are ever reread for the rerank."""
    from apache_beam_challange_spark.functions.vector import as_double, cosine, dot

    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))
    # r13 (guide §1.2 step 2): the 32 projections were 32 independent
    # column expressions — a 32 x (zip_with + aggregate-over-64) tree
    # that dominated the wall via analysis/codegen, not data. One
    # transform over a literal array-of-planes evaluates the IDENTICAL
    # per-plane fold (same functions.vector.dot lambda, same 0.0 init,
    # same left-to-right order — bit-equal projections) in a tree 1/32
    # the size. The shortlist score folds ps x qs with the same
    # sequential aggregate; it feeds ONLY the ORDER BY, where its one
    # representational difference from the old t0+t1+... chain (a
    # possible -0.0 vs +0.0 when every term is a signed zero) cannot
    # reorder anything (-0.0 == 0.0 in comparisons).
    planes = F.array(*[F.lit(_JL_PLANES[p]) for p in range(32)])
    proj = emb.select(
        "vec_id", F.transform(planes, lambda pl: dot(v, pl)).alias("ps")
    )
    qproj = proj.filter(F.col("vec_id") == 0).select(F.col("ps").alias("qs"))
    score = F.aggregate(
        F.zip_with(F.col("ps"), F.col("qs"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    shortlist = (
        proj.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qproj))
        .select("vec_id", score.alias("s"))
        .orderBy(F.col("s").desc(), F.col("vec_id"))
        .limit(100)
        .select("vec_id")
    )
    q = emb.filter(F.col("vec_id") == 0).select(
        as_double(F.col("embedding")).alias("__qvec")
    )
    return (
        shortlist.join(emb, "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(as_double(F.col("embedding")), F.col("__qvec")), 6).alias(
                "cosine_sim"
            ),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(20)
    )


# --- session co-visitation PMI ----------------------------------------------


@query(
    "session_covisit_pmi",
    oracle="""
WITH flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     >= INTERVAL 10 MINUTE
                THEN 1 ELSE 0 END AS new_sess
    FROM events
),
numbered AS (
    SELECT user_id, event_type,
           SUM(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
           ) AS sess_id
    FROM flagged
),
member AS (
    SELECT DISTINCT user_id, sess_id, event_type FROM numbered
),
n_sess AS (
    SELECT CAST(COUNT(DISTINCT (user_id, sess_id)) AS BIGINT) AS n
    FROM member
),
singles AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
    FROM member GROUP BY event_type
),
pairs AS (
    SELECT a.event_type AS et_1, b.event_type AS et_2,
           CAST(COUNT(*) AS BIGINT) AS c_ab
    FROM member a
    JOIN member b ON a.user_id = b.user_id AND a.sess_id = b.sess_id
                 AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT p.et_1, p.et_2, p.c_ab AS n_sessions_together,
       ROUND(LN(CAST(p.c_ab AS DOUBLE) * n_sess.n / (s1.c * s2.c)), 6) AS pmi
FROM pairs p
JOIN singles s1 ON s1.event_type = p.et_1
JOIN singles s2 ON s2.event_type = p.et_2
CROSS JOIN n_sess
""".strip(),
)
def session_covisit_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral co-visitation: which event types co-occur in the SAME
    user session more than chance — the session-level twin of
    ``token_cooccurrence_pmi`` (documents -> sessions, tokens -> event
    types), the signal behind co-view/co-purchase recommenders. Sessions
    come from the verified gaps-and-islands rewrite; membership is
    distinct (session, type); PMI keeps exact integers inside ONE ln
    (the established determinism discipline — no float intermediate
    sums).

    Scale shape: the pair self-join is within (user, sess) groups whose
    distinct-type cardinality is bounded by the type vocabulary (5 here,
    rarely >100s in practice), so the quadratic term is per-session
    vocab, never corpus-sized; everything else is map-side-combined
    aggregation."""
    ev = load_table(spark, sf_dir, "events")
    w_lag = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_run = w_lag.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_sess = F.when(
        F.col("ts") - F.lag("ts").over(w_lag) >= F.expr("INTERVAL 10 MINUTES"),
        1,
    ).otherwise(0)
    member = (
        ev.select("user_id", "ts", "event_id", "event_type", new_sess.alias("ns"))
        .select("user_id", "event_type", F.sum("ns").over(w_run).alias("sess_id"))
        .select("user_id", "sess_id", "event_type")
        .distinct()
    )
    n_sess = member.select("user_id", "sess_id").distinct().agg(
        F.count(F.lit(1)).alias("n")
    )
    singles = member.groupBy("event_type").agg(F.count(F.lit(1)).alias("c"))
    a = member.select("user_id", "sess_id", F.col("event_type").alias("et_1"))
    b = member.select("user_id", "sess_id", F.col("event_type").alias("et_2"))
    pairs = (
        a.join(b, ["user_id", "sess_id"])
        .filter(F.col("et_1") < F.col("et_2"))
        .groupBy("et_1", "et_2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
    )
    s1 = singles.select(F.col("event_type").alias("et_1"), F.col("c").alias("c1"))
    s2 = singles.select(F.col("event_type").alias("et_2"), F.col("c").alias("c2"))
    return (
        pairs.join(F.broadcast(s1), "et_1")
        .join(F.broadcast(s2), "et_2")
        .crossJoin(F.broadcast(n_sess))
        .select(
            "et_1",
            "et_2",
            F.col("c_ab").alias("n_sessions_together"),
            F.round(
                F.log(
                    F.col("c_ab").cast("double")
                    * F.col("n")
                    / (F.col("c1") * F.col("c2"))
                ),
                6,
            ).alias("pmi"),
        )
    )


# --- windowed conversion funnel (last-touch within 1h) ----------------------


@query(
    "timed_conversion_counts",
    oracle="""
WITH ordered AS (
    SELECT user_id, ts, event_type,
           LAST_VALUE(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS last_click
    FROM events
),
conv AS (
    SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
    FROM ordered
    WHERE event_type = 'purchase'
      AND last_click IS NOT NULL
      AND ts - last_click <= INTERVAL 1 HOUR
)
SELECT day,
       CAST(COUNT(*) AS BIGINT) AS n_conversions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM conv
GROUP BY day
""".strip(),
)
def timed_conversion_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed conversion funnel — purchases attributed to a click
    within the last hour (last-touch attribution with a conversion
    window): the click timestamp is carried forward per user by a
    LAST_VALUE IGNORE NULLS window (the LOCF machinery applied to
    attribution), and a purchase converts iff the carried click is
    within the window. One user_id-partitioned window + one aggregate —
    no clicks x purchases join, which is how attribution stays linear
    when both sides are corpus-sized."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    last_click = F.last(
        F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
    ).over(w)
    conv = (
        ev.select(
            "user_id",
            "ts",
            "event_type",
            last_click.alias("last_click"),
        )
        .filter(
            (F.col("event_type") == "purchase")
            & F.col("last_click").isNotNull()
            & (F.col("ts") - F.col("last_click") <= F.expr("INTERVAL 1 HOUR"))
        )
        .select(
            "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("day")
        )
    )
    return conv.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_conversions"),
        F.count_distinct("user_id").alias("n_users"),
    )


# --- spatial grid density ---------------------------------------------------


@query(
    "station_grid_density",
    oracle="""
WITH stations AS (
    SELECT
        s_suppkey AS id,
        s_name    AS name,
        CAST(51.4 AS DOUBLE) + (s_suppkey % 20) * CAST(0.01 AS DOUBLE)
            AS latitude,
        CAST(-0.25 AS DOUBLE)
            + FLOOR(s_suppkey / 20.0) * CAST(0.015 AS DOUBLE) AS longitude
    FROM supplier
),
rides AS (
    SELECT
        l_orderkey * 10 + l_linenumber AS ride_id,
        CASE WHEN l_orderkey % 97 = 0 THEN NULL ELSE l_suppkey END AS start_station_id
    FROM lineitem
),
counts AS (
    SELECT start_station_id AS id, CAST(COUNT(*) AS BIGINT) AS n_rides
    FROM rides WHERE start_station_id IS NOT NULL
    GROUP BY 1
),
micro AS (
    SELECT s.id,
           CAST(ROUND(s.latitude * 1000000, 0) AS BIGINT) AS lat6,
           CAST(ROUND(s.longitude * 1000000, 0) AS BIGINT) AS lon6,
           COALESCE(c.n_rides, 0) AS n_rides
    FROM stations s LEFT JOIN counts c ON c.id = s.id
),
cells AS (
    SELECT id, lat6, lon6, n_rides,
           CAST(FLOOR(CAST(lat6 AS DOUBLE) / 20000) AS BIGINT) AS cell_y,
           CAST(FLOOR(CAST(lon6 AS DOUBLE) / 30000) AS BIGINT) AS cell_x
    FROM micro
)
SELECT cell_y, cell_x,
       CAST(COUNT(*) AS BIGINT) AS n_stations,
       CAST(SUM(n_rides) AS BIGINT) AS n_rides,
       ROUND(CAST(SUM(lat6) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
           AS centroid_lat,
       ROUND(CAST(SUM(lon6) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
           AS centroid_lon
FROM cells
GROUP BY cell_y, cell_x
""".strip(),
)
def station_grid_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial grid aggregation (geohash-style binning): stations bucket
    into fixed lat/lon cells (floor division — the degenerate-but-
    universal spatial index), ride volume folds in through one
    broadcast-joined count, and per-cell centroids come from integer
    microdegree sums (each coordinate is rounded ONCE to 1e-6 degrees,
    then summed as exact bigints — the fixed-point discipline — so the
    centroid is engine-exact up to the single final division). The
    grid-cell key is what a spatial join at 100 TB equi-joins on: two
    datasets gridded the same way become a hash join plus a
    neighbor-cell union, never a geometry cross join."""
    from apache_beam_challange_spark.sources.catalog import rides, stations

    st = stations(spark, sf_dir)
    rd = rides(spark, sf_dir)
    counts = (
        rd.filter(F.col("start_station_id").isNotNull())
        .groupBy(F.col("start_station_id").alias("id"))
        .agg(F.count(F.lit(1)).alias("n_rides"))
    )
    # cells derive from INTEGER microdegrees, not raw doubles: stations sit
    # exactly on 0.02-degree boundaries, where flooring a double division
    # is representation-sensitive (DuckDB's decimal literals vs Spark's
    # doubles disagreed by one cell before this); rounding once to 1e-6
    # degrees makes the cell key a function of exact bigints
    micro = st.join(counts, "id", "left").select(
        F.round(F.col("latitude") * 1000000, 0).cast("long").alias("lat6"),
        F.round(F.col("longitude") * 1000000, 0).cast("long").alias("lon6"),
        F.coalesce(F.col("n_rides"), F.lit(0)).alias("n_rides"),
    )
    cells = micro.select(
        "lat6",
        "lon6",
        "n_rides",
        F.floor(F.col("lat6").cast("double") / 20000).cast("long").alias("cell_y"),
        F.floor(F.col("lon6").cast("double") / 30000).cast("long").alias("cell_x"),
    )
    return cells.groupBy("cell_y", "cell_x").agg(
        F.count(F.lit(1)).alias("n_stations"),
        F.sum("n_rides").alias("n_rides"),
        F.round(
            F.sum("lat6").cast("double") / F.count(F.lit(1)) / 1000000.0, 6
        ).alias("centroid_lat"),
        F.round(
            F.sum("lon6").cast("double") / F.count(F.lit(1)) / 1000000.0, 6
        ).alias("centroid_lon"),
    )


# --- bigram LM surprise (add-one smoothed) ----------------------------------


@query(
    "bigram_surprise_docs",
    oracle="""
WITH tok AS (
    SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
),
pos AS (
    SELECT doc_id, tokens,
           unnest(generate_series(1, len(tokens) - 1)) AS i
    FROM tok WHERE len(tokens) >= 2
),
bg AS (SELECT doc_id, tokens[i] AS w1, tokens[i+1] AS w2 FROM pos),
c12 AS (
    SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY w1, w2
),
c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY w1),
v AS (
    SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
),
doc AS (
    SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           SUM(CAST(FLOOR(LN(c12.c + 1) * 1000000000 + 0.5) AS BIGINT)
               - CAST(FLOOR(LN(c1.c + v.v) * 1000000000 + 0.5) AS BIGINT))
               AS s_fp
    FROM bg b
    JOIN c12 ON c12.w1 = b.w1 AND c12.w2 = b.w2
    JOIN c1 ON c1.w1 = b.w1
    CROSS JOIN v
    GROUP BY b.doc_id
)
SELECT doc_id, n_bigrams,
       ROUND(s_fp / 1000000000.0 / n_bigrams, 6) AS avg_logprob
FROM doc
ORDER BY avg_logprob ASC, doc_id
LIMIT 20
""".strip(),
)
def bigram_surprise_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model surprise with add-one smoothing — the
    order-2 extension of ``unigram_surprise_docs`` (CCNet-style
    perplexity filtering, the corpus as its own LM): per-doc mean of
    ln((C(w1,w2)+1) / (C(w1)+V)), the 20 most surprising documents
    surfaced. Every ln sees only exact integers and is fixed-pointed to
    1e-9 BEFORE summation (the round-5 determinism discipline), so
    per-doc totals are summation-order-independent bigints in both
    engines.

    Scale shape: BOTH count tables join as plain equi-joins — a word
    vocabulary grows with the corpus (URLs, typos), so force-broadcasting
    the unigram side is the same hazard class as the per-doc size tables
    removed from jaccard_pairs in round 4 (ADVICE r5); AQE broadcasts it
    at runtime when it actually is small. Only the 1-row vocabulary-size
    scalar is forced. One groupBy per aggregation level, all map-side
    combined."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    bg = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1),"
                " slice(split(text, ' '), 2, size(split(text, ' ')) - 1),"
                " (a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    v = (
        docs.select(F.explode(toks).alias("token"))
        .agg(F.count_distinct("token").alias("v"))
    )
    fp = lambda col: F.floor(F.log(col) * 1000000000 + 0.5).cast("long")
    doc = (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum(fp(F.col("c12") + 1) - fp(F.col("c1") + F.col("v"))).alias("s_fp"),
        )
    )
    return (
        doc.select(
            "doc_id",
            "n_bigrams",
            F.round(
                F.col("s_fp") / 1000000000.0 / F.col("n_bigrams"), 6
            ).alias("avg_logprob"),
        )
        .orderBy(F.col("avg_logprob").asc(), "doc_id")
        .limit(20)
    )


# --- per-language percentile normalization ----------------------------------


@query(
    "quality_percentile_by_lang",
    oracle=f"""
WITH scored AS (
    SELECT doc_id, lang, {QUALITY_SCORE_SQL} AS q FROM documents
),
ranked AS (
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q DESC, doc_id)
               AS rn,
           COUNT(*) OVER (PARTITION BY lang) AS n
    FROM scored
)
SELECT doc_id, lang,
       ROUND(CAST(rn - 1 AS DOUBLE) / (n - 1), 6) AS pct_rank
FROM ranked
WHERE n > 1
""".strip(),
)
def quality_percentile_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile-rank normalization of the quality score WITHIN each
    language — the calibration step that makes quality cuts comparable
    across strata (a fixed absolute threshold keeps different fractions
    of each language; the percentile is the score that does not). Rank
    ties break on doc_id so the normalized value is deterministic; the
    one division is exact-integer-in, IEEE-exact out.

    Scale shape: one key-partitioned window per language — the same
    single-shuffle shape as the top-decile cut this generalizes."""
    from apache_beam_challange_spark.functions.text import quality_score

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "lang", quality_score(F.col("text")).alias("q"))
    w = Window.partitionBy("lang").orderBy(F.col("q").desc(), "doc_id")
    wn = Window.partitionBy("lang")
    ranked = scored.select(
        "doc_id",
        "lang",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    return ranked.filter(F.col("n") > 1).select(
        "doc_id",
        "lang",
        F.round((F.col("rn") - 1).cast("double") / (F.col("n") - 1), 6).alias(
            "pct_rank"
        ),
    )


# --- MMR diversified re-ranking ---------------------------------------------


def _mmr_oracle(k_cand: int = 50, k_out: int = 10, lam: float = 0.7) -> str:
    """Unrolled greedy-MMR oracle: one CTE pair per selection step (the
    k-means/PageRank unrolled-trajectory discipline) — sel_t picks the
    argmax of lam*rel - (1-lam)*max-sim-to-selected over the remaining
    candidates, ordering on the UNROUNDED score (identical doubles in
    both engines because rel and sim are 1e-6-rounded first)."""
    head = f"""
vecs AS MATERIALIZED (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
rel AS MATERIALIZED (
    SELECT v.vec_id, v.label,
           ROUND(list_cosine_similarity(v.v, q.qv), 6) AS rel
    FROM vecs v
    CROSS JOIN (SELECT v AS qv FROM vecs WHERE vec_id = 0) q
    WHERE v.vec_id <> 0
    ORDER BY rel DESC, v.vec_id LIMIT {k_cand}
),
sim AS MATERIALIZED (
    SELECT a.vec_id AS a, b.vec_id AS b,
           ROUND(list_cosine_similarity(va.v, vb.v), 6) AS s
    FROM rel a
    JOIN rel b ON a.vec_id <> b.vec_id
    JOIN vecs va ON va.vec_id = a.vec_id
    JOIN vecs vb ON vb.vec_id = b.vec_id
),
sel1 AS MATERIALIZED (
    SELECT vec_id, label, {lam} * rel AS mmr, 1 AS rnk FROM rel
    ORDER BY rel DESC, vec_id LIMIT 1
),
selu1 AS MATERIALIZED (SELECT vec_id FROM sel1)"""
    parts = [head.strip()]
    for t in range(2, k_out + 1):
        parts.append(
            f"""cand{t} AS MATERIALIZED (
    SELECT r.vec_id, r.label,
           {lam} * r.rel - {round(1 - lam, 10)} * (
               SELECT MAX(s.s) FROM sim s
               WHERE s.a = r.vec_id
                 AND s.b IN (SELECT vec_id FROM selu{t - 1})
           ) AS mmr
    FROM rel r
    WHERE r.vec_id NOT IN (SELECT vec_id FROM selu{t - 1})
),
sel{t} AS MATERIALIZED (
    SELECT vec_id, label, mmr, {t} AS rnk FROM cand{t}
    ORDER BY mmr DESC, vec_id LIMIT 1
),
selu{t} AS MATERIALIZED (
    SELECT vec_id FROM selu{t - 1} UNION ALL SELECT vec_id FROM sel{t}
)"""
        )
    union = "\nUNION ALL\n".join(f"SELECT * FROM sel{t}" for t in range(1, k_out + 1))
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT rnk AS rank, vec_id, label, ROUND(mmr, 6) AS mmr_score
FROM ({union})
ORDER BY rank
"""
    ).strip()


def mmr_candidate_sims(spark: SparkSession, sf_dir: str, k_cand: int = 50):
    """MMR's DISTRIBUTED stages, exposed for plan assertions: the corpus
    top-``k_cand`` recall cut (TakeOrderedAndProject — the only
    corpus-scale scan) and the pairwise cosine block over those
    candidates only. The cross join's BOTH sides descend from the
    top-k cut, so it is k_cand x k_cand by construction — never
    corpus-sized (plan-asserted in tests/test_plans.py)."""
    from apache_beam_challange_spark.functions.vector import as_double, cosine
    from apache_beam_challange_spark.operators.similarity import knn_join_exact

    emb = load_table(spark, sf_dir, "embeddings")
    cand = knn_join_exact(emb, [0], k_cand)
    cvecs = cand.select("vec_id", "label", "cosine_sim").join(
        emb.select("vec_id", "embedding"), "vec_id"
    )
    a = cvecs.select(
        F.col("vec_id").alias("a"), as_double(F.col("embedding")).alias("va")
    )
    b = cvecs.select(
        F.col("vec_id").alias("b"), as_double(F.col("embedding")).alias("vb")
    )
    sims = (
        a.crossJoin(b)
        .filter(F.col("a") != F.col("b"))
        .select("a", "b", F.round(cosine(F.col("va"), F.col("vb")), 6).alias("s"))
    )
    return cand, sims


@query("mmr_diversified_topk_vec0", oracle=_mmr_oracle())
def mmr_diversified_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranking (Carbonell & Goldstein,
    SIGIR'98) — the diversification stage completing the retrieval stack
    (BM25 -> RRF fusion -> MMR): greedily pick 10 of the top-50 cosine
    candidates, each step maximizing lam*relevance - (1-lam)*max
    similarity to what is already selected, so near-duplicate hits stop
    crowding the result page.

    Scale shape: the RECALL stage (corpus top-50) and the PAIRWISE sims
    (50x50, parameter-bounded) are distributed DataFrame plans; the
    greedy selection itself is inherently sequential over k*|cand|
    (500 comparisons) and runs driver-side on the collected
    candidate-set — the reranker head-node step, same cost class as the
    sanctioned OPQ dim-allocation and CC convergence scalars. Both rel
    and pairwise sims are rounded to 1e-6 BEFORE the greedy loop, so
    the driver's doubles equal the oracle's and the unrolled-CTE
    trajectory reproduces the selection exactly."""
    cand, sims = mmr_candidate_sims(spark, sf_dir, k_cand=50)
    # parameter-bounded collects: 50 rel rows + 50*49 sim rows
    rel_rows = collect_bounded(cand.select("vec_id", "label", "cosine_sim"), 50)
    sim_map = {(a, b): s for a, b, s in collect_bounded(sims, 50 * 49)}
    rel = {v: (label, cs) for v, label, cs in rel_rows}
    # NOTE: mu is the LITERAL 0.3, matching the oracle's round(1-lam, 10)
    # — python's (1 - 0.7) is 0.30000000000000004, a DIFFERENT double,
    # and the engine==oracle trajectory claim rests on identical
    # coefficients (found by review; the two constants must stay paired)
    lam, mu = 0.7, 0.3
    selected: list[tuple] = []
    chosen: list = []
    remaining = sorted(rel)
    first = max(remaining, key=lambda v: (rel[v][1], -v))
    selected.append((1, first, rel[first][0], lam * rel[first][1]))
    chosen.append(first)
    remaining.remove(first)
    for t in range(2, 11):
        best, best_score = None, None
        for v in remaining:
            pen = max(sim_map[(v, s)] for s in chosen)
            score = lam * rel[v][1] - mu * pen
            if best is None or score > best_score or (
                score == best_score and v < best
            ):
                best, best_score = v, score
        selected.append((t, best, rel[best][0], best_score))
        chosen.append(best)
        remaining.remove(best)
    out = local_frame(
        spark, selected, "rank int, vec_id long, label int, mmr double"
    )
    return out.select(
        "rank", "vec_id", "label", F.round(F.col("mmr"), 6).alias("mmr_score")
    )


# --- declarative data-quality verification (Deequ-shaped) -------------------


@query(
    "dq_verification_report",
    oracle="""
WITH base AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(o_custkey) AS BIGINT) AS n_custkey,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_dist_orderkey,
           MIN(o_totalprice) AS min_price
    FROM orders
),
fk AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orphans
    FROM orders o
    WHERE o.o_custkey IS NOT NULL
      AND NOT EXISTS (
        SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey
      )
)
SELECT * FROM (
    SELECT 'size(orders) > 0' AS constraint,
           CAST(n AS DOUBLE) AS metric,
           CAST(CASE WHEN n > 0 THEN 1 ELSE 0 END AS INT) AS passed
    FROM base
    UNION ALL
    SELECT 'completeness(o_custkey) = 1.0',
           ROUND(CAST(n_custkey AS DOUBLE) / n, 6),
           CAST(CASE WHEN n_custkey = n THEN 1 ELSE 0 END AS INT)
    FROM base
    UNION ALL
    SELECT 'uniqueness(o_orderkey) = 1.0',
           ROUND(CAST(n_dist_orderkey AS DOUBLE) / n, 6),
           CAST(CASE WHEN n_dist_orderkey = n THEN 1 ELSE 0 END AS INT)
    FROM base
    UNION ALL
    SELECT 'min(o_totalprice) >= 0',
           ROUND(min_price, 6),
           CAST(CASE WHEN min_price >= 0 THEN 1 ELSE 0 END AS INT)
    FROM base
    UNION ALL
    SELECT 'referential_integrity(o_custkey -> c_custkey)',
           CAST(n_orphans AS DOUBLE),
           CAST(CASE WHEN n_orphans = 0 THEN 1 ELSE 0 END AS INT)
    FROM fk
) t
""".strip(),
)
def dq_verification_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality verification (the Deequ/Great-Expectations
    shape): a constraint suite — row count, completeness, key
    uniqueness, value bounds, referential integrity — evaluated into ONE
    report of (constraint, metric, passed) rows. The scan metrics fold
    in a single aggregation pass over the fact table; the FK check is
    one anti-join with the filter on the probe side; metrics are exact
    integer ratios (single rounded division each), so the report is
    engine-exact, and `passed` compares INTEGERS, never floats.

    Scale shape: at 100 TB this is the nightly contract gate — one scan
    + one anti-join however many constraints share them, which is
    exactly why the declarative form (state constraints, let one plan
    serve all) beats N ad-hoc queries."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    base = orders.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("o_custkey").alias("n_custkey"),
        F.count_distinct("o_orderkey").alias("n_dist_orderkey"),
        F.min("o_totalprice").alias("min_price"),
    )
    orphans = (
        orders.filter(F.col("o_custkey").isNotNull())
        .join(
            customer.select(F.col("c_custkey").alias("o_custkey")),
            "o_custkey",
            "left_anti",
        )
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )

    def row(name, metric, passed):
        return F.struct(
            F.lit(name).alias("constraint"),
            metric.alias("metric"),
            passed.cast("int").alias("passed"),
        )

    checks = base.select(
        F.explode(
            F.array(
                row(
                    "size(orders) > 0",
                    F.col("n").cast("double"),
                    F.when(F.col("n") > 0, 1).otherwise(0),
                ),
                row(
                    "completeness(o_custkey) = 1.0",
                    F.round(F.col("n_custkey").cast("double") / F.col("n"), 6),
                    F.when(F.col("n_custkey") == F.col("n"), 1).otherwise(0),
                ),
                row(
                    "uniqueness(o_orderkey) = 1.0",
                    F.round(
                        F.col("n_dist_orderkey").cast("double") / F.col("n"), 6
                    ),
                    F.when(F.col("n_dist_orderkey") == F.col("n"), 1).otherwise(0),
                ),
                row(
                    "min(o_totalprice) >= 0",
                    F.round(F.col("min_price"), 6),
                    F.when(F.col("min_price") >= 0, 1).otherwise(0),
                ),
            )
        ).alias("c")
    ).select("c.constraint", "c.metric", "c.passed")
    fk = orphans.select(
        F.lit("referential_integrity(o_custkey -> c_custkey)").alias("constraint"),
        F.col("n_orphans").cast("double").alias("metric"),
        F.when(F.col("n_orphans") == 0, 1).otherwise(0).cast("int").alias("passed"),
    )
    return checks.unionAll(fk)


# --- spatial radius join (grid-bucketed, not all-pairs) ---------------------

#: Radius in km; the grid cell must be >= the radius in both axes so any
#: within-radius pair falls in the same or an adjacent cell (the 3x3
#: neighborhood guarantee). 0.02 deg lat ~ 2.22 km, 0.03 deg lon at 51.5N
#: ~ 2.08 km, both >= 2.0 km.
_RADIUS_KM = 2.0


#: the station/grid/radius CTE chain (stations -> micro -> cells ->
#: probe -> cand -> dist) — the SINGLE SQL definition of the station
#: radius geometry, shared by this query's oracle and the
#: plans/filtering.py consumers (Adamic-Adar, grid DBSCAN) so the
#: radius / cell size / station formula cannot drift between oracles
STATION_RADIUS_CTE = """
stations AS (
    SELECT
        s_suppkey AS id,
        CAST(51.4 AS DOUBLE) + (s_suppkey % 20) * CAST(0.01 AS DOUBLE)
            AS latitude,
        CAST(-0.25 AS DOUBLE)
            + FLOOR(s_suppkey / 20.0) * CAST(0.015 AS DOUBLE) AS longitude
    FROM supplier
),
micro AS (
    SELECT id, latitude, longitude,
           CAST(ROUND(latitude * 1000000, 0) AS BIGINT) AS lat6,
           CAST(ROUND(longitude * 1000000, 0) AS BIGINT) AS lon6
    FROM stations
),
cells AS (
    SELECT id, latitude, longitude,
           CAST(FLOOR(CAST(lat6 AS DOUBLE) / 20000) AS BIGINT) AS cy,
           CAST(FLOOR(CAST(lon6 AS DOUBLE) / 30000) AS BIGINT) AS cx
    FROM micro
),
probe AS (
    SELECT c.id, c.latitude, c.longitude,
           c.cy + dy.d AS ny, c.cx + dx.d AS nx
    FROM cells c,
         (SELECT unnest(generate_series(-1, 1)) AS d) dy,
         (SELECT unnest(generate_series(-1, 1)) AS d) dx
),
cand AS (
    SELECT a.id AS id_1, b.id AS id_2,
           a.latitude AS la1, a.longitude AS lo1,
           b.latitude AS la2, b.longitude AS lo2
    FROM probe a
    JOIN cells b ON b.cy = a.ny AND b.cx = a.nx AND a.id < b.id
),
dist AS (
    SELECT DISTINCT id_1, id_2,
           ROUND(2 * 6371.0088 * ASIN(SQRT(
               POW(SIN(RADIANS(la2 - la1) / 2), 2)
               + COS(RADIANS(la1)) * COS(RADIANS(la2))
                 * POW(SIN(RADIANS(lo2 - lo1) / 2), 2)
           )), 6) AS distance_km
    FROM cand
)
""".strip()


@query(
    "stations_within_radius_pairs",
    oracle=f"""
WITH {STATION_RADIUS_CTE}
SELECT id_1, id_2, distance_km
FROM dist
WHERE distance_km <= 2.0
""".strip(),
)
def stations_within_radius_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spatial radius join done the scalable way — the promise the grid
    query made, delivered: every station pair within 2.0 km, found by
    equi-joining each station's 3x3 CELL NEIGHBORHOOD (cells sized >=
    the radius, so no qualifying pair can escape the neighborhood —
    recall exactly 1.0 by construction, asserted against the all-pairs
    brute force in tests) and verifying the exact haversine only on
    neighborhood candidates. The all-pairs theta join never happens:
    cost is 9x the cell-collision density, not n^2.

    The haversine is the engine's own `haversine_km` (its SQL twin is
    the oracle text — the q3-established parity); cells key on integer
    microdegrees (the boundary-safe discipline of
    ``station_grid_density``)."""
    from apache_beam_challange_spark.functions.geo import haversine_km
    from apache_beam_challange_spark.sources.catalog import stations

    st = stations(spark, sf_dir)
    micro = st.select(
        "id",
        "latitude",
        "longitude",
        F.round(F.col("latitude") * 1000000, 0).cast("long").alias("lat6"),
        F.round(F.col("longitude") * 1000000, 0).cast("long").alias("lon6"),
    )
    cells = micro.select(
        "id",
        "latitude",
        "longitude",
        F.floor(F.col("lat6").cast("double") / 20000).cast("long").alias("cy"),
        F.floor(F.col("lon6").cast("double") / 30000).cast("long").alias("cx"),
    )
    offs = spark.range(-1, 2).select(F.col("id").cast("long").alias("d"))
    probe = (
        cells.crossJoin(F.broadcast(offs.select(F.col("d").alias("dy"))))
        .crossJoin(F.broadcast(offs.select(F.col("d").alias("dx"))))
        .select(
            F.col("id").alias("id_1"),
            F.col("latitude").alias("la1"),
            F.col("longitude").alias("lo1"),
            (F.col("cy") + F.col("dy")).alias("ny"),
            (F.col("cx") + F.col("dx")).alias("nx"),
        )
    )
    cand = probe.join(
        cells.select(
            F.col("id").alias("id_2"),
            F.col("latitude").alias("la2"),
            F.col("longitude").alias("lo2"),
            F.col("cy").alias("ny"),
            F.col("cx").alias("nx"),
        ),
        ["ny", "nx"],
    ).filter(F.col("id_1") < F.col("id_2"))
    dist = cand.select(
        "id_1",
        "id_2",
        F.round(
            haversine_km(
                F.col("la1"), F.col("lo1"), F.col("la2"), F.col("lo2")
            ),
            6,
        ).alias("distance_km"),
    ).distinct()
    return dist.filter(F.col("distance_km") <= _RADIUS_KM)


# --- k-core of the near-dup graph -------------------------------------------


def _k_core_oracle(k: int = 2, rounds: int = 25) -> str:
    """Unrolled peeling trajectory: round t recomputes degrees over the
    surviving edges and keeps nodes with degree >= k. After the fixpoint
    further rounds are no-ops, so running exactly ``rounds`` rounds
    equals the engine's converge-or-raise loop (same bound)."""
    parts = [
        f"""e0 AS MATERIALIZED (
    SELECT a.doc_id AS u, b.doc_id AS v
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"""d{t} AS MATERIALIZED (
    SELECT node, COUNT(*) AS d
    FROM (SELECT u AS node FROM e{t - 1} UNION ALL SELECT v FROM e{t - 1})
    GROUP BY node
),
kp{t} AS MATERIALIZED (SELECT node FROM d{t} WHERE d >= {k}),
e{t} AS MATERIALIZED (
    SELECT u, v FROM e{t - 1}
    WHERE u IN (SELECT node FROM kp{t}) AND v IN (SELECT node FROM kp{t})
)"""
        )
    return (
        "WITH "
        + _MINHASH_CTE
        + """,
bands AS (
    SELECT doc_id, CAST(FLOOR(hash_idx / 2) AS BIGINT) AS band_idx,
           STRING_AGG(CAST(min_hash AS VARCHAR), '|' ORDER BY hash_idx) AS band_val
    FROM mh
    GROUP BY doc_id, FLOOR(hash_idx / 2)
),
"""
        + ",\n".join(parts)
        + f"""
SELECT node AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_degree
FROM (SELECT u AS node FROM e{rounds} UNION ALL SELECT v FROM e{rounds})
GROUP BY node
"""
    ).strip()


@query("near_dup_k_core", oracle=_k_core_oracle())
def near_dup_k_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the near-dup candidate graph — the degeneracy peel that
    separates genuinely clustered duplicates from incidental single-band
    collisions: iteratively drop degree-<2 nodes until stable; what
    survives has at least two independent similarity links (a hub-and-
    spoke false-positive pattern peels away entirely). The fourth member
    of the graph family (CC x2, PageRank, triangles), sharing their
    two-shuffles-per-round + one-scalar-convergence-test shape; the
    oracle replays the identical peeling trajectory as unrolled
    MATERIALIZED CTEs under the same round bound the engine raises at
    (loud, never half-peeled)."""
    from apache_beam_challange_spark.operators.graph import k_core

    edges = _lsh_pair_graph(spark, sf_dir).select(
        F.col("doc_id_1").alias("u"), F.col("doc_id_2").alias("v")
    )
    return k_core(edges, k=2, max_iter=25).select(
        F.col("node").alias("doc_id"), "core_degree"
    )


# --- CDC snapshot with delete tombstones ------------------------------------


@query(
    "cdc_snapshot_with_deletes",
    oracle="""
WITH ranked AS (
    SELECT user_id, ts, event_id, event_type, value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
)
SELECT user_id, ts AS last_ts, event_type AS last_event_type,
       value AS last_value
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
""".strip(),
)
def cdc_snapshot_with_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Changelog -> serving snapshot with DELETE semantics — the full
    MERGE contract (upsert + tombstone), extending
    ``latest_event_per_user`` (SCD-1 upsert only): the key's LATEST
    change wins, and when that latest change is a tombstone ('error'
    rows stand in for deletes in this schema) the key is ABSENT from the
    snapshot — not carrying its stale pre-delete row, which is the bug
    naive "latest non-delete" folds have. One key-partitioned window +
    one filter: the tombstone decision uses the same ranked row, so no
    second pass, no anti-join.

    Scale shape: identical to the upsert snapshot (single shuffle on the
    key); at 100 TB this is how a CDC feed with deletes compacts into a
    queryable table without a table format's MERGE."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("event_type") != "error"))
        .select(
            "user_id",
            F.col("ts").alias("last_ts"),
            F.col("event_type").alias("last_event_type"),
            F.col("value").alias("last_value"),
        )
    )


#: The declarative artifact (VERDICT r7 #8): the exact upsert+tombstone
#: statement a lakehouse table format runs for this CDC fold, executed
#: by the engine's own MERGE compiler (operators/merge_into.py). Clause
#: order is load-bearing: the tombstone DELETE must precede the
#: unconditional UPDATE (first-match-wins), and the INSERT's AND guard
#: keeps tombstones for absent keys from materializing.
_CDC_MERGE_SQL = """
MERGE INTO __merge_cdc_snapshot t
USING __merge_cdc_delta s
ON t.user_id = s.user_id
WHEN MATCHED AND s.event_type = 'error' THEN DELETE
WHEN MATCHED THEN UPDATE SET last_ts = s.ts, last_event_type = s.event_type,
    last_value = s.value
WHEN NOT MATCHED AND s.event_type <> 'error' THEN
    INSERT (user_id, last_ts, last_event_type, last_value)
    VALUES (s.user_id, s.ts, s.event_type, s.value)
""".strip()


@query(
    "merge_into_cdc_snapshot",
    oracle="""
WITH ranked AS (
    SELECT user_id, ts, event_id, event_type, value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
)
SELECT user_id, ts AS last_ts, event_type AS last_event_type,
       value AS last_value
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
""".strip(),
)
def merge_into_cdc_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cdc_snapshot_with_deletes`` through the DECLARATIVE surface
    (VERDICT r7 #8): the event history splits at its midpoint timestamp
    into a served snapshot (deletes applied) and a CDC delta (latest
    post-cutoff change per user, tombstones INCLUDED), and the statement
    in ``_CDC_MERGE_SQL`` — standard MERGE INTO text — applies the delta
    via the engine's MERGE compiler. The cutoff is semantically inert
    (any split reproduces the full-history snapshot — that invariance IS
    the correctness claim, and the oracle is the cutoff-free full-history
    fold), so the oracle gate verifies the MERGE execution end to end.

    DIALECT GAP, documented: neither engine here executes MERGE natively
    (Spark's parquet catalog lacks DSv2 row-level ops; DuckDB 1.0.0
    predates MERGE, added in 1.4), so the statement is compiled to the
    copy-on-write plan a table format runs anyway — one full-outer join
    + CASE projection (operators/merge_into.py, clause semantics and the
    ANSI cardinality guard unit-tested in tests/test_merge.py)."""
    from apache_beam_challange_spark.operators.merge_into import merge_into

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.broadcast(
        ev.agg(
            F.timestamp_micros(
                (
                    (
                        F.unix_micros(F.min("ts").cast("timestamp"))
                        + F.unix_micros(F.max("ts").cast("timestamp"))
                    )
                    / 2
                ).cast("long")
            )
            .cast("timestamp_ntz")
            .alias("__cutoff")
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    pre = ev.crossJoin(cutoff).filter(F.col("ts") <= F.col("__cutoff"))
    pre.withColumn("rn", F.row_number().over(w)).filter(
        (F.col("rn") == 1) & (F.col("event_type") != "error")
    ).select(
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    ).createOrReplaceTempView("__merge_cdc_snapshot")
    post = ev.crossJoin(cutoff).filter(F.col("ts") > F.col("__cutoff"))
    post.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") == 1
    ).select("user_id", "ts", "event_type", "value").createOrReplaceTempView(
        "__merge_cdc_delta"
    )
    return merge_into(spark, _CDC_MERGE_SQL)


#: SQL:2023 full-sync reconciliation: make the target EQUAL the desired
#: state in one statement — refresh matches, insert newcomers, and the
#: NOT MATCHED BY SOURCE clause declaratively deletes target rows whose
#: key vanished from the desired state (users whose latest event became
#: a tombstone after the stale snapshot was cut).
_SYNC_MERGE_SQL = """
MERGE INTO __merge_sync_target t
USING __merge_sync_desired s
ON t.user_id = s.user_id
WHEN MATCHED THEN UPDATE SET last_ts = s.last_ts,
    last_event_type = s.last_event_type, last_value = s.last_value
WHEN NOT MATCHED THEN
    INSERT (user_id, last_ts, last_event_type, last_value)
    VALUES (s.user_id, s.last_ts, s.last_event_type, s.last_value)
WHEN NOT MATCHED BY SOURCE THEN DELETE
""".strip()


@query(
    "merge_full_sync_snapshot",
    oracle="""
WITH ranked AS (
    SELECT user_id, ts, event_id, event_type, value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn
    FROM events
)
SELECT user_id, ts AS last_ts, event_type AS last_event_type,
       value AS last_value
FROM ranked
WHERE rn = 1 AND event_type <> 'error'
""".strip(),
)
def merge_full_sync_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-sync reconciliation through the SQL:2023 MERGE extension
    (round 8): a STALE snapshot (cut at the timeline midpoint) is made
    equal to the CURRENT desired state with one declarative statement —
    ``WHEN NOT MATCHED BY SOURCE THEN DELETE`` drops the rows whose user
    has since been tombstoned, the clause plain upsert-MERGE cannot
    express (``merge_into_cdc_snapshot`` needs the delta to carry
    tombstone rows; full-sync needs neither tombstones nor a changelog —
    just the desired state). The oracle is the cutoff-free full-history
    fold, so the gate verifies all three clause paths fire correctly on
    real data (the by-source DELETE path is additionally asserted
    non-empty in tests/test_merge.py)."""
    from apache_beam_challange_spark.operators.merge_into import merge_into

    ev = load_table(spark, sf_dir, "events")
    cutoff = F.broadcast(
        ev.agg(
            F.timestamp_micros(
                (
                    (
                        F.unix_micros(F.min("ts").cast("timestamp"))
                        + F.unix_micros(F.max("ts").cast("timestamp"))
                    )
                    / 2
                ).cast("long")
            )
            .cast("timestamp_ntz")
            .alias("__cutoff")
        )
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    snap_cols = [
        "user_id",
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
        F.col("value").alias("last_value"),
    ]
    ev.crossJoin(cutoff).filter(F.col("ts") <= F.col("__cutoff")).withColumn(
        "rn", F.row_number().over(w)
    ).filter((F.col("rn") == 1) & (F.col("event_type") != "error")).select(
        *snap_cols
    ).createOrReplaceTempView("__merge_sync_target")
    ev.withColumn("rn", F.row_number().over(w)).filter(
        (F.col("rn") == 1) & (F.col("event_type") != "error")
    ).select(*snap_cols).createOrReplaceTempView("__merge_sync_desired")
    return merge_into(spark, _SYNC_MERGE_SQL)


# --- rolling-hash content-defined chunking ----------------------------------

#: Rabin-Karp parameters: base, modulus (2^31-1), window length, and the
#: boundary mask (cut where H % 64 == 0 -> expected chunk ~64 chars).
_RK_B, _RK_P, _RK_L, _RK_DIV = 256, 2147483647, 16, 64

#: (j, B^(L-1-j) mod P) rows — the power table both engines join.
_RK_POWS = [( j, pow(_RK_B, _RK_L - 1 - j, _RK_P)) for j in range(_RK_L)]


def _cdc_oracle() -> str:
    pow_values = ", ".join(f"({j}, {pw})" for j, pw in _RK_POWS)
    return f"""
WITH chars AS MATERIALIZED (
    SELECT doc_id, text, LEN(text) AS n,
           unnest(generate_series(1, LEN(text))) AS p
    FROM documents
),
coded AS (
    SELECT doc_id, n, p, unicode(SUBSTR(text, p, 1)) AS code FROM chars
),
pows(j, pw) AS (VALUES {pow_values}),
terms AS (
    SELECT c.doc_id, c.n, c.p - pows.j AS s,
           (CAST(c.code AS BIGINT) * pows.pw) % {_RK_P} AS term
    FROM coded c, pows
),
win AS (
    SELECT doc_id, n, s, SUM(term) % {_RK_P} AS h
    FROM terms
    WHERE s >= 1 AND s <= n - {_RK_L} + 1
    GROUP BY doc_id, n, s
),
cuts AS (
    SELECT doc_id, s + {_RK_L} - 1 AS cut
    FROM win
    WHERE h % {_RK_DIV} = 0 AND s + {_RK_L} - 1 < n
),
cutlists AS (
    SELECT d.doc_id, d.text, LEN(d.text) AS n,
           COALESCE(list_sort(list(DISTINCT c.cut) FILTER (c.cut IS NOT NULL)), []) AS cuts
    FROM documents d LEFT JOIN cuts c ON c.doc_id = d.doc_id
    GROUP BY d.doc_id, d.text
),
bounds AS (
    SELECT doc_id, text,
           list_prepend(0, cuts) AS starts,
           list_append(cuts, n) AS ends
    FROM cutlists
),
chunks AS (
    SELECT doc_id,
           SUBSTR(text, starts[i] + 1, ends[i] - starts[i]) AS chunk
    FROM bounds,
         LATERAL (
             SELECT unnest(generate_series(1, len(starts))) AS i
         ) ix
),
hashed AS (
    SELECT doc_id, md5(chunk) AS h, LEN(chunk) AS clen FROM chunks
)
SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(SUM(clen) AS BIGINT) AS total_chars,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_unique_chunks,
       CAST((SELECT SUM(mx) FROM (
           SELECT MAX(clen) AS mx FROM hashed GROUP BY h
       )) AS BIGINT) AS unique_chars,
       ROUND(CAST((SELECT SUM(mx) FROM (
           SELECT MAX(clen) AS mx FROM hashed GROUP BY h
       )) AS DOUBLE) / SUM(clen), 6) AS dedup_ratio
FROM hashed
""".strip()


@query("cdc_chunk_dedup_stats", oracle=_cdc_oracle())
def cdc_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking via a Rabin-Karp ROLLING HASH — the
    block-level dedup primitive (rsync / LBFS / FastCDC): a 16-char
    polynomial window hash marks a chunk boundary wherever
    H % 64 == 0, so boundaries follow CONTENT, not offsets — an
    insertion shifts bytes but downstream boundaries re-align, which is
    exactly why backup/dedup systems chunk this way. The corpus then
    reports its block-level dedup potential: total chars vs chars of
    distinct chunks (by md5 of chunk content).

    The hashes are computed the way a dedup system actually computes
    them — the INCREMENTAL rolling update inside ONE narrow
    ``mapInPandas`` pass (vectorized: a sliding-window int64 dot product
    with the power table, exact — terms < 2^55, no float), so chunk
    boundaries for a document are decided entirely within the task that
    read it: ZERO Exchange between the scan and chunk assembly
    (plan-asserted in tests/test_plans.py). Only the emitted chunk rows
    (~chars/64) shuffle, for the global distinct-hash stats. Round 5
    shipped this as a closed-form char-explosion
    (H(s) = sum_j code(s+j)*B^(L-1-j) mod P — a 16x char-row shuffle,
    VERDICT r5 "What's wrong" #1); that closed form survives as the
    DuckDB oracle, which pins the mapInPandas route to the exact same
    boundary set."""
    docs = load_table(spark, sf_dir, "documents")

    def _rk_chunk_rows(batches):
        import hashlib

        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        pows = np.array([pw for _, pw in _RK_POWS], dtype=np.int64)
        for pdf in batches:
            out_doc: list[int] = []
            out_h: list[str] = []
            out_len: list[int] = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                n = len(text)
                if n >= _RK_L:
                    codes = np.frombuffer(
                        text.encode("utf-32-le"), dtype=np.uint32
                    ).astype(np.int64)
                    h = (sliding_window_view(codes, _RK_L) @ pows) % _RK_P
                    # window start s0 (0-based) cuts after char s0+L when
                    # H % DIV == 0, never at the very end of the doc
                    idx = np.nonzero(h % _RK_DIV == 0)[0]
                    cuts = [int(i) + _RK_L for i in idx if i + _RK_L < n]
                else:
                    cuts = []
                bounds = [0, *cuts, n]
                for a, b in zip(bounds, bounds[1:]):
                    chunk = text[a:b]
                    out_doc.append(doc_id)
                    out_h.append(hashlib.md5(chunk.encode("utf-8")).hexdigest())
                    out_len.append(b - a)
            yield pd.DataFrame(
                {"doc_id": out_doc, "h": out_h, "clen": out_len}
            )

    hashed = docs.select("doc_id", "text").mapInPandas(
        _rk_chunk_rows, "doc_id bigint, h string, clen bigint"
    )
    per_hash = hashed.groupBy("h").agg(F.max("clen").alias("mx"))
    uniq = per_hash.agg(
        F.count(F.lit(1)).alias("n_unique_chunks"),
        F.sum("mx").alias("unique_chars"),
    )
    tot = hashed.agg(
        F.count_distinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("clen").alias("total_chars"),
    )
    return tot.crossJoin(F.broadcast(uniq)).select(
        "n_docs",
        "n_chunks",
        F.col("total_chars").cast("long").alias("total_chars"),
        "n_unique_chunks",
        F.col("unique_chars").cast("long").alias("unique_chars"),
        F.round(
            F.col("unique_chars").cast("double") / F.col("total_chars"), 6
        ).alias("dedup_ratio"),
    )


# --- robust (median/MAD) outlier detection ----------------------------------


@query(
    "robust_outlier_hours",
    oracle="""
WITH hx AS (
    SELECT event_type, date_trunc('hour', ts) AS hour,
           CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT) AS x
    FROM events GROUP BY 1, 2
),
st AS (SELECT event_type, quantile_cont(x, 0.5) AS med FROM hx GROUP BY 1),
d AS (
    SELECT hx.event_type, hour, x, ABS(x - med) AS dev
    FROM hx JOIN st USING (event_type)
),
m AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM d GROUP BY 1)
SELECT d.event_type, hour, x AS value_fp,
       CAST(FLOOR(4 * dev) AS BIGINT) AS dev4,
       CAST(FLOOR(4 * mad) AS BIGINT) AS mad4
FROM d JOIN m USING (event_type)
WHERE 4 * dev > 12 * mad
ORDER BY 1, 2
""".strip(),
)
def robust_outlier_hours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-series anomaly detection: hours whose fixed-point value
    sum deviates from the per-event-type MEDIAN by more than 3x the MAD
    (median absolute deviation) — the outlier screen that, unlike
    z-scores, is not itself dragged by the outliers it hunts (the
    data-quality monitor for ingest volume/value drift).

    Exactness across engines: the hourly series is fixed-point integers
    (floor(value*1e4+0.5), the rollup discipline); an exact interpolated
    median of integers is integer-or-half, so deviations are halves and
    the MAD is quarter-valued — every quantity is exactly representable
    in a double, quadrupled values are exact integers (emitted via
    FLOOR, the FLOOR-not-ROUND discipline: CAST double->bigint rounds
    in DuckDB but truncates in Spark), and the 3xMAD flag compares
    exactly-represented values, so both engines flag identical hours.

    Scale shape: ONE fact scan into the (type, hour) aggregate
    (map-side combined), localCheckpoint-ed so the median, the
    deviation join, and the MAD all run on the tiny hourly table — the
    returned plan re-reads no corpus data. The median/MAD sides are
    type-cardinality rows and explicitly broadcast."""
    ev = load_table(spark, sf_dir, "events")
    hx = (
        ev.groupBy(
            "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
        )
        .agg(
            F.sum(F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long"))
            .cast("long")
            .alias("x")
        )
        .localCheckpoint()
    )
    st = hx.groupBy("event_type").agg(F.expr("percentile(x, 0.5)").alias("med"))
    d = hx.join(F.broadcast(st), "event_type").select(
        "event_type", "hour", "x", F.abs(F.col("x") - F.col("med")).alias("dev")
    )
    m = d.groupBy("event_type").agg(
        F.expr("percentile(dev, 0.5)").alias("mad")
    )
    return (
        d.join(F.broadcast(m), "event_type")
        .filter(4 * F.col("dev") > 12 * F.col("mad"))
        .select(
            "event_type",
            "hour",
            F.col("x").alias("value_fp"),
            F.floor(4 * F.col("dev")).cast("long").alias("dev4"),
            F.floor(4 * F.col("mad")).cast("long").alias("mad4"),
        )
        .orderBy("event_type", "hour")
    )


# --- label-propagation communities on the near-dup graph ---------------------


def _lpa_oracle(rounds: int = 4) -> str:
    """Unrolled synchronous-LPA trajectory on the band-candidate graph:
    per round, neighbor-label counts then the (count DESC, label) argmax
    per node — the same deterministic tie-break the engine uses."""
    parts = [
        """e0 AS MATERIALIZED (
    SELECT a.doc_id AS u, b.doc_id AS v
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                AND a.doc_id < b.doc_id
    GROUP BY 1, 2
),
l0 AS MATERIALIZED (
    SELECT node, node AS label
    FROM (SELECT u AS node FROM e0 UNION SELECT v FROM e0)
)"""
    ]
    for t in range(1, rounds + 1):
        parts.append(
            f"""nb{t} AS (
    SELECT e.u AS node, l.label FROM e0 e JOIN l{t - 1} l ON l.node = e.v
    UNION ALL
    SELECT e.v AS node, l.label FROM e0 e JOIN l{t - 1} l ON l.node = e.u
),
cnt{t} AS (
    SELECT node, label, COUNT(*) AS c FROM nb{t} GROUP BY 1, 2
),
l{t} AS MATERIALIZED (
    SELECT node, label FROM (
        SELECT node, label,
               ROW_NUMBER() OVER (
                   PARTITION BY node ORDER BY c DESC, label
               ) AS rn
        FROM cnt{t}
    ) WHERE rn = 1
)"""
        )
    return (
        "WITH "
        + _MINHASH_CTE
        + """,
bands AS (
    SELECT doc_id, CAST(FLOOR(hash_idx / 2) AS BIGINT) AS band_idx,
           STRING_AGG(CAST(min_hash AS VARCHAR), '|' ORDER BY hash_idx) AS band_val
    FROM mh
    GROUP BY doc_id, FLOOR(hash_idx / 2)
),
"""
        + ",\n".join(parts)
        + f"""
SELECT node AS doc_id, label AS community FROM l{rounds} ORDER BY doc_id
"""
    ).strip()


@query("near_dup_label_propagation", oracle=_lpa_oracle())
def near_dup_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label-propagation communities over the near-dup
    candidate graph — the density-seeking member of the graph family
    (CC x2, PageRank, triangles, k-core): where connected components
    merge everything reachable, LPA's neighbor-majority vote keeps a
    thin bridge between two duplicate cliques from fusing them into one
    community. Deterministic by construction (synchronous rounds,
    count-then-smallest-label tie-break, fixed round count — the
    bounded-iteration discipline), so the DuckDB oracle replays the
    identical trajectory as unrolled MATERIALIZED CTEs.

    Scale shape: per round two equi-joins against the static edge list,
    one (node, label) count, one per-node argmax window — all
    hash-partitioned on node, zero driver reads."""
    from apache_beam_challange_spark.operators.graph import label_propagation

    edges = _lsh_pair_graph(spark, sf_dir).select(
        F.col("doc_id_1").alias("u"), F.col("doc_id_2").alias("v")
    )
    return (
        label_propagation(edges, rounds=4)
        .select(F.col("node").alias("doc_id"), "community")
        .orderBy("doc_id")
    )


# --- group-aware k-fold split + mix audit -------------------------------------

from apache_beam_challange_spark.plans.advanced import _hex4_sql  # noqa: E402

_KFOLD_K = 5
_KFOLD_HEX = _hex4_sql("'fold#' || CAST(user_id AS VARCHAR)")

_KFOLD_SQL = f"""
WITH assigned AS (
    SELECT user_id, event_type, {_KFOLD_HEX} % {_KFOLD_K} AS fold
    FROM events
),
per_fold_type AS (
    SELECT fold, event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM assigned GROUP BY fold, event_type
),
per_fold AS (
    SELECT fold, CAST(SUM(n) AS BIGINT) AS n_events
    FROM per_fold_type GROUP BY fold
),
global_type AS (
    SELECT event_type, CAST(SUM(n) AS BIGINT) AS ng,
           CAST(SUM(SUM(n)) OVER () AS BIGINT) AS total
    FROM per_fold_type GROUP BY event_type
),
users AS (
    SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM (SELECT DISTINCT user_id, {_KFOLD_HEX} % {_KFOLD_K} AS fold
          FROM events)
    GROUP BY fold
),
dev AS (
    SELECT t.fold,
           MAX(ABS(CAST(t.n AS DOUBLE) / CAST(f.n_events AS DOUBLE)
                   - CAST(g.ng AS DOUBLE) / CAST(g.total AS DOUBLE))) AS max_mix_dev
    FROM per_fold_type t
    JOIN per_fold f ON f.fold = t.fold
    JOIN global_type g ON g.event_type = t.event_type
    GROUP BY t.fold
)
SELECT f.fold, u.n_users, f.n_events,
       CAST(f.n_events AS DOUBLE)
       / CAST((SELECT SUM(n_events) FROM per_fold) AS DOUBLE) AS events_share,
       d.max_mix_dev
FROM per_fold f
JOIN users u ON u.fold = f.fold
JOIN dev d ON d.fold = f.fold
ORDER BY f.fold
""".strip()


@query("group_kfold_split_audit", oracle=_KFOLD_SQL)
def group_kfold_split_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware k-fold assignment (scikit-learn GroupKFold semantics,
    derandomized): every event lands in the fold of its USER's seeded
    md5 hash, so a user's history can never straddle train and eval —
    the leakage rule LLM eval-set construction lives by — and the same
    fold function reproduces the split in any engine, any run. The
    audit reports, per fold: distinct users, event count, the fold's
    share of all events, and the worst event-type mix deviation from
    the global mix (the balance check that tells you whether hash
    splitting skewed a class). One data-sized aggregate on
    (fold, type); everything downstream is <= k x types rows; the
    fold function is the engine's established 4-hex-digit md5
    convention (``countmin_user_estimates`` discipline). Exact int64
    counts; the two share divisions are single double ops written
    identically in both engines; MAX over doubles is order-free."""
    ev = load_table(spark, sf_dir, "events")

    def fold_of(col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("fold#"), col.cast("string"))), 1, 4
                ),
                16,
                10,
            ).cast("long")
            % _KFOLD_K
        )

    pft = (
        ev.select(fold_of(F.col("user_id")).alias("fold"), "event_type")
        .groupBy("fold", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_fold = pft.groupBy("fold").agg(F.sum("n").alias("n_events"))
    # the global total as a window over the K-row fold aggregate —
    # SinglePartition but bounded by k, never data-sized (the SUM()
    # OVER () the oracle writes on its 5-row global_type CTE)
    per_fold = per_fold.withColumn(
        "total", F.sum("n_events").over(Window.partitionBy())
    )
    gt = pft.groupBy("event_type").agg(F.sum("n").alias("ng"))
    users = (
        ev.select("user_id")
        .distinct()
        .select(fold_of(F.col("user_id")).alias("fold"))
        .groupBy("fold")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    dev = (
        pft.join(per_fold, "fold")
        .join(F.broadcast(gt), "event_type")
        .groupBy("fold")
        .agg(
            F.max(
                F.abs(
                    F.col("n").cast("double")
                    / F.col("n_events").cast("double")
                    - F.col("ng").cast("double")
                    / F.col("total").cast("double")
                )
            ).alias("max_mix_dev")
        )
    )
    return (
        per_fold.join(users, "fold")
        .join(dev, "fold")
        .select(
            "fold",
            "n_users",
            "n_events",
            (
                F.col("n_events").cast("double")
                / F.col("total").cast("double")
            ).alias("events_share"),
            "max_mix_dev",
        )
        .orderBy("fold")
    )


# --- k-core decomposition of the co-purchase graph ----------------------------

_KCORE_K = 3       # keep nodes with degree >= 3
_KCORE_W = 2       # edge = part pair co-purchased in >= 2 orders
_KCORE_ROUNDS = 12  # ORACLE unroll depth; >= the true convergence depth
#                    at every oracle-checked SF (1 / 10 rounds at
#                    sf0.001 / sf0.01) and extra rounds on a fixed point
#                    are exact no-ops; the ENGINE peels to convergence
#                    via the shared k_core operator


def _kcore_sql() -> str:
    parts = [
        "WITH basket AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        f"""e0 AS MATERIALIZED (
    SELECT u, v FROM (
        SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS w
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    ) WHERE w >= {_KCORE_W}
)""",
    ]
    for r in range(_KCORE_ROUNDS):
        parts.append(
            f"""d{r} AS MATERIALIZED (
    SELECT n FROM (SELECT u AS n FROM e{r} UNION ALL SELECT v AS n FROM e{r})
    GROUP BY n HAVING COUNT(*) >= {_KCORE_K}
)"""
        )
        parts.append(
            f"""e{r + 1} AS MATERIALIZED (
    SELECT u, v FROM e{r}
    WHERE u IN (SELECT n FROM d{r}) AND v IN (SELECT n FROM d{r})
)"""
        )
    final = (
        f"SELECT n AS l_partkey, CAST(COUNT(*) AS BIGINT) AS core_degree\n"
        f"FROM (SELECT u AS n FROM e{_KCORE_ROUNDS}"
        f" UNION ALL SELECT v AS n FROM e{_KCORE_ROUNDS})\n"
        f"GROUP BY n ORDER BY l_partkey"
    )
    return ",\n".join(parts) + "\n" + final


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thresholded co-purchase edge list (u < v, co-bought in >=
    ``_KCORE_W`` orders) — shared by the k-core peel and the
    negative-sampling triplet generator."""
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.select("l_orderkey", "l_partkey").distinct()
    a = basket.alias("a")
    b = basket.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"),
            F.col("b.l_partkey").alias("v"),
        )
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= _KCORE_W)
        .select("u", "v")
    )


@query("kcore_part_graph", oracle=_kcore_sql())
def kcore_part_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph — the SECOND instantiation of the
    shared ``operators/graph.py:k_core`` peel (``near_dup_k_core``
    already runs it at k=2 on the sparse LSH candidate graph): here the
    graph is the thresholded basket co-occurrence graph (part pairs
    co-purchased in >= 2 orders — the basket-bounded self-join, then
    thresholded; SUB-linear in corpus size because repeat co-occurrence
    gets rarer as the catalog grows: 3445 edges at sf0.01 vs 3573 at
    sf0.1), whose peel cascade is 10 rounds deep at sf0.01 — a
    qualitatively different trajectory from the near-dup graph's 1-2
    rounds, which is what this entry adds to the watch. The operator
    peels to TRUE fixpoint (driver reads one scalar per round, raises
    loudly at the bound); the oracle unrolls _KCORE_ROUNDS=12
    MATERIALIZED CTE rounds, >= the convergence depth at every
    oracle-checked SF, and extra rounds on a fixpoint are exact no-ops
    — the to-convergence Python replay test pins that equivalence."""
    from apache_beam_challange_spark.operators.graph import k_core

    return (
        k_core(_copurchase_edges(spark, sf_dir), k=_KCORE_K, max_iter=25)
        .select(F.col("node").alias("l_partkey"), "core_degree")
        .orderBy("l_partkey")
    )


# --- global quantile normalization --------------------------------------------

_QN_SQL = """
WITH vals AS (
    SELECT event_id, event_type,
           CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS vu
    FROM events
),
g AS (
    SELECT event_id, vu,
           CAST(ROW_NUMBER() OVER (ORDER BY vu, event_id) AS BIGINT) AS gid,
           CAST(COUNT(*) OVER () AS BIGINT) AS n_all
    FROM vals
),
t AS (
    SELECT event_id, event_type, vu,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY vu, event_id
           ) AS BIGINT) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_t
    FROM vals
),
mapped AS (
    SELECT t.event_id, t.event_type, t.vu,
           CAST(FLOOR(
               CASE WHEN t.n_t = 1 THEN 0.5
                    ELSE CAST(t.rn - 1 AS DOUBLE) / CAST(t.n_t - 1 AS DOUBLE)
               END * CAST((SELECT MAX(n_all) FROM g) - 1 AS DOUBLE) + 0.5
           ) AS BIGINT) + 1 AS target_gid
    FROM t
)
SELECT m.event_id, m.event_type, m.vu, g.vu AS norm_vu
FROM mapped m JOIN g ON g.gid = m.target_gid
ORDER BY m.event_id
""".strip()


@query("quantile_normalize_values", oracle=_QN_SQL)
def quantile_normalize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization (the microarray-era Bolstad et al. 2003
    transform, now the feature-alignment step for mixed-source training
    signals): replace each value with the GLOBAL value found at its
    within-group percentile, so every event type ends up with the same
    marginal distribution. Exact at every step: values in 1e-4 units,
    within-type ranks from a type-partitioned window (scale-safe),
    the global rank table from the distributed range-partitioned
    numbering primitive (``assign_global_row_ids`` — NO data-sized
    global window in the engine plan, the zipWithIndex discipline),
    and the percentile -> position mapping is FLOOR on a double
    product of exact ints, written identically in both engines. The
    rank-position join is a plain equi-join on gid. Output is
    data-sized (one row per event) like the other normalization
    transforms the registry serves."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.floor(F.col("value") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("vu"),
    )
    from apache_beam_challange_spark.plans.coverage import (
        assign_global_row_ids,
    )

    gids = assign_global_row_ids(ev, ["vu", "event_id"], "event_id").select(
        F.col("event_id").alias("g_event_id"),
        F.col("global_id").alias("gid"),
    )
    g = gids.join(
        ev.select(F.col("event_id").alias("g_event_id"), "vu"), "g_event_id"
    ).select("gid", F.col("vu").alias("g_vu"))
    n_all = ev.agg(F.count(F.lit(1)).alias("n_all"))
    wt = Window.partitionBy("event_type").orderBy("vu", "event_id")
    wn = Window.partitionBy("event_type")
    t = ev.select(
        "event_id",
        "event_type",
        "vu",
        F.row_number().over(wt).cast("long").alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n_t"),
    )
    pct = F.when(F.col("n_t") == 1, F.lit(0.5)).otherwise(
        (F.col("rn") - 1).cast("double") / (F.col("n_t") - 1).cast("double")
    )
    mapped = t.crossJoin(F.broadcast(n_all)).select(
        "event_id",
        "event_type",
        "vu",
        (
            F.floor(
                pct * (F.col("n_all") - 1).cast("double") + F.lit(0.5)
            ).cast("long")
            + 1
        ).alias("target_gid"),
    )
    return (
        mapped.join(g, mapped["target_gid"] == g["gid"])
        .select(
            "event_id", "event_type", "vu", F.col("g_vu").alias("norm_vu")
        )
        .orderBy("event_id")
    )


# --- rendezvous-hash shard rebalancing audit ----------------------------------

_HRW_N = 8  # current shard count; the audit adds one (N -> N+1)


def _hrw_rank_sql(limit: int) -> str:
    return f"""
    SELECT doc_id, s,
           ROW_NUMBER() OVER (
               PARTITION BY doc_id ORDER BY h DESC, s
           ) AS rnk
    FROM hashes WHERE s < {limit}
"""


_HRW_SQL = f"""
WITH shards AS (SELECT unnest(generate_series(0, {_HRW_N})) AS s),
hashes AS (
    SELECT d.doc_id, sh.s,
           {_hex4_sql("CAST(d.doc_id AS VARCHAR) || '@' || CAST(sh.s AS VARCHAR)")} AS h
    FROM (SELECT doc_id FROM documents) d, shards sh
),
old AS (
    SELECT doc_id, s AS shard_old FROM ({_hrw_rank_sql(_HRW_N)}) WHERE rnk = 1
),
new AS (
    SELECT doc_id, s AS shard_new FROM ({_hrw_rank_sql(_HRW_N + 1)}) WHERE rnk = 1
)
SELECT o.shard_old,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN n.shard_new <> o.shard_old THEN 1 ELSE 0 END)
            AS BIGINT) AS n_moved
FROM old o JOIN new n ON n.doc_id = o.doc_id
GROUP BY o.shard_old
ORDER BY o.shard_old
""".strip()


@query("hrw_shard_rebalance_audit", oracle=_HRW_SQL)
def hrw_shard_rebalance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) shard assignment and the
    scale-out rebalancing audit (Thaler & Ravishankar 1998 — the
    consistent-placement rule behind cache rings and shard maps):
    every document goes to the shard with the highest seeded hash of
    (doc, shard); adding a shard (N=8 -> 9) must move ONLY the docs the
    new shard now wins — roughly 1/(N+1) of the corpus, and never a
    doc between two OLD shards (the minimal-disruption property,
    asserted by test). Hashes are the engine's md5 hex4 convention so
    both engines rank identically (ties broken by shard id); the
    9-candidate explode is a broadcast spine, the argmax a per-doc
    window over <= 9 rows, and the audit one aggregate."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    shards = spark.range(0, _HRW_N + 1).select(F.col("id").alias("s"))
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit("@"),
                    F.col("s").cast("string"),
                )
            ),
            1,
            4,
        ),
        16,
        10,
    ).cast("long")
    hashes = docs.crossJoin(F.broadcast(shards)).select(
        "doc_id", "s", h.alias("h")
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("h"), "s")

    def winner(limit, name):
        return (
            hashes.filter(F.col("s") < limit)
            .withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .select("doc_id", F.col("s").alias(name))
        )

    old = winner(_HRW_N, "shard_old")
    new = winner(_HRW_N + 1, "shard_new")
    return (
        old.join(new, "doc_id")
        .groupBy("shard_old")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(
                F.when(F.col("shard_new") != F.col("shard_old"), 1).otherwise(
                    0
                )
            ).alias("n_moved"),
        )
        .orderBy("shard_old")
    )


# --- winsorized mean via bounded histogram -------------------------------------

_WINS_SQL = """
WITH hist AS (
    SELECT event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cent,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events
    GROUP BY event_type, CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
),
cum AS (
    SELECT event_type, cent, n,
           CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY cent
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS c,
           CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS tot
    FROM hist
),
edges AS (
    SELECT event_type, tot,
           MIN(CASE WHEN c * 20 >= tot THEN cent END) AS lo_cent,
           MIN(CASE WHEN c * 20 >= 19 * tot THEN cent END) AS hi_cent
    FROM cum GROUP BY event_type, tot
)
SELECT h.event_type, e.tot AS n, e.lo_cent, e.hi_cent,
       CAST(SUM(h.n * CASE WHEN h.cent < e.lo_cent THEN e.lo_cent
                           WHEN h.cent > e.hi_cent THEN e.hi_cent
                           ELSE h.cent END) AS DOUBLE)
       / CAST(e.tot AS DOUBLE) / 100.0 AS winsorized_mean
FROM hist h JOIN edges e ON e.event_type = h.event_type
GROUP BY h.event_type, e.tot, e.lo_cent, e.hi_cent
ORDER BY h.event_type
""".strip()


@query("winsorized_mean_value", oracle=_WINS_SQL)
def winsorized_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean (clip at the exact P5/P95) of event value per
    type — the outlier-robust location estimate metric pipelines
    report next to the median, computed WITHOUT touching rows twice:
    the cent histogram (DOMAIN-bounded, the equi-depth discipline)
    yields the exact integer-comparison percentile edges
    (min cent with 20*cum >= tot / >= 19*tot — no interpolation seam),
    and the clipped sum is taken over the SAME histogram
    (n_bin x clipped cent, exact int64), so the one data-sized
    operation is the histogram aggregate. Single double division at
    the end."""
    ev = load_table(spark, sf_dir, "events")
    hist = (
        ev.select(
            "event_type",
            F.floor(F.col("value") * 100 + F.lit(0.5))
            .cast("long")
            .alias("cent"),
        )
        .groupBy("event_type", "cent")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wc = (
        Window.partitionBy("event_type")
        .orderBy("cent")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "cent",
        "n",
        F.sum("n").over(wc).alias("c"),
        F.sum("n").over(wt).alias("tot"),
    )
    edges = cum.groupBy("event_type", "tot").agg(
        F.min(
            F.when(F.col("c") * 20 >= F.col("tot"), F.col("cent"))
        ).alias("lo_cent"),
        F.min(
            F.when(F.col("c") * 20 >= 19 * F.col("tot"), F.col("cent"))
        ).alias("hi_cent"),
    )
    clipped = (
        F.when(F.col("cent") < F.col("lo_cent"), F.col("lo_cent"))
        .when(F.col("cent") > F.col("hi_cent"), F.col("hi_cent"))
        .otherwise(F.col("cent"))
    )
    return (
        hist.join(F.broadcast(edges), "event_type")
        .groupBy("event_type", "tot", "lo_cent", "hi_cent")
        .agg(F.sum(F.col("n") * clipped).alias("s"))
        .select(
            "event_type",
            F.col("tot").alias("n"),
            "lo_cent",
            "hi_cent",
            (
                F.col("s").cast("double")
                / F.col("tot").cast("double")
                / F.lit(100.0)
            ).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )


# --- negative sampling for contrastive training --------------------------------

_NEG_K = 2  # negatives per positive pair

_NEG_PAIRS_SQL = f"""
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    HAVING COUNT(*) >= {_KCORE_W}
"""

_NEG_HASH = (
    "({h1} * 65536 + {h2}) % (SELECT COUNT(*) FROM part)"
)

_NEG_SQL = f"""
WITH pos AS MATERIALIZED ({_NEG_PAIRS_SQL}),
cand AS (
    SELECT p.u, p.v, j.j,
           {_NEG_HASH.format(
               h1=_hex4_sql("'neg#' || CAST(p.u AS VARCHAR) || '#' || CAST(p.v AS VARCHAR) || '#' || CAST(j.j AS VARCHAR)"),
               h2=_hex4_sql("'ngb#' || CAST(p.u AS VARCHAR) || '#' || CAST(p.v AS VARCHAR) || '#' || CAST(j.j AS VARCHAR)"),
           )} AS negative
    FROM pos p, (SELECT unnest(generate_series(0, {_NEG_K - 1})) AS j) j
)
SELECT c.u AS anchor, c.v AS positive, c.j AS neg_rank,
       CAST(c.negative AS BIGINT) AS negative,
       (c.negative = c.u OR c.negative = c.v
        OR EXISTS (SELECT 1 FROM pos q
                   WHERE q.u = LEAST(c.u, c.negative)
                     AND q.v = GREATEST(c.u, c.negative))) AS is_false_negative
FROM cand c
ORDER BY anchor, positive, neg_rank
""".strip()


@query("negative_sampling_triplets", oracle=_NEG_SQL)
def negative_sampling_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training triplet generation (word2vec-style negative
    sampling, Mikolov et al. 2013): every thresholded co-purchase pair
    becomes (anchor, positive) and draws k=2 DERANDOMIZED negatives —
    the seeded md5 of (pair, rank) mapped by modulo onto the contiguous
    part-key space — so the training set is bit-reproducible across
    engines, runs, and retries (the property shuffled RNG sampling
    can't give a distributed pipeline). Collisions with the anchor's
    TRUE neighborhood are not resampled (relational plans don't loop):
    they are FLAGGED via one left join against the normalized positive
    set and dropped downstream — the expected flagged fraction is
    degree/|parts|, measured tiny. One aggregate builds the pairs, one
    broadcast spine explodes k candidates, one join flags; the serve
    output is the data-sized triplet table every embedding trainer
    consumes."""
    pos = _copurchase_edges(spark, sf_dir).localCheckpoint()
    n_parts = load_table(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).alias("n_parts")
    )
    spine = spark.range(0, _NEG_K).select(F.col("id").alias("j"))

    def hex4(prefix):
        base = F.concat(
            F.lit(prefix),
            F.col("u").cast("string"),
            F.lit("#"),
            F.col("v").cast("string"),
            F.lit("#"),
            F.col("j").cast("string"),
        )
        return F.conv(F.substring(F.md5(base), 1, 4), 16, 10).cast("long")

    cand = (
        pos.crossJoin(F.broadcast(spine))
        .crossJoin(F.broadcast(n_parts))
        .select(
            "u",
            "v",
            "j",
            ((hex4("neg#") * 65536 + hex4("ngb#")) % F.col("n_parts")).alias(
                "negative"
            ),
        )
    )
    flags = pos.select(
        F.col("u").alias("fu"), F.col("v").alias("fv"), F.lit(True).alias("hit")
    )
    lo = F.least(F.col("u"), F.col("negative"))
    hi = F.greatest(F.col("u"), F.col("negative"))
    return (
        cand.join(
            flags,
            (lo == F.col("fu")) & (hi == F.col("fv")),
            "left",
        )
        .select(
            F.col("u").alias("anchor"),
            F.col("v").alias("positive"),
            F.col("j").alias("neg_rank"),
            "negative",
            (
                (F.col("negative") == F.col("u"))
                | (F.col("negative") == F.col("v"))
                | F.coalesce(F.col("hit"), F.lit(False))
            ).alias("is_false_negative"),
        )
        .orderBy("anchor", "positive", "neg_rank")
    )


# --- leakage-safe out-of-fold target encoding -----------------------------------

_TENC_SQL = f"""
WITH assigned AS (
    SELECT event_type, {_KFOLD_HEX} % {_KFOLD_K} AS fold,
           CAST(FLOOR(value * 10000 + 0.5) AS BIGINT) AS vu
    FROM events
),
per_fold AS (
    SELECT event_type, fold,
           CAST(COUNT(*) AS BIGINT) AS n_f,
           CAST(SUM(vu) AS BIGINT) AS s_f
    FROM assigned GROUP BY event_type, fold
),
per_type AS (
    SELECT event_type,
           CAST(SUM(n_f) AS BIGINT) AS n_t,
           CAST(SUM(s_f) AS BIGINT) AS s_t
    FROM per_fold GROUP BY event_type
)
SELECT f.event_type, f.fold, f.n_f,
       CAST(t.s_t - f.s_f AS DOUBLE)
       / CAST(t.n_t - f.n_f AS DOUBLE) / 10000.0 AS oof_encoding,
       CAST(t.s_t AS DOUBLE) / CAST(t.n_t AS DOUBLE) / 10000.0 AS full_mean
FROM per_fold f JOIN per_type t ON t.event_type = f.event_type
ORDER BY f.event_type, f.fold
""".strip()


@query("target_encoding_oof", oracle=_TENC_SQL)
def target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe categorical target encoding (the CatBoost/kaggle
    k-fold discipline): the encoding a row receives is the mean target
    of its CATEGORY computed over the OTHER folds only —
    (S_type - S_fold) / (n_type - n_fold) — so no row's own target
    leaks into its feature. Folds are the engine's group-aware
    seeded-md5 assignment (``group_kfold_split_audit``'s fold
    function, so encode-time folds match split-time folds by
    construction); sums are exact int64 in one (type, fold) aggregate
    (the complement trick needs no second scan — the out-of-fold sum
    is total minus own); exactly one double division per encoding.
    The full-population mean rides along to expose the leakage gap a
    naive encoder would have."""
    ev = load_table(spark, sf_dir, "events")

    def fold_of(col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("fold#"), col.cast("string"))), 1, 4
                ),
                16,
                10,
            ).cast("long")
            % _KFOLD_K
        )

    per_fold = (
        ev.select(
            "event_type",
            fold_of(F.col("user_id")).alias("fold"),
            F.floor(F.col("value") * 10000 + F.lit(0.5))
            .cast("long")
            .alias("vu"),
        )
        .groupBy("event_type", "fold")
        .agg(F.count(F.lit(1)).alias("n_f"), F.sum("vu").alias("s_f"))
    )
    per_type = per_fold.groupBy("event_type").agg(
        F.sum("n_f").alias("n_t"), F.sum("s_f").alias("s_t")
    )
    return (
        per_fold.join(F.broadcast(per_type), "event_type")
        .select(
            "event_type",
            "fold",
            "n_f",
            (
                (F.col("s_t") - F.col("s_f")).cast("double")
                / (F.col("n_t") - F.col("n_f")).cast("double")
                / F.lit(10000.0)
            ).alias("oof_encoding"),
            (
                F.col("s_t").cast("double")
                / F.col("n_t").cast("double")
                / F.lit(10000.0)
            ).alias("full_mean"),
        )
        .orderBy("event_type", "fold")
    )


# --- RFM segmentation via distributed rank quartiles -----------------------------

_RFM_ANCHOR = "2001-09-01"  # analysis date: just past the last order


def _rfm_quartile(rank: str, n: str) -> str:
    # 1-based quartile from a 1-based rank: (4 * (rank - 1)) // n + 1
    return f"CAST((4 * ({rank} - 1)) // {n} + 1 AS BIGINT)"


_RFM_SQL = f"""
WITH rfm AS (
    SELECT o_custkey,
           CAST(DATE '{_RFM_ANCHOR}' - CAST(MAX(o_orderdate) AS DATE) AS BIGINT)
               AS recency_days,
           CAST(COUNT(*) AS BIGINT) AS frequency,
           CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS monetary_c
    FROM orders GROUP BY o_custkey
),
ranked AS (
    SELECT o_custkey, monetary_c,
           ROW_NUMBER() OVER (ORDER BY recency_days, o_custkey) AS r_rank,
           ROW_NUMBER() OVER (ORDER BY frequency, o_custkey) AS f_rank,
           ROW_NUMBER() OVER (ORDER BY monetary_c, o_custkey) AS m_rank,
           COUNT(*) OVER () AS n
    FROM rfm
)
SELECT {_rfm_quartile('r_rank', 'n')} AS r_q,
       {_rfm_quartile('f_rank', 'n')} AS f_q,
       {_rfm_quartile('m_rank', 'n')} AS m_q,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(monetary_c) AS BIGINT) AS segment_revenue_c
FROM ranked
GROUP BY 1, 2, 3
ORDER BY r_q, f_q, m_q
""".strip()


@query("rfm_segment_counts", oracle=_RFM_SQL)
def rfm_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation (the CRM recency/frequency/monetary classic):
    every customer gets a 1-4 quartile score on each dimension from
    EXACT global ranks, and the report aggregates the 4x4x4 segment
    grid. The three global rankings come from the distributed
    numbering primitive (``assign_global_row_ids`` — its THIRD
    composed consumer since the round-8 materialization fix; no
    data-sized single-partition window anywhere in the engine plan,
    while the oracle states the plain ROW_NUMBER spelling), quartile =
    (4*(rank-1)) div n + 1 in pure integers, ties broken by customer
    key so both engines rank identically. One customer rollup + three
    range shuffles + three broadcast joins; the output is the bounded
    64-cell grid."""
    from apache_beam_challange_spark.plans.coverage import (
        assign_global_row_ids,
    )

    orders = load_table(spark, sf_dir, "orders")
    rfm = orders.groupBy("o_custkey").agg(
        F.datediff(
            F.lit(_RFM_ANCHOR).cast("date"),
            F.max("o_orderdate").cast("date"),
        )
        .cast("long")
        .alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("monetary_c"),
    ).localCheckpoint()
    n = rfm.count()  # scalar: number of customers (dimension-sized)

    def qcol(order_col, name):
        ids = assign_global_row_ids(
            rfm, [order_col, "o_custkey"], "o_custkey"
        )
        return ids.select(
            F.col("o_custkey").alias(f"k_{name}"),
            F.expr(f"CAST((4 * (global_id - 1)) div {n} + 1 AS BIGINT)").alias(
                name
            ),
        )

    r = qcol("recency_days", "r_q")
    f_ = qcol("frequency", "f_q")
    m = qcol("monetary_c", "m_q")
    return (
        rfm.join(r, rfm["o_custkey"] == r["k_r_q"])
        .join(f_, rfm["o_custkey"] == f_["k_f_q"])
        .join(m, rfm["o_custkey"] == m["k_m_q"])
        .groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("monetary_c").alias("segment_revenue_c"),
        )
        .orderBy("r_q", "f_q", "m_q")
    )

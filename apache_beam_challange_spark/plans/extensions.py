"""Extension queries: the LLM-data-pipeline surface (SURVEY.md §2.9) over
the ``documents`` and ``embeddings`` tables — dedup (exact / MinHash-LSH /
SimHash / Jaccard), similarity search (exact + ANN), and text analysis.

The MinHash and ANN pipelines are deliberately built from engine-portable
primitives (md5, sin) so even the *approximate* algorithms have exact DuckDB
oracle twins — the full LSH pipeline is hash-verified, not just smoke-run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_beam_challange_spark.functions.text import (
    QUALITY_SCORE_SQL,
    fingerprint_md5,
    lang_id,
    lang_id_sql,
    quality_score,
)
from apache_beam_challange_spark.functions.vector import as_double, l2_norm
from apache_beam_challange_spark.operators.dedup import (
    exact_dedup,
    jaccard_on_candidates,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    shingles,
    simhash64,
)
from apache_beam_challange_spark.operators.clustering import (
    kmeans_assignments,
    kmeans_cents_ctes,
    kmeans_centroids,
    kmeans_oracle_sql,
    opq_oracle_sql,
    pq_oracle_sql,
    pq_parts_ctes,
    pq_topk,
)
from apache_beam_challange_spark.operators.graph import dedup_clusters
from apache_beam_challange_spark.operators.relational import tfidf_top_terms
from apache_beam_challange_spark.operators.similarity import (
    knn_join_exact,
    knn_join_ivf,
    knn_join_lsh,
    knn_join_lsh_multitable,
    nsw_topk_batch,
    nsw_write_index,
)
from apache_beam_challange_spark.plans.registry import query
from apache_beam_challange_spark.sources.catalog import (
    is_materialized,
    load_table,
    read_parquet,
    warehouse_path,
)
from apache_beam_challange_spark.sources.driver import collect_bounded


# --- exact dedup ------------------------------------------------------------

@query(
    "dedup_exact_docs",
    oracle="""
SELECT doc_id, lang, source
FROM (
    SELECT doc_id, lang, source,
           ROW_NUMBER() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
    FROM documents
) t
WHERE rn = 1
""".strip(),
)
def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup keeping the deterministic first row per (lang, source)
    key — hash-groupBy shape, one shuffle on the dedup key."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, ["lang", "source"], "doc_id").select(
        "doc_id", "lang", "source"
    )


# --- fingerprinting ---------------------------------------------------------

@query(
    "doc_fingerprints",
    oracle="""
SELECT source,
       COUNT(DISTINCT md5(LOWER(text))) AS n_unique,
       COUNT(*) AS n_docs
FROM documents
GROUP BY source
""".strip(),
)
def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints (md5 of normalized text) — the cheap first pass
    of any corpus dedup: distinct-fingerprint counts per source."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("source", fingerprint_md5(F.col("text")).alias("fp"))
        .groupBy("source")
        .agg(
            F.countDistinct("fp").alias("n_unique"),
            F.count(F.lit(1)).alias("n_docs"),
        )
    )


# --- text statistics --------------------------------------------------------

@query(
    "text_stats_by_lang",
    oracle="""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS sum_tokens,
       CAST(SUM(CAST(FLOOR(LENGTH(REGEXP_REPLACE(text, '[a-zA-Z0-9 ]', '', 'g'))
                      * 10000.0 / LENGTH(text) + 0.5) AS BIGINT)) AS BIGINT) AS punct_bp
FROM documents
GROUP BY lang
""".strip(),
)
def text_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus statistics per language: doc/char/token totals and summed
    punctuation basis points — the raw inputs of a quality dashboard."""
    docs = load_table(spark, sf_dir, "documents")
    punct = F.length(F.regexp_replace(F.col("text"), "[a-zA-Z0-9 ]", ""))
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
        F.sum(F.size(F.split(F.col("text"), " "))).alias("sum_tokens"),
        F.sum(
            F.floor(punct * 10000.0 / F.length(F.col("text")) + 0.5).cast("long")
        ).alias("punct_bp"),
    )


@query(
    "lang_id_confusion",
    oracle=f"""
SELECT lang, {lang_id_sql()} AS lang_pred, COUNT(*) AS n
FROM documents
GROUP BY 1, 2
""".strip(),
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID vs the labeled lang column — a confusion
    matrix, the evaluation shape for any classifier-in-the-pipeline."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", lang_id(F.col("text")).alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "quality_scores_top",
    oracle=f"""
SELECT doc_id, ROUND({QUALITY_SCORE_SQL}, 6) AS quality
FROM documents
ORDER BY quality DESC, doc_id
LIMIT 100
""".strip(),
)
def quality_scores_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Surface-feature quality scoring, top-100 — the filter stage of a
    pretraining-data pipeline (keep-above-threshold at scale)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.round(quality_score(F.col("text")), 6).alias("quality"))
        .orderBy(F.col("quality").desc(), F.col("doc_id"))
        .limit(100)
    )


@query(
    "repetition_flags",
    oracle="""
WITH tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM (
        SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
        FROM documents
    )
    GROUP BY doc_id, term
)
SELECT doc_id,
       CAST(MAX(tf) AS BIGINT) AS max_tf,
       CAST(SUM(tf) AS BIGINT) AS n_tokens,
       ROUND(MAX(tf) * 1.0 / SUM(tf), 6) AS top_term_share,
       MAX(tf) * 1.0 / SUM(tf) >= 0.2 AS flagged
FROM tf
GROUP BY doc_id
""".strip(),
)
def repetition_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition / boilerplate detection, Gopher-rules style: the share of
    a document owned by its most frequent token; docs above 20% get
    flagged for removal. One explode and two map-side-combined
    aggregations — the cheapest of the pretraining quality filters."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    share = F.col("max_tf") * F.lit(1.0) / F.col("n_tokens")
    return (
        tf.groupBy("doc_id")
        .agg(
            F.max("tf").alias("max_tf"),
            F.sum("tf").alias("n_tokens"),
        )
        .select(
            "doc_id",
            "max_tf",
            "n_tokens",
            F.round(share, 6).alias("top_term_share"),
            (share >= 0.2).alias("flagged"),
        )
    )


@query(
    "data_mixture_weights",
    oracle=f"""
WITH scored AS (
    SELECT lang,
           LEAST(CAST(FLOOR(ROUND({QUALITY_SCORE_SQL}, 6) * 5) AS BIGINT), 4)
               AS quality_bin,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
    FROM documents
),
agg AS (
    SELECT lang, quality_bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS tokens
    FROM scored GROUP BY lang, quality_bin
),
total AS (SELECT CAST(SUM(tokens) AS BIGINT) AS all_tokens FROM agg)
SELECT a.lang, a.quality_bin, a.n_docs, a.tokens,
       ROUND(a.tokens * 1.0 / t.all_tokens, 6) AS weight
FROM agg a CROSS JOIN total t
""".strip(),
)
def data_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture table: token counts and corpus weight per
    (language, quality bin) — the input to data-mixing decisions when
    assembling a pretraining run. Quality is the surface-feature score
    rounded BEFORE binning so the bin edge is identical in both engines;
    the corpus total joins back as a broadcast scalar."""
    docs = load_table(spark, sf_dir, "documents")
    q = F.round(quality_score(F.col("text")), 6)
    scored = docs.select(
        "lang",
        F.least(F.floor(q * 5).cast("long"), F.lit(4).cast("long")).alias(
            "quality_bin"
        ),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    agg = scored.groupBy("lang", "quality_bin").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens"),
    )
    total = agg.agg(F.sum("tokens").alias("all_tokens"))
    return agg.crossJoin(F.broadcast(total)).select(
        "lang",
        "quality_bin",
        "n_docs",
        "tokens",
        F.round(F.col("tokens") * F.lit(1.0) / F.col("all_tokens"), 6).alias(
            "weight"
        ),
    )


@query(
    "inverted_index_terms",
    oracle="""
WITH toks AS (
    SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents
),
tf AS (
    SELECT doc_id, term FROM toks
)
SELECT term,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       array_to_string((LIST(doc_id ORDER BY doc_id))[1:20], ',') AS postings_head
FROM tf
GROUP BY term
""".strip(),
)
def inverted_index_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build: term -> document frequency + the first 20
    entries of the sorted posting list (the page a search engine would
    store). One explode + one groupBy — the posting list itself is a
    sorted array aggregation, capped so no single term materializes an
    unbounded row. At scale the full lists would write out bucketed by
    term; the head here keeps the oracle comparable."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    ).distinct()
    return toks.groupBy("term").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.array_join(
            F.transform(
                F.slice(F.array_sort(F.collect_list("doc_id")), 1, 20),
                lambda x: x.cast("string"),
            ),
            ",",
        ).alias("postings_head"),
    )


@query(
    "token_cooccurrence_pmi",
    oracle="""
WITH toks AS (
    SELECT DISTINCT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents
),
dfreq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY term
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
pairs AS (
    SELECT a.term AS term_1, b.term AS term_2, CAST(COUNT(*) AS BIGINT) AS n_pair
    FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND a.term < b.term
    GROUP BY a.term, b.term
)
SELECT p.term_1, p.term_2, p.n_pair,
       ROUND(LN(p.n_pair * n.n_docs * 1.0 / (d1.df * d2.df)), 6) AS pmi
FROM pairs p
JOIN dfreq d1 ON p.term_1 = d1.term
JOIN dfreq d2 ON p.term_2 = d2.term
CROSS JOIN n
ORDER BY n_pair DESC, term_1, term_2
LIMIT 100
""".strip(),
)
def token_cooccurrence_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-level token co-occurrence with pointwise mutual information
    — the statistics behind collocation mining and embedding training
    (skip-gram objectives are PMI factorizations). Per-doc distinct tokens
    self-join ON doc_id (quadratic only in per-document vocabulary — the
    classic bounded blow-up), then PMI = ln(n_pair * N / (df1 * df2)) with
    exact integers inside the single ln. Top-100 pairs, full-key
    tiebreak."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("term"),
    ).distinct()
    dfreq = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    total = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    a = toks.select("doc_id", F.col("term").alias("term_1"))
    b = toks.select("doc_id", F.col("term").alias("term_2"))
    pairs = (
        a.join(b, "doc_id")
        .filter(F.col("term_1") < F.col("term_2"))
        .groupBy("term_1", "term_2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
    )
    d1 = dfreq.select(F.col("term").alias("term_1"), F.col("df").alias("df1"))
    d2 = dfreq.select(F.col("term").alias("term_2"), F.col("df").alias("df2"))
    return (
        pairs.join(F.broadcast(d1), "term_1")
        .join(F.broadcast(d2), "term_2")
        .crossJoin(F.broadcast(total))
        .select(
            "term_1",
            "term_2",
            "n_pair",
            F.round(
                F.log(
                    F.col("n_pair")
                    * F.col("n_docs")
                    * F.lit(1.0)
                    / (F.col("df1") * F.col("df2"))
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.col("n_pair").desc(), "term_1", "term_2")
        .limit(100)
    )


@query(
    "tfidf_top_terms",
    oracle="""
WITH toks AS (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
),
tf AS (
    SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
    FROM toks GROUP BY doc_id, term
),
dfreq AS (
    SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
scored AS (
    SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
           ROUND(tf.tf * LN(n.n_docs * 1.0 / dfreq.df), 6) AS tfidf
    FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
    ) AS rnk
    FROM scored
)
SELECT doc_id, term, tf, df, tfidf, CAST(rnk AS INTEGER) AS rank
FROM ranked WHERE rnk <= 3
""".strip(),
)
def tfidf_top_terms_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the classic keyword-extraction /
    relevance-weighting pass of a text pipeline, fully relational (explode,
    two map-side-combined aggregations, broadcast corpus size, per-doc
    window rank)."""
    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


# --- deterministic dataset splitting ----------------------------------------

_SPLIT_HEX4 = (
    "(((STRPOS('0123456789abcdef', SUBSTR(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 4096"
    " + (STRPOS('0123456789abcdef', SUBSTR(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256"
    " + (STRPOS('0123456789abcdef', SUBSTR(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16"
    " + (STRPOS('0123456789abcdef', SUBSTR(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1)) % 100)"
)


@query(
    "dataset_split_counts",
    oracle=f"""
SELECT lang,
       CASE WHEN {_SPLIT_HEX4} < 80 THEN 'train'
            WHEN {_SPLIT_HEX4} < 90 THEN 'val'
            ELSE 'test' END AS split,
       COUNT(*) AS n_docs
FROM documents
GROUP BY 1, 2
""".strip(),
)
def dataset_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split: bucket = md5(doc_id)
    first-4-hex mod 100. Content-addressed splitting is how training
    pipelines keep splits stable under reshuffles/re-runs — no RNG state,
    no ordering dependence, reproducible on any engine (hence the oracle).
    Returns the per-language split histogram."""
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
    return docs.groupBy("lang", split.alias("split")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )


# --- n-gram Jaccard near-dup ------------------------------------------------

@query(
    "jaccard_pairs_by_source",
    oracle="""
WITH tok AS (
    SELECT DISTINCT source, doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents
),
sizes AS (
    SELECT doc_id, COUNT(*) AS n_tokens FROM tok GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, COUNT(*) AS n_inter
    FROM tok a
    JOIN tok b ON a.source = b.source AND a.token = b.token
              AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_id_1, i.doc_id_2,
       ROUND(n_inter / (s1.n_tokens + s2.n_tokens - n_inter), 6) AS jaccard
FROM inter i
JOIN sizes s1 ON i.doc_id_1 = s1.doc_id
JOIN sizes s2 ON i.doc_id_2 = s2.doc_id
WHERE n_inter / (s1.n_tokens + s2.n_tokens - n_inter) >= 0.5
""".strip(),
)
def jaccard_pairs_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-set Jaccard for same-source document pairs at >= 0.5 —
    source is the blocking key bounding the pair blow-up."""
    docs = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(docs, "source", min_jaccard=0.5)


# --- MinHash LSH ------------------------------------------------------------

# int value of hex digit d (1-based position p) of md5 hex string `m`
_HEXD = "(STRPOS('0123456789abcdef', SUBSTR({m}, {p}, 1)) - 1)"

#: first 15 hex chars of md5(shingle) as a BIGINT — DuckDB twin of Spark's
#: conv(substring(md5(shingle), 1, 15), 16, 10)
_HEX15 = " + ".join(
    f"{_HEXD.format(m='md5(shingle)', p=p)} * {16 ** (15 - p)}" for p in range(1, 16)
)

_MINHASH_CTE = f"""
tok AS (
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
hb AS (
    SELECT doc_id, ({_HEX15}) % 2147483647 AS base FROM sh
),
mh AS (
    SELECT doc_id, h.i AS hash_idx,
           MIN((base * (700001 + 2 * h.i) + h.i * 12345) % 2147483647) AS min_hash
    FROM hb, (SELECT unnest(generate_series(0, 7)) AS i) h
    GROUP BY doc_id, h.i
)
""".strip()


@query(
    "minhash_signatures",
    oracle=f"WITH {_MINHASH_CTE}\nSELECT doc_id, hash_idx, min_hash FROM mh",
)
def minhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 hash functions over word 3-gram shingles).
    Every stage is narrow or map-side-combined; the oracle verifies the
    exact signature values, not just counts."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_signatures(shingles(docs, n=3), num_hashes=8)


def minhash_sigs_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MinHash signature table AT REST — the dedup family's shared
    recall stage materialized once per source stamp (warehouse-cached like
    the ANN codebooks, the round-4 serving discipline) and served to every
    consumer: band pairs, Jaccard verify, connected components (both
    variants), PageRank. The signature chain is deterministic (md5 family),
    so the stored rows are bit-identical to the inline computation
    (``minhash_signatures_q`` stays inline and oracle-verifies exactly
    those values); repeated dedup queries then skip the shingle+md5 pass
    entirely — at 100 TB the signature scan replaces a full-corpus
    tokenization per query."""
    path = warehouse_path(sf_dir, "minhash_sigs_n3h8", "documents")
    if not is_materialized(path):
        docs = load_table(spark, sf_dir, "documents")
        minhash_signatures(shingles(docs, n=3), num_hashes=8).write.mode(
            "overwrite"
        ).parquet(path)
    return read_parquet(spark, path)


def lsh_pair_graph(spark: SparkSession, sf_dir: str):
    """The MinHash-LSH candidate pair graph (doc_id_1 < doc_id_2), served
    from the at-rest signature table — ONE definition of the edge list
    that band pairing, Jaccard verify, connected components, PageRank,
    k-core, triangles and the split-leakage guard all consume (the
    construction previously existed as several inline copies that could
    drift on rows_per_band or the at-rest layer)."""
    from apache_beam_challange_spark.operators.dedup import lsh_candidate_pairs

    return lsh_candidate_pairs(
        minhash_sigs_at_rest(spark, sf_dir), rows_per_band=2
    )


@query(
    "minhash_candidate_pairs",
    oracle=f"""
WITH {_MINHASH_CTE},
bands AS (
    SELECT doc_id, CAST(FLOOR(hash_idx / 2) AS BIGINT) AS band_idx,
           STRING_AGG(CAST(min_hash AS VARCHAR), '|' ORDER BY hash_idx) AS band_val
    FROM mh
    GROUP BY doc_id, FLOOR(hash_idx / 2)
)
SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
FROM bands a
JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
            AND a.doc_id < b.doc_id
""".strip(),
)
def minhash_candidate_pairs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-bucket join (4 bands x 2 rows): the scalable replacement
    for all-pairs comparison — candidates only where a full band collides."""
    sigs = minhash_sigs_at_rest(spark, sf_dir)
    return lsh_candidate_pairs(sigs, rows_per_band=2)


@query(
    "jaccard_on_lsh_candidates",
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
tokset AS (
    SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
    FROM documents
),
sizes AS (
    SELECT doc_id, COUNT(*) AS n_tokens FROM tokset GROUP BY doc_id
),
inter AS (
    SELECT c.doc_id_1, c.doc_id_2, COUNT(*) AS n_inter
    FROM cand c
    JOIN tokset a ON a.doc_id = c.doc_id_1
    JOIN tokset b ON b.doc_id = c.doc_id_2 AND b.token = a.token
    GROUP BY c.doc_id_1, c.doc_id_2
)
SELECT i.doc_id_1, i.doc_id_2,
       ROUND(n_inter / (s1.n_tokens + s2.n_tokens - n_inter), 6) AS jaccard
FROM inter i
JOIN sizes s1 ON i.doc_id_1 = s1.doc_id
JOIN sizes s2 ON i.doc_id_2 = s2.doc_id
WHERE n_inter / (s1.n_tokens + s2.n_tokens - n_inter) >= 0.5
""".strip(),
)
def jaccard_on_lsh_candidates_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-default near-dup detection: MinHash-LSH band buckets propose
    candidate pairs (linear in true near-dup density), then EXACT token-set
    Jaccard verifies only those — replacing the quadratic within-block
    all-pairs scan of ``jaccard_pairs_by_source``. This is the composition
    a 100 TB corpus dedup actually runs: cheap probabilistic recall stage,
    exact precision stage on the survivors."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_sigs_at_rest(spark, sf_dir)
    cand = lsh_candidate_pairs(sigs, rows_per_band=2)
    return jaccard_on_candidates(docs, cand, min_jaccard=0.5)


@query(
    "dedup_connected_components",
    oracle=f"""
WITH RECURSIVE {_MINHASH_CTE},
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
edges AS (
    SELECT doc_id_1 AS node, doc_id_2 AS nbr FROM cand
    UNION ALL
    SELECT doc_id_2 AS node, doc_id_1 AS nbr FROM cand
),
reach AS (
    SELECT doc_id AS node, doc_id AS lbl FROM documents
    UNION
    SELECT e.nbr AS node, r.lbl
    FROM reach r JOIN edges e ON e.node = r.node
),
comp AS (
    SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
),
sizes AS (
    SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM comp GROUP BY component
)
SELECT c.node AS doc_id, c.component, s.cluster_size,
       c.node = c.component AS keep
FROM comp c JOIN sizes s ON c.component = s.component
""".strip(),
)
def dedup_connected_components_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The final stage of the near-dup pipeline: LSH candidate pairs form a
    similarity graph; its connected components are the dedup clusters; each
    cluster keeps its minimum doc_id as canonical. Iterative min-label
    propagation on Spark (operators/graph.py — two shuffles per round,
    O(diameter) rounds); the oracle computes the same fixpoint as a
    recursive-CTE reachability closure. One row per document:
    (doc_id, component, cluster_size, keep)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_sigs_at_rest(spark, sf_dir)
    cand = lsh_candidate_pairs(sigs, rows_per_band=2)
    return dedup_clusters(docs, cand)


@query(
    "dedup_connected_components_lss",
    oracle=f"""
WITH RECURSIVE {_MINHASH_CTE},
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
edges AS (
    SELECT doc_id_1 AS node, doc_id_2 AS nbr FROM cand
    UNION ALL
    SELECT doc_id_2 AS node, doc_id_1 AS nbr FROM cand
),
reach AS (
    SELECT doc_id AS node, doc_id AS lbl FROM documents
    UNION
    SELECT e.nbr AS node, r.lbl
    FROM reach r JOIN edges e ON e.node = r.node
)
SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
""".strip(),
)
def dedup_connected_components_lss_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same dedup clustering through the adversarial-diameter
    algorithm: alternating large-star/small-star contraction (O(log^2 n)
    rounds on any graph shape) instead of O(diameter) label propagation.
    Same reachability oracle — the two variants must agree exactly."""
    from apache_beam_challange_spark.operators.graph import (
        connected_components_lss,
    )

    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_sigs_at_rest(spark, sf_dir)
    cand = lsh_candidate_pairs(sigs, rows_per_band=2)
    return connected_components_lss(docs, cand)


@query("simhash_signatures_xxhash64_perf")  # rows-only: xxhash64 has no DuckDB twin
def simhash_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LABELED PERF TWIN (VERDICT r8 #4): 64-bit SimHash per document with
    Spark's JVM-side ``xxhash64`` as the bit source — faster than the md5
    route but not reproducible in DuckDB, so this is the registry's only
    rows-only entry, kept as an explicitly named ablation. The CONTRACT is
    ``simhash_md5_signatures`` (full 64-bit signatures hash-verified);
    determinism of this twin is pinned in tests/test_dedup.py."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash64(docs)


_SIMHASH_MD5_CTE = """
tok AS (
    SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
h AS (SELECT doc_id, md5(token) AS hx FROM tok),
votes AS (
    SELECT doc_id, b.b AS b,
           SUM(2 * (((STRPOS('0123456789abcdef',
                             SUBSTR(hx, CAST(FLOOR(b.b / 4) AS INT) + 1, 1)) - 1)
                     >> CAST(b.b % 4 AS INT)) & 1) - 1) AS vote
    FROM h, (SELECT unnest(generate_series(0, 63)) AS b) b
    GROUP BY doc_id, b.b
),
sig AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN vote > 0 THEN
                         CASE WHEN b = 63 THEN CAST(-9223372036854775808 AS BIGINT)
                              ELSE (CAST(1 AS BIGINT) << CAST(b AS INT)) END
                    ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
    FROM votes
    GROUP BY doc_id
)
""".strip()


@query(
    "simhash_md5_signatures",
    oracle=f"WITH {_SIMHASH_MD5_CTE}\nSELECT doc_id, simhash FROM sig",
)
def simhash_md5_signatures_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE SimHash contract (primary since round 9, VERDICT r8 #4): the
    full 64-bit signature of every document is hash-verified against DuckDB
    computing the same bit votes from the same hex digits. The xxhash64
    fast path lives next door as the labeled perf twin
    (``simhash_signatures_xxhash64_perf``, rows-only by design)."""
    from apache_beam_challange_spark.operators.dedup import simhash64_md5

    docs = load_table(spark, sf_dir, "documents")
    return simhash64_md5(docs)


@query(
    "simhash_near_dup_pairs",
    oracle=f"""
WITH {_SIMHASH_MD5_CTE},
bands AS (
    SELECT doc_id, simhash, b.b AS band_idx,
           (simhash >> CAST(16 * b.b AS INT)) & 65535 AS band_val
    FROM sig, (SELECT unnest(generate_series(0, 3)) AS b) b
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                AND a.doc_id < b.doc_id
)
SELECT c.doc_id_1, c.doc_id_2,
       CAST(bit_count(xor(s1.simhash, s2.simhash)) AS INTEGER) AS hamming
FROM cand c
JOIN sig s1 ON c.doc_id_1 = s1.doc_id
JOIN sig s2 ON c.doc_id_2 = s2.doc_id
WHERE bit_count(xor(s1.simhash, s2.simhash)) <= 3
""".strip(),
)
def simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs, end to end: md5-bit signatures, 4x16-bit
    band equi-join for candidates (pigeonhole-exact recall at Hamming <= 3),
    exact Hamming verify. The third dedup family's pairing stage, next to
    MinHash-LSH->Jaccard and embedding-LSH->cosine — same two-stage
    recall/precision shape, fully oracle-verified."""
    from apache_beam_challange_spark.operators.dedup import (
        simhash64_md5,
        simhash_candidate_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return simhash_candidate_pairs(simhash64_md5(docs), num_bands=4, max_hamming=3)


@query(
    "ivf_topk_trained_vec0",
    oracle="WITH "
    + kmeans_cents_ctes(k=4, n_iter=2)
    + """,
cents AS (SELECT centroid_id, cvec FROM cents2),
assign AS (
    SELECT vec_id, label, vec, centroid_id FROM (
        SELECT v.vec_id, v.label, v.vec, c.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_cosine_similarity(v.vec, c.cvec) DESC,
                            c.centroid_id
               ) AS rk
        FROM vecs v CROSS JOIN cents c
    ) WHERE rk = 1
),
q AS (SELECT vec AS qv FROM vecs WHERE vec_id = 0),
probes AS (
    SELECT centroid_id FROM (
        SELECT c.centroid_id,
               ROW_NUMBER() OVER (
                   ORDER BY list_cosine_similarity(c.cvec, q.qv) DESC,
                            c.centroid_id
               ) AS rk
        FROM cents c, q
    ) WHERE rk <= 2
)
SELECT a.vec_id, a.label,
       ROUND(list_cosine_similarity(a.vec, q.qv), 6) AS cosine_sim
FROM assign a
JOIN probes p ON a.centroid_id = p.centroid_id
CROSS JOIN q
WHERE a.vec_id <> 0
ORDER BY cosine_sim DESC, a.vec_id
LIMIT 20""",
)
def ivf_topk_trained_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full ANN pipeline in one query: train the coarse quantizer with
    k-means (k=4, 2 Lloyd rounds), build the inverted lists against the
    TRAINED centroids, probe the 2 nearest, exact-search only those.
    Composes operators/clustering.py with operators/similarity.py; the
    oracle chains the unrolled k-means CTEs into the IVF probe SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, k=4, n_iter=2)
    return knn_join_ivf(emb, [0], 20, n_probe=2, cents=cents).drop("query_vec_id")


@query(
    "ivf_retrain_topk_vec0",
    oracle="WITH "
    + kmeans_cents_ctes(k=4, n_iter=3)
    + """,
cents AS (SELECT centroid_id, cvec FROM cents3),
assign AS (
    SELECT vec_id, label, vec, centroid_id FROM (
        SELECT v.vec_id, v.label, v.vec, c.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_cosine_similarity(v.vec, c.cvec) DESC,
                            c.centroid_id
               ) AS rk
        FROM vecs v CROSS JOIN cents c
    ) WHERE rk = 1
),
q AS (SELECT vec AS qv FROM vecs WHERE vec_id = 0),
probes AS (
    SELECT centroid_id FROM (
        SELECT c.centroid_id,
               ROW_NUMBER() OVER (
                   ORDER BY list_cosine_similarity(c.cvec, q.qv) DESC,
                            c.centroid_id
               ) AS rk
        FROM cents c, q
    ) WHERE rk <= 2
)
SELECT a.vec_id, a.label,
       ROUND(list_cosine_similarity(a.vec, q.qv), 6) AS cosine_sim
FROM assign a
JOIN probes p ON a.centroid_id = p.centroid_id
CROSS JOIN q
WHERE a.vec_id <> 0
ORDER BY cosine_sim DESC, a.vec_id
LIMIT 20""",
)
def ivf_retrain_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF RE-TRAINING: the 2-round codebook is published AT REST
    (versioned-pointer discipline, sources/publish.py), read back, and
    continued for ONE more Lloyd round from the STORED state before serving.
    The oracle is a from-scratch THREE-round CTE chain — hash equality
    proves the retraining contract exactly: resume-from-stored(m rounds)+n
    == train(m+n), i.e. periodic re-training is trajectory continuation,
    never a silently different model. (Parquet doubles round-trip exactly;
    every Lloyd update is a deterministic fixed-point function of (corpus,
    centroids) — operators/clustering.py.) Drift/balance behavior is pinned
    separately in tests/test_quantization.py."""
    from apache_beam_challange_spark.sources.publish import (
        publish,
        read_published,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    base = warehouse_path(sf_dir, "ivf_cents_k4i2_store", "embeddings")
    stored = read_published(spark, base)
    if stored is None:
        publish(kmeans_centroids(emb, k=4, n_iter=2), base)
        stored = read_published(spark, base)
    retrained = kmeans_centroids(emb, k=4, n_iter=1, init_cents=stored)
    return knn_join_ivf(emb, [0], 20, n_probe=2, cents=retrained).drop("query_vec_id")


@query("pq_topk_vec0", oracle=pq_oracle_sql())
def pq_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-20: 4 subspace Lloyd codebooks compress
    each 64-float vector to 4 codes; query-time asymmetric distance sums
    broadcast per-subspace lookup tables — the scan reads codes, never
    floats. Completes the ANN family (exact / LSH / IVF / IVF-trained /
    IVF-at-rest / PQ), fully oracle-verified via per-subspace generated
    k-means CTEs (operators/clustering.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return pq_topk(emb, query_vec_id=0, k_results=20)


@query("kmeans_embedding_clusters", oracle=kmeans_oracle_sql())
def kmeans_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means (k=4, 2 Lloyd rounds) over the embedding table — trains the
    coarse quantizer the IVF index consumes. Deterministic init (first k
    vectors) + fixed-point centroid sums make the whole iterative
    trajectory oracle-reproducible; the DuckDB twin unrolls the iterations
    as generated CTEs (operators/clustering.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_assignments(emb, k=4, n_iter=2)


# --- similarity search ------------------------------------------------------

@query(
    "cosine_topk_vec0",
    oracle="""
WITH q AS (
    SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
)
SELECT vec_id, label,
       ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv), 6)
           AS cosine_sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cosine_sim DESC, vec_id
LIMIT 20
""".strip(),
)
def cosine_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-20 against vector 0 — the ANN baseline:
    one narrow scan + partial-top-k merge, zero shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join_exact(emb, [0], 20).drop("query_vec_id")



_ANN_CTE = """
vecs AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
comp AS (
    SELECT vec_id, unnest(v) AS x, unnest(generate_series(1, 64)) AS j
    FROM vecs
),
proj AS (
    SELECT vec_id, p.p,
           SUM(x * (sin(p.p * 64 + j) * 43758.5453
                    - FLOOR(sin(p.p * 64 + j) * 43758.5453) - 0.5)) AS s
    FROM comp, (SELECT unnest(generate_series(0, 3)) AS p) p
    GROUP BY vec_id, p.p
),
buck AS (
    SELECT vec_id,
           STRING_AGG(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
    FROM proj
    GROUP BY vec_id
)
""".strip()


@query(
    "ann_lsh_topk_vec0",
    oracle=f"""
WITH {_ANN_CTE}
SELECT v.vec_id, v.label,
       ROUND(list_cosine_similarity(v.v, q.qv), 6) AS cosine_sim
FROM vecs v
JOIN buck b ON v.vec_id = b.vec_id
CROSS JOIN (
    SELECT vecs.v AS qv, buck.bucket AS qb
    FROM vecs JOIN buck ON vecs.vec_id = buck.vec_id
    WHERE vecs.vec_id = 0
) q
WHERE b.bucket = q.qb AND v.vec_id <> 0
ORDER BY cosine_sim DESC, v.vec_id
LIMIT 20
""".strip(),
)
def ann_lsh_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-20 via sign-random-projection LSH (16 buckets): exact cosine
    only within the query's bucket. The hyperplanes are deterministic
    sin-hash vectors, so even this approximate path is oracle-verified.
    Single-table recall@20 is a measured 0.10 on this near-orthogonal
    corpus — kept as the building-block baseline; the SERVABLE path is
    ``ann_lsh_multitable_topk_vec0`` (OR-amplification, recall 0.85)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join_lsh(emb, [0], 20, num_planes=4, dim=64).drop("query_vec_id")


# 16 tables x 4 planes: global plane index p in 0..63, table = p // 4,
# bucket = the table's 4 sign bits in plane order — identical layout to
# operators.similarity.knn_join_lsh_multitable(num_tables=16). The
# bucket-table prefix is shared by the single-query and batch oracles.
_ANN_MULTI_BUCK_CTE = """
vecs AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
comp AS (
    SELECT vec_id, unnest(v) AS x, unnest(generate_series(1, 64)) AS j
    FROM vecs
),
proj AS (
    SELECT vec_id, p.p,
           SUM(x * (sin(p.p * 64 + j) * 43758.5453
                    - FLOOR(sin(p.p * 64 + j) * 43758.5453) - 0.5)) AS s
    FROM comp, (SELECT unnest(generate_series(0, 63)) AS p) p
    GROUP BY vec_id, p.p
),
buck AS (
    SELECT vec_id, p // 4 AS table_idx,
           STRING_AGG(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
    FROM proj
    GROUP BY vec_id, p // 4
)""".strip()

_ANN_MULTI_CTE = f"""
{_ANN_MULTI_BUCK_CTE},
qb AS (SELECT table_idx, bucket FROM buck WHERE vec_id = 0),
cand AS (
    SELECT DISTINCT b.vec_id
    FROM buck b JOIN qb ON b.table_idx = qb.table_idx AND b.bucket = qb.bucket
    WHERE b.vec_id <> 0
),
q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0)
""".strip()


_ANN_MULTI_ORACLE = f"""
WITH {_ANN_MULTI_CTE}
SELECT v.vec_id, v.label,
       ROUND(list_cosine_similarity(v.v, q.qv), 6) AS cosine_sim
FROM vecs v JOIN cand ON v.vec_id = cand.vec_id
CROSS JOIN q
ORDER BY cosine_sim DESC, v.vec_id
LIMIT 20
""".strip()


@query("ann_lsh_multitable_topk_vec0", oracle=_ANN_MULTI_ORACLE)
def ann_lsh_multitable_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVABLE LSH ANN: 16 independent hash tables OR-ed (candidates =
    union of the query's buckets), exact cosine over the distinct union —
    measured recall@20 = 0.85 vs exact (floor 0.80 pinned in
    tests/test_vector.py), vs 0.10 for the single-table baseline. One
    band-shaped equi-join on (table_idx, bucket); no all-pairs anywhere."""
    emb = load_table(spark, sf_dir, "embeddings")
    ranked = knn_join_lsh_multitable(emb, [0], 20, num_tables=16, num_planes=4, dim=64)
    return ranked.drop("query_vec_id")


@query(
    "cosine_topk_pandas_vec0",
    oracle="""
WITH q AS (
    SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
)
SELECT vec_id, label,
       ROUND(list_cosine_similarity(CAST(embedding AS DOUBLE[]), q.qv), 6)
           AS cosine_sim
FROM embeddings, q
WHERE vec_id <> 0
ORDER BY cosine_sim DESC, vec_id
LIMIT 20
""".strip(),
)
def cosine_topk_pandas_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same exact top-20 as ``cosine_topk_vec0`` through the OTHER
    sanctioned implementation path: an Arrow-batched pandas UDF doing the
    dot products in numpy (one BLAS matmul per batch) instead of native
    ``aggregate``/``zip_with`` folds. Same oracle — route equivalence."""
    from pyspark.sql.functions import pandas_udf

    emb = load_table(spark, sf_dir, "embeddings")
    qvec = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>"))
        .head()[0]
    )
    q = np.asarray(qvec, dtype=np.float64)
    qn = np.sqrt((q * q).sum())

    @pandas_udf("double")
    def cos(batch: pd.Series) -> pd.Series:
        m = np.stack([np.asarray(v, dtype=np.float64) for v in batch])
        sims = (m @ q) / (np.sqrt((m * m).sum(axis=1)) * qn)
        return pd.Series(sims)

    return (
        emb.filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "label",
            F.round(cos(F.col("embedding").cast("array<double>")), 6).alias(
                "cosine_sim"
            ),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(20)
    )


_IVF_CTE = """
vecs AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
cents AS (
    SELECT vec_id AS centroid_id, v AS cvec FROM vecs
    WHERE vec_id IN (0, 1, 2, 3, 4, 5, 6, 7)
),
assign AS (
    SELECT vec_id, label, v, centroid_id FROM (
        SELECT x.vec_id, x.label, x.v, c.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY x.vec_id
                   ORDER BY list_cosine_similarity(x.v, c.cvec) DESC, c.centroid_id
               ) AS rk
        FROM vecs x, cents c
    ) t WHERE rk = 1
),
q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0),
probes AS (
    SELECT centroid_id FROM (
        SELECT c.centroid_id,
               ROW_NUMBER() OVER (
                   ORDER BY list_cosine_similarity(c.cvec, q.qv) DESC, c.centroid_id
               ) AS rk
        FROM cents c, q
    ) t WHERE rk <= 2
)
""".strip()


@query(
    "ivf_topk_vec0",
    oracle=f"""
WITH {_IVF_CTE}
SELECT a.vec_id, a.label,
       ROUND(list_cosine_similarity(a.v, q.qv), 6) AS cosine_sim
FROM assign a
JOIN probes p ON a.centroid_id = p.centroid_id
CROSS JOIN q
WHERE a.vec_id <> 0
ORDER BY cosine_sim DESC, a.vec_id
LIMIT 20
""".strip(),
)
def ivf_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-20: coarse-quantize to an 8-vector deterministic
    codebook, probe the query's 2 nearest inverted lists, exact-search only
    those (~2/8 of the table). The second ANN family next to LSH buckets;
    also fully oracle-verified."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join_ivf(emb, [0], 20, n_probe=2).drop("query_vec_id")


@query(
    "ivf_topk_indexed_vec0",
    oracle=f"""
WITH {_IVF_CTE}
SELECT a.vec_id, a.label,
       ROUND(list_cosine_similarity(a.v, q.qv), 6) AS cosine_sim
FROM assign a
JOIN probes p ON a.centroid_id = p.centroid_id
CROSS JOIN q
WHERE a.vec_id <> 0
ORDER BY cosine_sim DESC, a.vec_id
LIMIT 20
""".strip(),
)
def ivf_topk_indexed_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-20 served from the AT-REST index: the inverted lists are
    materialized once, hive-partitioned by centroid_id under the warehouse
    (ivf_write_index); the probe join then triggers dynamic partition
    pruning, so non-probed lists are skipped at the FILE level. Same
    oracle as ivf_topk_vec0 — the index must be semantically invisible."""
    from apache_beam_challange_spark.operators.similarity import (
        IVF_CODEBOOK,
        ivf_write_index,
    )
    emb = load_table(spark, sf_dir, "embeddings")
    path = warehouse_path(sf_dir, "ivf_index_8", "embeddings")
    if not is_materialized(path):
        ivf_write_index(emb, path, IVF_CODEBOOK)
    index = read_parquet(spark, path)
    return knn_join_ivf(emb, [0], 20, n_probe=2, index=index).drop("query_vec_id")


_PQ_CTES, _PQ_JOINS, _PQ_ADC = pq_parts_ctes()

_IVFPQ_ORACLE = f"""
WITH {_IVF_CTE},
{_PQ_CTES},
ivf_cand AS (
    SELECT a.vec_id FROM assign a
    JOIN probes p ON a.centroid_id = p.centroid_id
    WHERE a.vec_id <> 0
)
SELECT enc0.vec_id, enc0.label, ROUND({_PQ_ADC}, 6) AS adc_dist
FROM enc0
JOIN ivf_cand ON enc0.vec_id = ivf_cand.vec_id
{_PQ_JOINS}
ORDER BY adc_dist ASC, enc0.vec_id
LIMIT 20
""".strip()


@query("ivfpq_topk_vec0", oracle=_IVFPQ_ORACLE)
def ivfpq_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ — the canonical billion-scale ANN composition: coarse
    inverted lists bound the candidate set (recall stage, ~n_probe/|lists|
    of the data), then compressed PQ codes rank it via summed ADC lookups
    (precision stage — no float vectors read). Both stages are the
    already-verified operators composed; the oracle chains the IVF CTEs
    into the per-subspace PQ chains."""
    from apache_beam_challange_spark.operators.similarity import (
        centroid_table,
        ivf_candidates,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cand = ivf_candidates(emb, centroid_table(emb), [0], n_probe=2)
    return pq_topk(emb, query_vec_id=0, k_results=20, candidates=cand)


@query("ivfpq_topk_indexed_vec0", oracle=_IVFPQ_ORACLE)
def ivfpq_topk_indexed_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ served from the AT-REST index: the codes table (4 codes per
    vector + coarse list id) is materialized once, hive-partitioned by
    centroid_id; a query broadcasts the probe set into the partition
    column (dynamic partition pruning skips non-probed lists at the file
    level) and ranks by ADC lookups — no corpus float vector is read.
    Same oracle as the inline composition: the index must be semantically
    invisible."""
    from apache_beam_challange_spark.operators.clustering import (
        ivfpq_topk_indexed,
        pq_write_index,
    )
    emb = load_table(spark, sf_dir, "embeddings")
    path = warehouse_path(sf_dir, "ivfpq_index_8x4", "embeddings")
    if not is_materialized(path, parts=(path + "_codebooks",)):
        pq_write_index(emb, path)
    index = read_parquet(spark, path)
    codebooks = read_parquet(spark, path + "_codebooks")
    return ivfpq_topk_indexed(
        emb, index, query_vec_id=0, k_results=20, codebooks=codebooks
    )


@query(
    "knn_join_vec10",
    oracle=f"""
WITH {_IVF_CTE},
qset AS (SELECT vec_id AS query_vec_id, v AS qv FROM vecs WHERE vec_id < 10),
qprobes AS (
    SELECT query_vec_id, qv, centroid_id FROM (
        SELECT q.query_vec_id, q.qv, c.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY q.query_vec_id
                   ORDER BY list_cosine_similarity(c.cvec, q.qv) DESC,
                            c.centroid_id
               ) AS rk
        FROM qset q CROSS JOIN cents c
    ) WHERE rk <= 2
)
SELECT query_vec_id, vec_id, label, cosine_sim FROM (
    SELECT p.query_vec_id, a.vec_id, a.label,
           ROUND(list_cosine_similarity(a.v, p.qv), 6) AS cosine_sim,
           ROW_NUMBER() OVER (
               PARTITION BY p.query_vec_id
               ORDER BY ROUND(list_cosine_similarity(a.v, p.qv), 6) DESC,
                        a.vec_id
           ) AS rk
    FROM assign a JOIN qprobes p ON a.centroid_id = p.centroid_id
    WHERE a.vec_id <> p.query_vec_id
) WHERE rk <= 5
""".strip(),
)
def knn_join_vec10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join — top-5 corpus neighbors for EVERY query in a
    10-vector batch through one IVF-probed equi-join plan (the
    many-queries-at-once shape a curation pipeline runs, vs the
    single-query ann_* entries). The oracle reuses the IVF assign CTE and
    ranks per query over the probed lists."""
    emb = load_table(spark, sf_dir, "embeddings")
    return knn_join_ivf(emb, list(range(10)), 5, n_probe=2)


_IVFPQ_BATCH_LUTS = ",\n".join(
    f"""
qpb{j} AS (
    SELECT q.vec_id AS qid, c.centroid_id AS code_{j},
           list_distance(c.cvec, q.vec) * list_distance(c.cvec, q.vec) AS p_{j}
    FROM s{j}_cents1 c,
         (SELECT vec_id, vec FROM s{j}_vecs WHERE vec_id < 10) q
)""".strip()
    for j in range(4)
)

_IVFPQ_BATCH_ORACLE = f"""
WITH {_IVF_CTE},
{_PQ_CTES},
qset2 AS (SELECT vec_id AS qid, v AS qv FROM vecs WHERE vec_id < 10),
qprobes2 AS (
    SELECT qid, centroid_id FROM (
        SELECT q.qid, c.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY q.qid
                   ORDER BY list_cosine_similarity(c.cvec, q.qv) DESC,
                            c.centroid_id) AS rk
        FROM qset2 q CROSS JOIN cents c
    ) WHERE rk <= 2
),
{_IVFPQ_BATCH_LUTS},
ivf_cand AS (
    SELECT p.qid, a.vec_id FROM assign a
    JOIN qprobes2 p ON a.centroid_id = p.centroid_id
    WHERE a.vec_id <> p.qid
)
SELECT query_vec_id, vec_id, label, adc_dist FROM (
    SELECT ic.qid AS query_vec_id, enc0.vec_id, enc0.label,
           ROUND(qpb0.p_0 + qpb1.p_1 + qpb2.p_2 + qpb3.p_3, 6) AS adc_dist,
           ROW_NUMBER() OVER (PARTITION BY ic.qid
               ORDER BY ROUND(qpb0.p_0 + qpb1.p_1 + qpb2.p_2 + qpb3.p_3, 6) ASC,
                        enc0.vec_id) AS rk
    FROM ivf_cand ic
    JOIN enc0 ON enc0.vec_id = ic.vec_id
    JOIN qpb0 ON qpb0.qid = ic.qid AND qpb0.code_0 = enc0.code_0
    JOIN enc1 ON enc1.vec_id = ic.vec_id
    JOIN qpb1 ON qpb1.qid = ic.qid AND qpb1.code_1 = enc1.code_1
    JOIN enc2 ON enc2.vec_id = ic.vec_id
    JOIN qpb2 ON qpb2.qid = ic.qid AND qpb2.code_2 = enc2.code_2
    JOIN enc3 ON enc3.vec_id = ic.vec_id
    JOIN qpb3 ON qpb3.qid = ic.qid AND qpb3.code_3 = enc3.code_3
) WHERE rk <= 5
ORDER BY query_vec_id, adc_dist, vec_id
""".strip()


@query("ivfpq_knn_join_vec10", oracle=_IVFPQ_BATCH_ORACLE)
def ivfpq_knn_join_vec10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch IVF+PQ k-NN join from the AT-REST codes index (round 8):
    top-5 by ADC for every query in a 10-vector batch — completing the
    batch-serving family across every index type (IVF `knn_join_vec10`,
    LSH `knn_join_lsh_vec10`, MIPS `mips_knn_join_vec10`, graph
    `nsw_knn_join_vec10`, and now the compressed-codes route). The whole
    query set probes the coarse codebook in one window, the probe pairs
    DPP-prune the partitioned codes table once, and all ten queries' ADC
    lookup tables ride one broadcast join; no corpus float vector is
    read. The oracle reuses the verified IVF + PQ CTE chains with the
    LUT and ranking stages partitioned by qid."""
    from apache_beam_challange_spark.operators.clustering import (
        ivfpq_knn_join_indexed,
        pq_write_index,
    )
    emb = load_table(spark, sf_dir, "embeddings")
    path = warehouse_path(sf_dir, "ivfpq_index_8x4", "embeddings")
    if not is_materialized(path, parts=(path + "_codebooks",)):
        pq_write_index(emb, path)
    index = read_parquet(spark, path)
    codebooks = read_parquet(spark, path + "_codebooks")
    return ivfpq_knn_join_indexed(
        emb, index, codebooks, query_ids=list(range(10)), k_results=5
    )


@query(
    "embedding_dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_ANN_CTE},
pairs AS (
    SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2
    FROM buck a
    JOIN buck b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    JOIN vecs va ON va.vec_id = a.vec_id
    JOIN vecs vb ON vb.vec_id = b.vec_id
    WHERE list_cosine_similarity(va.v, vb.v) >= 0.4
),
edges AS (
    SELECT vec_id_1 AS node, vec_id_2 AS nbr FROM pairs
    UNION ALL
    SELECT vec_id_2 AS node, vec_id_1 AS nbr FROM pairs
),
reach AS (
    SELECT vec_id AS node, vec_id AS lbl FROM embeddings
    UNION
    SELECT e.nbr AS node, r.lbl
    FROM reach r JOIN edges e ON e.node = r.node
),
cclab AS (
    SELECT node, MIN(lbl) AS component FROM reach GROUP BY node
),
sizes AS (
    SELECT component, CAST(COUNT(*) AS BIGINT) AS cluster_size
    FROM cclab GROUP BY component
)
SELECT c.node AS vec_id, c.component, s.cluster_size,
       c.node = c.component AS keep
FROM cclab c JOIN sizes s ON c.component = s.component
""".strip(),
)
def embedding_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-shaped EMBEDDING dedup, end to end (Abbas et al. 2023
    arXiv:2303.09540 describe the semantic-dedup recipe; public
    literature): LSH-bucketed cosine near-dup pairs form the similarity
    graph, its connected components are the semantic clusters, and each
    cluster keeps its canonical (min-id) representative — the full chain
    a curation pipeline runs on embeddings, mirroring the token-level
    ``dedup_connected_components`` on the MinHash graph. Every stage is
    the already-verified operator; the oracle chains the bucket CTEs into
    the recursive-CTE components."""
    from apache_beam_challange_spark.functions.vector import cosine
    from apache_beam_challange_spark.operators.graph import dedup_clusters
    from apache_beam_challange_spark.operators.similarity import lsh_bucket

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        as_double(F.col("embedding")).alias("v"),
        lsh_bucket(as_double(F.col("embedding")), 4, 64).alias("bucket"),
    )
    a = emb.select(F.col("vec_id").alias("vec_id_1"), F.col("v").alias("v1"), "bucket")
    b = emb.select(F.col("vec_id").alias("vec_id_2"), F.col("v").alias("v2"), "bucket")
    edges = (
        a.join(b, "bucket")
        .filter(F.col("vec_id_1") < F.col("vec_id_2"))
        .filter(cosine(F.col("v1"), F.col("v2")) >= 0.4)
        .select("vec_id_1", "vec_id_2")
    )
    vertices = emb.select("vec_id")
    return dedup_clusters(
        vertices, edges, id_col="vec_id", src_col="vec_id_1", dst_col="vec_id_2"
    )


@query(
    "duplicate_ngram_spans",
    oracle="""
WITH grams AS (
    SELECT doc_id,
           md5(array_to_string(toks[p.p:p.p+7], ' ')) AS fp
    FROM (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ) d,
    (SELECT unnest(generate_series(1, 4000)) AS p) p
    WHERE p.p + 7 <= LEN(d.toks)
),
dup_fps AS (
    SELECT fp FROM grams GROUP BY fp HAVING COUNT(DISTINCT doc_id) > 1
)
SELECT g.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(COUNT(CASE WHEN d.fp IS NOT NULL THEN 1 END) AS BIGINT)
           AS n_dup_spans,
       ROUND(COUNT(CASE WHEN d.fp IS NOT NULL THEN 1 END) * 1.0
             / COUNT(*), 6) AS dup_span_ratio
FROM grams g LEFT JOIN dup_fps d ON g.fp = d.fp
GROUP BY g.doc_id
HAVING COUNT(CASE WHEN d.fp IS NOT NULL THEN 1 END) > 0
""".strip(),
)
def duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicate SPAN detection — the ExactSubstr primitive
    of Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (ACL'22, public literature), at n-gram granularity: every word
    8-gram is fingerprinted (md5, so the oracle reproduces it), a span is
    duplicated iff its fingerprint occurs in MORE THAN ONE document, and
    each affected doc reports its duplicated-span count and ratio — the
    signal used to cut boilerplate/licenses/templates that exact and
    near-dup doc-level dedup both miss.

    Plan shape: one narrow explode (positions), one md5 per span, a
    fingerprint groupBy (map-side combined) to find multi-doc spans, one
    equi-join back, one doc groupBy. Never doc x doc. (The oracle's
    position series is bounded at 4000 for the cross-join unnest; corpus
    docs max out at 100 tokens — a 40x margin, not a silent truncation.)"""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.col("text"), " ").alias("toks")
    )
    n = 8
    # the pre-filter is load-bearing, not an optimization: for a doc
    # shorter than n tokens, sequence(1, 0) is DESCENDING [1, 0] (Spark
    # defaults the step to -1 when start > stop) and slice(toks, 0, n)
    # throws INVALID_PARAMETER_VALUE — short docs must produce no grams
    # (as the oracle's WHERE p + 7 <= LEN does), not crash the query
    # two consumers (the dup-fingerprint groupBy and the join back) —
    # materialize the fingerprint stream once (the span-islands twin's
    # discipline) or the tokenize+md5 corpus pass runs twice
    grams = (
        docs.filter(F.size("toks") >= n)
        .select(
            "doc_id",
            F.explode(F.sequence(F.lit(1), F.size("toks") - (n - 1))).alias("p"),
            "toks",
        )
        .select(
            "doc_id",
            F.md5(F.array_join(F.slice("toks", F.col("p"), n), " ")).alias("fp"),
        )
        .localCheckpoint(eager=False)
    )
    dup_fps = (
        grams.groupBy("fp")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") > 1)
        .select("fp", F.lit(1).alias("__dup"))
    )
    return (
        grams.join(dup_fps, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("__dup"), F.lit(0)))
            .cast("long")
            .alias("n_dup_spans"),
        )
        .filter(F.col("n_dup_spans") > 0)
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            F.round(F.col("n_dup_spans") * 1.0 / F.col("n_spans"), 6).alias(
                "dup_span_ratio"
            ),
        )
    )


@query(
    "ann_lsh_multiprobe_topk_vec0",
    oracle=f"""
WITH {_ANN_CTE},
qb AS (SELECT bucket FROM buck WHERE vec_id = 0),
q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0)
SELECT v.vec_id, v.label,
       ROUND(list_cosine_similarity(v.v, q.qv), 6) AS cosine_sim
FROM vecs v
JOIN buck b ON v.vec_id = b.vec_id
CROSS JOIN qb
CROSS JOIN q
WHERE v.vec_id <> 0
  AND (CASE WHEN SUBSTR(b.bucket, 1, 1) <> SUBSTR(qb.bucket, 1, 1) THEN 1 ELSE 0 END) + (CASE WHEN SUBSTR(b.bucket, 2, 1) <> SUBSTR(qb.bucket, 2, 1) THEN 1 ELSE 0 END) + (CASE WHEN SUBSTR(b.bucket, 3, 1) <> SUBSTR(qb.bucket, 3, 1) THEN 1 ELSE 0 END) + (CASE WHEN SUBSTR(b.bucket, 4, 1) <> SUBSTR(qb.bucket, 4, 1) THEN 1 ELSE 0 END) <= 2
ORDER BY cosine_sim DESC, v.vec_id
LIMIT 20
""".strip(),
)
def ann_lsh_multiprobe_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN (Lv et al. VLDB'07): one hash table, the query
    probes every bucket within 2 sign flips of its own — recall@20 = 0.85
    (floor 0.80 pinned) at 11/16-bucket candidate coverage on this small
    bucket space; with production plane counts (16-64 planes) the probe
    set stays a vanishing fraction. The memory-lean twin of the 16-table
    OR amplification."""
    emb = load_table(spark, sf_dir, "embeddings")
    ranked = knn_join_lsh(emb, [0], 20, num_planes=4, dim=64, max_flips=2)
    return ranked.drop("query_vec_id")


@query("opq_topk_vec0", oracle=opq_oracle_sql())
def opq_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ under a TRAINED OPQ space decomposition (Ge et al. CVPR'13
    eigenvalue-allocation objective on exact integer variances): dims are
    permuted so each subspace carries balanced energy, then the standard
    PQ pipeline runs on the permuted vectors at the SAME code budget. On
    this isotropic synthetic corpus the allocation is a measured near
    no-op (recall stays 0.45 = plain PQ — asserted, not hidden); the
    machinery and its fully generated oracle (allocation CTEs feeding
    permutation-gathered k-means chains) are what this query pins."""
    from apache_beam_challange_spark.operators.clustering import (
        opq_allocation_from_keys,
        opq_topk,
        opq_variance_keys,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    # one variance-key row per dimension of the 64-dim corpus
    subs = opq_allocation_from_keys(collect_bounded(opq_variance_keys(emb), 64))
    return opq_topk(emb, query_vec_id=0, k_results=20, subs=subs)


_IVFPQ_REFINED_ORACLE = f"""
WITH {_IVF_CTE},
{_PQ_CTES},
ivf_cand AS (
    SELECT a.vec_id FROM assign a
    JOIN probes p ON a.centroid_id = p.centroid_id
    WHERE a.vec_id <> 0
),
shortlist AS (
    SELECT enc0.vec_id
    FROM enc0
    JOIN ivf_cand ON enc0.vec_id = ivf_cand.vec_id
    {_PQ_JOINS}
    ORDER BY ROUND({_PQ_ADC}, 6) ASC, enc0.vec_id
    LIMIT 100
)
SELECT v.vec_id, v.label,
       ROUND(list_cosine_similarity(v.v, q.qv), 6) AS cosine_sim
FROM vecs v JOIN shortlist s ON v.vec_id = s.vec_id
CROSS JOIN q
ORDER BY cosine_sim DESC, v.vec_id
LIMIT 20
""".strip()


@query("ivfpq_refined_topk_vec0", oracle=_IVFPQ_REFINED_ORACLE)
def ivfpq_refined_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SERVABLE IVF+PQ: the standard IVFADC+R design — coarse lists bound
    candidates, PQ ADC ranks them compressed, then the top-100 shortlist is
    exact-rerank'd by cosine on just those float rows (one <=100-id
    broadcast semi-join). Measured recall@20 = 0.95 vs exact (floor 0.90
    pinned in tests/test_vector.py), vs 0.45 for ADC-only ranks. The
    oracle chains the IVF CTEs, the per-subspace PQ k-means chains, the
    rounded-ADC top-100 cut, and the rerank — every stage hash-verified."""
    from apache_beam_challange_spark.operators.clustering import (
        ivfpq_refined_topk,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return ivfpq_refined_topk(
        emb, query_vec_id=0, k_results=20, n_refine=100, n_probe=2
    )


@query(
    "embedding_near_dup_lsh",
    oracle=f"""
WITH {_ANN_CTE}
SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
       ROUND(list_cosine_similarity(va.v, vb.v), 6) AS cosine_sim
FROM buck a
JOIN buck b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
JOIN vecs va ON va.vec_id = a.vec_id
JOIN vecs vb ON vb.vec_id = b.vec_id
WHERE list_cosine_similarity(va.v, vb.v) >= 0.4
""".strip(),
)
def embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs, scale path: candidates restricted to pairs
    sharing an LSH bucket (16 sign-projection buckets), exact cosine only
    within buckets — the same bucket-join shape as MinHash LSH, cutting the
    candidate space ~16x vs ``embedding_near_dup_pairs``. Sign-agreement
    probability is (1 - acos(sim)/pi)^planes: ~65% for true near-dups
    (sim>=0.95), deliberately low at this synthetic corpus's 0.4 threshold
    — production stacks add multi-probe or band-OR to recover recall; the
    query exists to pin the plan shape and its oracle."""
    from apache_beam_challange_spark.functions.vector import as_double, cosine
    from apache_beam_challange_spark.operators.similarity import lsh_bucket

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        as_double(F.col("embedding")).alias("v"),
        lsh_bucket(as_double(F.col("embedding")), 4, 64).alias("bucket"),
    )
    a = emb.select(
        F.col("vec_id").alias("vec_id_1"), F.col("v").alias("v1"), "bucket"
    )
    b = emb.select(
        F.col("vec_id").alias("vec_id_2"), F.col("v").alias("v2"), "bucket"
    )
    sim = cosine(F.col("v1"), F.col("v2"))
    return (
        a.join(b, "bucket")
        .filter(F.col("vec_id_1") < F.col("vec_id_2"))
        .withColumn("__sim", sim)
        .filter(F.col("__sim") >= 0.4)
        .select(
            "vec_id_1", "vec_id_2", F.round(F.col("__sim"), 6).alias("cosine_sim")
        )
    )


@query(
    "normalized_fingerprints",
    oracle="""
SELECT lang,
       COUNT(DISTINCT md5(TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text),
                 '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))) AS n_normalized,
       COUNT(DISTINCT md5(text)) AS n_raw
FROM documents
GROUP BY lang
""".strip(),
)
def normalized_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization for dedup: lowercase -> strip non-alphanumerics ->
    collapse runs of spaces -> trim, fingerprinted. Comparing normalized vs
    raw distinct counts measures how much near-duplication normalization
    alone removes — the first stage of every corpus dedup stack."""
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""), " +", " "
        )
    )
    return docs.groupBy("lang").agg(
        F.countDistinct(F.md5(norm)).alias("n_normalized"),
        F.countDistinct(F.md5(F.col("text"))).alias("n_raw"),
    )


@query(
    "embedding_norms_by_label",
    oracle="""
WITH norms AS (
    SELECT vec_id, label, SQRT(SUM(x * x)) AS norm
    FROM (SELECT vec_id, label, unnest(CAST(embedding AS DOUBLE[])) AS x
          FROM embeddings) t
    GROUP BY vec_id, label
)
SELECT label,
       COUNT(*) AS n_vecs,
       SUM(CAST(FLOOR(norm * 10000 + 0.5) AS BIGINT)) / CAST(10000.0 AS DOUBLE) AS sum_norm
FROM norms
GROUP BY label
""".strip(),
)
def embedding_norms_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2-norm distribution per label — embedding-table hygiene stats."""
    emb = load_table(spark, sf_dir, "embeddings")
    norms = emb.select(
        "label", l2_norm(as_double(F.col("embedding"))).alias("norm")
    )
    return norms.groupBy("label").agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.sum(F.floor(F.col("norm") * 10000 + F.lit(0.5)).cast("long")) / 10000.0)
        .alias("sum_norm"),
    )


@query(
    "ivfpq_refined_topk_indexed_vec0",
    oracle=_IVFPQ_REFINED_ORACLE,
)
def ivfpq_refined_topk_indexed_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFPQ+refine SERVED from the at-rest index: DPP-pruned codes scan,
    LUTs from the STORED codebooks (no per-query k-means), ADC top-100
    shortlist, exact cosine rerank. Same oracle as the inline refined
    composition — the index and stored codebooks must be semantically
    invisible. This is the query-time shape a 100 TB vector-search
    deployment actually runs."""
    from apache_beam_challange_spark.operators.clustering import (
        ivfpq_refined_topk_indexed,
        pq_write_index,
    )
    emb = load_table(spark, sf_dir, "embeddings")
    path = warehouse_path(sf_dir, "ivfpq_index_8x4_v2", "embeddings")
    if not is_materialized(path, parts=(path + "_codebooks",)):
        pq_write_index(emb, path)
    index = read_parquet(spark, path)
    codebooks = read_parquet(spark, path + "_codebooks")
    return ivfpq_refined_topk_indexed(
        emb, index, codebooks, query_vec_id=0, k_results=20, n_refine=100
    )


@query(
    "ann_lsh_multitable_topk_indexed_vec0",
    oracle=_ANN_MULTI_ORACLE,
)
def ann_lsh_multitable_topk_indexed_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multitable LSH served from the AT-REST bucket index: buckets are
    materialized once, hive-partitioned by (table_idx, bucket); the
    query's 16 bucket ids join the partition columns so pruning opens
    only the probed directories. Same oracle as the inline multitable
    query — the index must be semantically invisible."""
    from apache_beam_challange_spark.operators.similarity import lsh_write_index

    emb = load_table(spark, sf_dir, "embeddings")
    # layer name versioned (_b): the stored bucket format changed to
    # "b"-prefixed strings, so pre-existing content-keyed artifacts from
    # the digit-string era must not be served.
    path = warehouse_path(sf_dir, "lsh_index_16x4_b", "embeddings")
    if not is_materialized(path):
        lsh_write_index(emb, path, num_tables=16, num_planes=4, dim=64)
    index = read_parquet(spark, path)
    ranked = knn_join_lsh_multitable(
        emb, [0], 20, num_tables=16, num_planes=4, dim=64, index=index
    )
    return ranked.drop("query_vec_id")


@query(
    "ann_lsh_filtered_topk_vec0",
    oracle=f"""
WITH {_ANN_MULTI_BUCK_CTE},
qb AS (SELECT table_idx, bucket FROM buck WHERE vec_id = 0),
qlab AS (SELECT label FROM vecs WHERE vec_id = 0),
cand AS (
    SELECT DISTINCT b.vec_id
    FROM buck b JOIN qb ON b.table_idx = qb.table_idx AND b.bucket = qb.bucket
    WHERE b.vec_id <> 0
),
q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0)
SELECT v.vec_id, v.label,
       ROUND(list_cosine_similarity(v.v, q.qv), 6) AS cosine_sim
FROM vecs v
JOIN cand ON v.vec_id = cand.vec_id
CROSS JOIN q CROSS JOIN qlab
WHERE v.label <> qlab.label
ORDER BY cosine_sim DESC, v.vec_id
LIMIT 20
""".strip(),
)
def ann_lsh_filtered_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTERED vector search: top-20 cosine neighbors of
    vector 0 among vectors of a DIFFERENT label — the 'ANN WHERE
    metadata predicate' shape every production vector store serves. The
    predicate is PRE-FILTERED into the candidate stage (ranked only over
    qualifying vectors), not applied to a fixed shortlist afterwards;
    tests/test_vector.py measures the recall gap post-filtering leaves
    on this exact query. The query's label is a documented 1-row scalar
    lookup (the watermark-scalar discipline)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qlab = emb.filter(F.col("vec_id") == 0).select("label").head()[0]
    ranked = knn_join_lsh_multitable(emb, [0], 20, predicate=F.col("label") != qlab)
    return ranked.drop("query_vec_id")


_ANN_LSH_BATCH_ORACLE = f"""
WITH {_ANN_MULTI_BUCK_CTE},
qset AS (SELECT vec_id AS qid, v AS qv FROM vecs WHERE vec_id < 10),
qb AS (SELECT vec_id AS qid, table_idx, bucket FROM buck WHERE vec_id < 10),
cand AS (
    SELECT DISTINCT qb.qid, b.vec_id
    FROM buck b JOIN qb ON b.table_idx = qb.table_idx AND b.bucket = qb.bucket
    WHERE b.vec_id <> qb.qid
)
SELECT query_vec_id, vec_id, label, cosine_sim FROM (
    SELECT c.qid AS query_vec_id, v.vec_id, v.label,
           ROUND(list_cosine_similarity(v.v, q.qv), 6) AS cosine_sim,
           ROW_NUMBER() OVER (PARTITION BY c.qid
               ORDER BY ROUND(list_cosine_similarity(v.v, q.qv), 6) DESC,
                        v.vec_id) AS rk
    FROM cand c
    JOIN vecs v ON v.vec_id = c.vec_id
    JOIN qset q ON q.qid = c.qid
) WHERE rk <= 5
ORDER BY query_vec_id, cosine_sim DESC, vec_id
""".strip()


@query("knn_join_lsh_vec10", oracle=_ANN_LSH_BATCH_ORACLE)
def knn_join_lsh_vec10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN join over the AT-REST multitable LSH index: top-5 neighbors
    for EVERY query in a 10-vector batch — the query set's bucket lists
    probe the index partition columns in ONE broadcast equi-join (DPP opens
    the union of probed directories once), then one windowed exact-cosine
    rerank ranks all queries. The corpus is never rescanned per query: the
    plan contains a CONSTANT number of embeddings scans regardless of batch
    size (pinned in tests/test_vector.py). The oracle replays the same
    16-table buckets partitioned by qid."""
    from apache_beam_challange_spark.operators.similarity import lsh_write_index

    emb = load_table(spark, sf_dir, "embeddings")
    path = warehouse_path(sf_dir, "lsh_index_16x4_b", "embeddings")
    if not is_materialized(path):
        lsh_write_index(emb, path, num_tables=16, num_planes=4, dim=64)
    index = read_parquet(spark, path)
    return knn_join_lsh_multitable(
        emb, list(range(10)), 5, num_tables=16, num_planes=4, dim=64, index=index
    )


# --- single-layer NSW graph ANN ----------------------------------------------

#: The NSW beam-search trajectory, unrolled: expansion round r scores the
#: nodes reached from frontier f_r (the top-beam not-yet-expanded visited
#: nodes) and folds them into visited v_r. AS MATERIALIZED is mandatory —
#: a lazily re-expanded v_r chain is exponential (the MMR-chain lesson).
def _nsw_round_sql(r: int) -> str:
    prev_v = f"v{r - 1}"
    exclude = " UNION ALL ".join(
        f"SELECT vec_id FROM f{i}" for i in range(1, r)
    )
    not_in = f"WHERE vec_id NOT IN ({exclude})" if exclude else ""
    return f"""
f{r} AS MATERIALIZED (
    SELECT vec_id FROM {prev_v} {not_in}
    ORDER BY c DESC, vec_id LIMIT 16
),
v{r} AS MATERIALIZED (
    SELECT * FROM {prev_v}
    UNION
    SELECT v.vec_id, list_cosine_similarity(v.v, q.qv) AS c
    FROM vecs v CROSS JOIN q
    WHERE v.vec_id IN (SELECT a.dst FROM adj a JOIN f{r} ON a.src = f{r}.vec_id)
      AND v.vec_id <> 0
)""".strip()


#: Deterministic NSW graph rebuild (sin-hyperplane LSH buckets -> bucket
#: pairs -> per-src top-16 by cosine), shared by the single-query and
#: batch oracles so both replay searches over the IDENTICAL adjacency.
_NSW_GRAPH_CTE = """
vecs AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
comp AS (
    SELECT vec_id, unnest(v) AS x, unnest(generate_series(1, 64)) AS j
    FROM vecs
),
proj AS (
    SELECT vec_id, p.p,
           SUM(x * (sin(p.p * 64 + j) * 43758.5453
                    - FLOOR(sin(p.p * 64 + j) * 43758.5453) - 0.5)) AS s
    FROM comp, (SELECT unnest(generate_series(0, 15)) AS p) p
    GROUP BY vec_id, p.p
),
buck AS (
    SELECT vec_id, p // 4 AS table_idx,
           STRING_AGG(CASE WHEN s > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
    FROM proj
    GROUP BY vec_id, p // 4
),
pairs AS (
    SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
    FROM buck a
    JOIN buck b ON a.table_idx = b.table_idx AND a.bucket = b.bucket
              AND a.vec_id <> b.vec_id
),
adj AS MATERIALIZED (
    SELECT src, dst FROM (
        SELECT p.src, p.dst,
               ROW_NUMBER() OVER (PARTITION BY p.src
                   ORDER BY list_cosine_similarity(va.v, vb.v) DESC, p.dst
               ) AS rk
        FROM pairs p
        JOIN vecs va ON va.vec_id = p.src
        JOIN vecs vb ON vb.vec_id = p.dst
    ) t WHERE rk <= 16
)""".strip()

_NSW_ORACLE = f"""
WITH {_NSW_GRAPH_CTE},
q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0),
v0 AS MATERIALIZED (
    SELECT v.vec_id, list_cosine_similarity(v.v, q.qv) AS c
    FROM vecs v CROSS JOIN q
    WHERE v.vec_id <> 0 AND v.vec_id % 50 = 0
),
{",".join(_nsw_round_sql(r) for r in range(1, 9))}
SELECT t.vec_id, ve.label, ROUND(t.c, 6) AS cosine_sim
FROM v8 t JOIN vecs ve ON ve.vec_id = t.vec_id
ORDER BY cosine_sim DESC, t.vec_id
LIMIT 20
""".strip()


def _nsw_index(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(embeddings, adjacency) of the at-rest NSW index, built on first
    use. The layer name is versioned (_b2): the index gained a bucket
    sidecar for incremental appends, so pre-sidecar artifacts must not
    be served."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = warehouse_path(sf_dir, "nsw_graph_t4_m16_b2", "embeddings")
    if not is_materialized(path, parts=(path + "_buckets",)):
        nsw_write_index(emb, path)
    return emb, read_parquet(spark, path)


@query("nsw_topk_vec0", oracle=_NSW_ORACLE)
def nsw_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN representative (VERDICT r6 #3): single-layer NSW/HNSW-
    style bounded beam search. BUILD (at rest, like lsh/ivf_write_index):
    candidate edges from 4 LSH tables — no all-pairs — each node keeping
    its top-16 cosine neighbors. SERVE: score the fixed coarse seed set
    (every 50th vec_id, the one-level stand-in for HNSW's upper layers),
    then 8 rounds of expand-top-16-unexpanded-through-adjacency, exact
    cosine over the ≤ seeds + 8*16*16 visited nodes. Per-query work is
    bounded by rounds*beam*M once the graph is built, independent of
    corpus size; like any fixed-budget ANN, recall at much larger corpora
    needs the budget (or graph degree) scaled up. Measured recall@20 vs
    exact: 1.0 at sf0.01, 0.95 at sf0.1 (floors pinned in
    tests/test_vector.py; the initial M=8/beam=8/rounds=3 sweep point
    measured 0.15 and was rejected). The oracle recomputes the graph AND
    replays the identical unrolled trajectory — the index is semantically
    invisible."""
    emb, adj = _nsw_index(spark, sf_dir)
    return nsw_topk_batch(emb, adj, [0], k=20).drop("query_vec_id")


def _nsw_batch_round_sql(r: int) -> str:
    """One unrolled round of the BATCH beam search: per-qid top-16
    unexpanded frontier (row_number, cos desc / vec_id ties), adjacency
    expansion, score only (qid, vec_id) pairs not yet visited. The UNION
    dedup mirrors the engine's anti-join: re-scored rows are bit-identical
    (deterministic cosine), so set-union and never-rescore agree."""
    prev_v = f"v{r - 1}"
    exclude = " UNION ALL ".join(
        f"SELECT qid, vec_id FROM f{i}" for i in range(1, r)
    )
    not_exists = (
        f"""WHERE NOT EXISTS (
            SELECT 1 FROM ({exclude}) u
            WHERE u.qid = pv.qid AND u.vec_id = pv.vec_id)"""
        if exclude
        else ""
    )
    return f"""
f{r} AS MATERIALIZED (
    SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY c DESC, vec_id) AS rk
        FROM {prev_v} pv {not_exists}
    ) WHERE rk <= 16
),
v{r} AS MATERIALIZED (
    SELECT * FROM {prev_v}
    UNION
    SELECT n.qid, n.vec_id, list_cosine_similarity(v.v, q.qv) AS c
    FROM (SELECT DISTINCT f.qid, a.dst AS vec_id
          FROM adj a JOIN f{r} f ON a.src = f.vec_id) n
    JOIN vecs v ON v.vec_id = n.vec_id
    JOIN qset q ON q.qid = n.qid
    WHERE n.vec_id <> n.qid
)""".strip()


_NSW_BATCH_ORACLE = f"""
WITH {_NSW_GRAPH_CTE},
qset AS (SELECT vec_id AS qid, v AS qv FROM vecs WHERE vec_id < 10),
v0 AS MATERIALIZED (
    SELECT q.qid, v.vec_id, list_cosine_similarity(v.v, q.qv) AS c
    FROM vecs v CROSS JOIN qset q
    WHERE v.vec_id <> q.qid AND v.vec_id % 50 = 0
),
{",".join(_nsw_batch_round_sql(r) for r in range(1, 9))}
SELECT query_vec_id, vec_id, label, cosine_sim FROM (
    SELECT t.qid AS query_vec_id, t.vec_id, ve.label,
           ROUND(t.c, 6) AS cosine_sim,
           ROW_NUMBER() OVER (PARTITION BY t.qid
               ORDER BY ROUND(t.c, 6) DESC, t.vec_id) AS rk
    FROM v8 t JOIN vecs ve ON ve.vec_id = t.vec_id
) WHERE rk <= 5
ORDER BY query_vec_id, cosine_sim DESC, vec_id
""".strip()


@query("nsw_knn_join_vec10", oracle=_NSW_BATCH_ORACLE)
def nsw_knn_join_vec10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched graph-ANN serving (VERDICT r7 #2): top-5 NSW neighbors for
    EVERY query in a 10-vector batch through one qid-keyed frontier plan —
    the ``knn_join_vec10`` discipline applied to the at-rest neighbor
    graph. The driver issues the seed-pass fetch plus at most one
    point-lookup collect per round for the WHOLE batch — never one per
    query (tests/test_vector.py pins the collect count at 8 queries to
    the same bound as at 1, and each query's rows to its rows alone).
    The oracle rebuilds the identical graph and replays all ten unrolled
    trajectories partitioned by qid — the index AND the batching are
    semantically invisible."""
    emb, adj = _nsw_index(spark, sf_dir)
    return nsw_topk_batch(emb, adj, list(range(10)), k=5)

"""Round-6 tokenizer-pipeline operators — the tokenizer-training /
chunking side of an LLM data pipeline that the registry did not yet
cover:

- **BPE merge training** (`bpe_train_merges`): full byte-pair-encoding
  training for a bounded number of merge rounds — not just the
  first-iteration pair counts (`bpe_pair_counts` in plans/traindata.py)
  but the actual greedy loop: count weighted adjacent pairs, pick the
  argmax merge, apply it corpus-wide, repeat. The classic
  implementation trick makes it relational: training runs on the
  (word, freq) vocabulary table (Zipf-small next to the corpus — ONE
  corpus pass builds it, every merge round after that touches only the
  vocab), and merge application is a single `replace()` on a
  marker-delimited token string — ``⟨a⟩⟨b⟩⟨c⟩`` — where the
  left-to-right non-overlapping semantics of SQL ``replace`` are
  EXACTLY BPE's greedy leftmost merge application, and the ``⟨``/``⟩``
  markers make token-boundary collisions impossible (a pair pattern can
  never match inside a longer token). Verified char-identical between
  Spark's ``replace`` and DuckDB's.
- **vocabulary coverage curve** (`vocab_coverage_topk`): what fraction
  of corpus token occurrences the top-k most frequent token types
  cover, for k in {10, 100, 1000} — the tokenizer-budget /
  OOV-rate planning curve. One corpus tokenize + one vocab-sized
  ranking window (post-aggregation global window, the established
  small-input pattern).
- **RAG overlap chunking** (`chunk_overlap_dedup`): fixed-width
  character windows (W=120) with stride S=60 over every document — the
  retrieval-chunking step of a RAG ingest — plus per-language
  chunk-level dedup accounting (md5 chunk fingerprints, the
  fraction of chunks that are exact duplicates of another chunk).
  The explode is narrow (each doc expands into ceil(len/S) rows on its
  own partition); the only shuffle is the per-language aggregate.

The reference has no analog (SURVEY.md §2.9's "beyond the reference"
mandate). Every query is pure DataFrame composition — no UDFs, no
driver-side data movement except BPE's per-round 1-row argmax (the
merge decision, parameter-bounded by the round count, same class as the
k-means centroid read) — and every oracle reproduces the exact
arithmetic so the driver's hash gate verifies values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from apache_beam_challange_spark.plans.registry import query
from apache_beam_challange_spark.sources.catalog import load_table
from apache_beam_challange_spark.sources.driver import local_frame

# --- BPE merge training -----------------------------------------------------

#: merge rounds — bounded, like the k-means / PageRank iteration counts,
#: so the DuckDB oracle can unroll the trajectory as MATERIALIZED CTEs
BPE_ROUNDS = 4


def _bpe_cte_prefix(rounds: int) -> str:
    """Unrolled-trajectory DuckDB CTE chain shared by the training and
    encode oracles: one MATERIALIZED state CTE per merge round (lazy
    re-expansion of a chained greedy trajectory is exponential — the
    MMR/k-means oracle discipline), replaying the identical argmax +
    replace per round."""
    parts = [
        "WITH wf AS MATERIALIZED (",
        "    SELECT token AS word, CAST(COUNT(*) AS BIGINT) AS freq",
        "    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)",
        "    WHERE token <> '' GROUP BY token",
        "),",
        "s0 AS MATERIALIZED (",
        r"    SELECT word, freq, regexp_replace(word, '(.)', '⟨\1⟩', 'g') AS state FROM wf",
        ")",
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f""",
tk{i} AS (
    SELECT freq, string_split(substr(state, 2, len(state) - 2), '⟩⟨') AS toks
    FROM s{i - 1}
),
pos{i} AS (
    SELECT freq, toks, unnest(generate_series(1, len(toks) - 1)) AS i
    FROM tk{i} WHERE len(toks) >= 2
),
t{i} AS MATERIALIZED (
    SELECT toks[i] AS l, toks[i + 1] AS r, CAST(SUM(freq) AS BIGINT) AS pair_count
    FROM pos{i} GROUP BY 1, 2 ORDER BY pair_count DESC, l, r LIMIT 1
),
s{i} AS MATERIALIZED (
    SELECT word, freq,
           replace(state, '⟨' || l || '⟩⟨' || r || '⟩', '⟨' || l || r || '⟩') AS state
    FROM s{i - 1} CROSS JOIN t{i}
),
c{i} AS (
    SELECT CAST(SUM(freq * (len(state) - len(replace(state, '⟨', '')))) AS BIGINT)
               AS corpus_tokens
    FROM s{i}
),
o{i} AS (
    SELECT CAST({i} AS INT) AS round, l AS left_sym, r AS right_sym,
           l || r AS merged, pair_count, corpus_tokens
    FROM t{i} CROSS JOIN c{i}
)"""
        )
    return "".join(parts)


def _bpe_oracle(rounds: int) -> str:
    return (
        _bpe_cte_prefix(rounds)
        + "\n"
        + " UNION ALL ".join(f"SELECT * FROM o{i}" for i in range(1, rounds + 1))
        + " ORDER BY round"
    )


def _bpe_encode_oracle(rounds: int) -> str:
    return (
        _bpe_cte_prefix(rounds)
        + f""",
tokc AS (
    SELECT word, len(state) - len(replace(state, '⟨', '')) AS n_tok FROM s{rounds}
),
docw AS (
    SELECT lang, doc_id, unnest(string_split(text, ' ')) AS word FROM documents
)
SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       CAST((SUM(n_tok) * 100) // COUNT(*) AS BIGINT) AS tokens_per_100_words
FROM docw JOIN tokc USING (word)
GROUP BY lang ORDER BY lang"""
    )


@query("bpe_train_merges", oracle=_bpe_oracle(BPE_ROUNDS))
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, ``BPE_ROUNDS`` greedy merge rounds: per
    round, the corpus-frequency-weighted adjacent-symbol pair counts,
    the argmax merge (tie-broken count DESC then pair lexicographic, so
    the trajectory is engine-deterministic), and the corpus token count
    after applying it. Returns one row per round: (round, left_sym,
    right_sym, merged, pair_count, corpus_tokens).

    Scale shape — the standard trick that makes tokenizer training
    tractable at 100 TB: ONE corpus pass builds the (word, freq)
    vocabulary aggregate (Zipf-small), and every merge round runs on the
    vocab table alone. Each round's state is ``localCheckpoint``-ed so
    round r+1 starts from the materialized vocab — the returned plan
    contains NO corpus file scan at all (plan-asserted), exactly like an
    external tokenizer trainer that spills its word dict once. Merge
    application is one ``replace()`` per word on the marker-delimited
    symbol string (``⟨a⟩⟨b⟩...``): SQL replace scans left-to-right
    non-overlapping, which IS BPE's greedy merge semantics, and the
    markers make cross-token pattern matches impossible. The only
    driver-side read is the per-round 1-row argmax (the merge decision —
    parameter-bounded by BPE_ROUNDS, the k-means-centroid class of
    scalar read)."""
    rounds = _train(spark, sf_dir)[1]
    out = rounds[0]
    for df in rounds[1:]:
        out = out.unionByName(df)
    return out.orderBy("round")


def _train(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, list[DataFrame]]:
    """Run the BPE_ROUNDS greedy merge loop on the vocab table; returns
    (final word states, per-round 1-row summary frames). Shared by the
    training query (which returns the round summaries) and the encode
    query (which joins the final word->token-count map back onto the
    corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    # vocab-sized from here on; checkpoint so each round starts from the
    # materialized word dict, not a corpus re-scan
    states = wf.select(
        "word", "freq", F.regexp_replace("word", "(.)", "⟨$1⟩").alias("state")
    ).localCheckpoint()
    rounds: list[DataFrame] = []
    for r in range(1, BPE_ROUNDS + 1):
        toks = F.split(
            F.expr("substring(state, 2, length(state) - 2)"), "⟩⟨"
        )
        tk = states.select("freq", toks.alias("toks")).filter(
            F.size("toks") >= 2
        )
        pairs = tk.select(
            "freq",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 1),
                    lambda i: F.struct(
                        F.element_at(F.col("toks"), i).alias("l"),
                        F.element_at(F.col("toks"), i + 1).alias("r"),
                    ),
                )
            ).alias("p"),
        ).select("freq", "p.l", "p.r")
        top = (
            pairs.groupBy("l", "r")
            .agg(F.sum("freq").cast("long").alias("pair_count"))
            .orderBy(F.col("pair_count").desc(), "l", "r")
            .limit(1)
            .localCheckpoint()  # the 1-row merge decision, read twice
        )
        states = (
            states.crossJoin(F.broadcast(top.select("l", "r")))
            .select(
                "word",
                "freq",
                F.replace(
                    F.col("state"),
                    F.concat(
                        F.lit("⟨"), F.col("l"), F.lit("⟩⟨"), F.col("r"), F.lit("⟩")
                    ),
                    F.concat(F.lit("⟨"), F.col("l"), F.col("r"), F.lit("⟩")),
                ).alias("state"),
            )
            .localCheckpoint()
        )
        corpus_tokens = states.agg(
            F.sum(
                F.col("freq")
                * (
                    F.length("state")
                    - F.length(F.replace(F.col("state"), F.lit("⟨"), F.lit("")))
                )
            )
            .cast("long")
            .alias("corpus_tokens")
        )
        rounds.append(
            top.crossJoin(F.broadcast(corpus_tokens)).select(
                F.lit(r).cast("int").alias("round"),
                F.col("l").alias("left_sym"),
                F.col("r").alias("right_sym"),
                F.concat("l", "r").alias("merged"),
                "pair_count",
                "corpus_tokens",
            )
        )
    return states, rounds


# --- vocabulary coverage curve ----------------------------------------------


@query(
    "vocab_coverage_topk",
    oracle="""
WITH wf AS (
    SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    WHERE token <> '' GROUP BY token
),
ranked AS (
    SELECT freq, ROW_NUMBER() OVER (ORDER BY freq DESC, token) AS rk FROM wf
),
ks AS (SELECT unnest([10, 100, 1000]) AS k)
SELECT k,
       CAST(SUM(CASE WHEN rk <= k THEN freq ELSE 0 END) AS BIGINT) AS covered_tokens,
       CAST(SUM(freq) AS BIGINT) AS total_tokens,
       CAST((SUM(CASE WHEN rk <= k THEN freq ELSE 0 END) * 1000000) // SUM(freq)
            AS BIGINT) AS coverage_ppm
FROM ranked CROSS JOIN ks
GROUP BY k ORDER BY k
""".strip(),
)
def vocab_coverage_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-budget coverage curve: the fraction of corpus token
    occurrences covered by the top-k most frequent token types, for
    k in {10, 100, 1000} — the OOV-rate planning number a vocabulary
    size decision needs. The ranking window runs on the VOCAB aggregate
    (Zipf-small, post-aggregation — the established
    small-input-global-window pattern), never on corpus rows; coverage
    is exact-integer ppm via the floor-division discipline (both
    engines floor positive integer division identically)."""
    docs = load_table(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    ranked = wf.select(
        "freq",
        F.row_number()
        .over(Window.orderBy(F.col("freq").desc(), "token"))
        .alias("rk"),
    )
    ks = local_frame(spark, [(10,), (100,), (1000,)], "k int")
    return (
        ranked.crossJoin(F.broadcast(ks))
        .groupBy("k")
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("k"), F.col("freq")).otherwise(0))
            .cast("long")
            .alias("covered_tokens"),
            F.sum("freq").cast("long").alias("total_tokens"),
        )
        .select(
            "k",
            "covered_tokens",
            "total_tokens",
            F.expr("covered_tokens * 1000000 DIV total_tokens").alias(
                "coverage_ppm"
            ),
        )
        .orderBy("k")
    )


# --- RAG overlap chunking + chunk-level dedup --------------------------------

#: chunk width / stride in characters — W > S means consecutive chunks
#: overlap by W-S chars, the standard RAG retrieval-chunking shape
CHUNK_W, CHUNK_S = 120, 60


@query(
    "chunk_overlap_dedup",
    oracle=f"""
WITH pos AS (
    SELECT lang, text,
           unnest(generate_series(0, CAST((len(text) + {CHUNK_S - 1}) // {CHUNK_S}
                                          AS BIGINT) - 1)) AS i
    FROM documents WHERE len(text) > 0
),
ch AS (
    SELECT lang, md5(substr(text, CAST(i * {CHUNK_S} + 1 AS BIGINT), {CHUNK_W})) AS h
    FROM pos
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(DISTINCT h) AS BIGINT) AS n_distinct,
       CAST(((COUNT(*) - COUNT(DISTINCT h)) * 1000000) // COUNT(*) AS BIGINT)
           AS dup_ppm
FROM ch GROUP BY lang ORDER BY lang
""".strip(),
)
def chunk_overlap_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG ingest chunking: fixed-width character windows (W=120) with
    stride S=60 over every document — every char lands in >=1 chunk and
    interior chars in 2 (the overlap that keeps retrieval context across
    boundaries) — plus per-language chunk-level dedup accounting via md5
    chunk fingerprints (the index-size / dup-fraction numbers a RAG
    ingest plans capacity with).

    Scale shape: the chunk explosion is NARROW — each doc expands into
    ceil(len/S) rows on its own partition, no shuffle until the one
    per-language aggregate (count-distinct runs as Spark's standard
    two-phase expand). Chunk text itself is never shuffled, only its
    16-byte hash."""
    docs = load_table(spark, sf_dir, "documents")
    n_chunks = (F.length("text") + F.lit(CHUNK_S - 1)) / F.lit(CHUNK_S)
    # empty docs yield ZERO chunks on both engines: DuckDB's
    # generate_series(0, -1) is empty but Spark's sequence(0, -1) DESCENDS
    # to [0, -1] (two phantom chunks — found by review), so the guard is
    # explicit rather than left to sequence semantics
    pos = docs.filter(F.length("text") > 0).select(
        "lang",
        "text",
        F.explode(
            F.sequence(F.lit(0), F.floor(n_chunks).cast("int") - 1)
        ).alias("i"),
    )
    ch = pos.select(
        "lang",
        F.md5(
            F.expr(f"substring(text, i * {CHUNK_S} + 1, {CHUNK_W})")
        ).alias("h"),
    )
    return (
        ch.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.countDistinct("h").cast("long").alias("n_distinct"),
        )
        .select(
            "lang",
            "n_chunks",
            "n_distinct",
            F.expr(
                "(n_chunks - n_distinct) * 1000000 DIV n_chunks"
            ).alias("dup_ppm"),
        )
        .orderBy("lang")
    )


# --- BPE corpus encoding (the end use of the trained merges) -----------------


@query("bpe_encode_token_counts", oracle=_bpe_encode_oracle(BPE_ROUNDS))
def bpe_encode_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode the corpus with the trained BPE vocabulary and report
    per-language token accounting: (lang, n_docs, n_words, n_tokens,
    tokens_per_100_words) — the fertility / data-budget numbers a
    training run plans token counts with, and the END USE of
    :func:`bpe_train_merges`.

    Scale shape — how corpus tokenization actually runs at 100 TB: the
    merge loop produced a finished word -> token-count map on the
    Zipf-small vocab table; encoding is then ONE corpus pass joining
    each word occurrence against that map (a plain equi-join — AQE
    broadcasts the vocab side when it is actually small, per the
    no-forced-broadcast-of-growing-tables discipline) and one
    per-language aggregate. No per-round work ever touches corpus
    rows."""
    states, _ = _train(spark, sf_dir)
    tokc = states.select(
        "word",
        (
            F.length("state")
            - F.length(F.replace(F.col("state"), F.lit("⟨"), F.lit("")))
        ).alias("n_tok"),
    )
    docs = load_table(spark, sf_dir, "documents")
    docw = docs.select(
        "lang", "doc_id", F.explode(F.split(F.col("text"), " ")).alias("word")
    )
    return (
        docw.join(tokc, "word")
        .groupBy("lang")
        .agg(
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_tokens",
            F.expr("n_tokens * 100 DIV n_words").alias("tokens_per_100_words"),
        )
        .orderBy("lang")
    )

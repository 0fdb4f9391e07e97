"""Round-6 quantized-ANN additions — the two compression routes modern
vector stores ship next to SQ8/PQ/OPQ (both in plans/traindata.py and
plans/extensions.py), completing the quantization family:

- **binary quantization** (`bq_topk_vec0`): 1 bit per dimension (the
  sign), 64 dims packed into two 32-bit words per vector — a 32x
  compression over float32 — shortlisted by Hamming distance
  (``bit_count(xor)``, two bigint ops per candidate), then the <=200-row
  shortlist reranks by exact cosine on the floats. The packing is a
  NARROW per-row fold (no explode, no shuffle before the top-k); the
  query's two words ride a 1-row broadcast. This is the coarsest, and
  at serving time cheapest, member of the quantization ladder
  (bits -> SQ8 bytes -> PQ/OPQ codebooks); its measured recall floor is
  pinned in tests like the others.
- **Matryoshka prefix-dim search** (`matryoshka_topk_vec0`): shortlist
  by cosine on the FIRST 16 of 64 dimensions (the
  Matryoshka-representation-learning serving trick, Kusupati et al.
  2022 — public literature: MRL-trained embeddings front-load
  information so a prefix is itself a valid low-dim embedding),
  rerank the <=400-row shortlist by full-dimension cosine. The prefix
  read is a narrow ``slice`` — at rest this is a column of 1/4 the
  bytes, and the plan never touches full vectors until the rerank.

HONEST RECALL NOTE: the test embeddings are synthetic and NOT
MRL-trained (no information front-loading) and not sign-balanced, so
the recalls measured here are LOWER BOUNDS on what these routes give
real embeddings; shortlist sizes (200 / 400) were tuned against the
exact twin `cosine_topk_vec0` and the measured floors are pinned in
tests/test_quantization.py — the recall-honesty discipline the rest of
the ANN family follows.

Both oracles reproduce the exact arithmetic (bit packing via shifted
sums, slice-cosine via list_cosine_similarity — the established parity
route of `cosine_topk_vec0`), so the driver's value-hash gate verifies
ranked results end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_beam_challange_spark.functions.vector import as_double, cosine
from apache_beam_challange_spark.operators.similarity import rank_candidates
from apache_beam_challange_spark.plans.registry import query
from apache_beam_challange_spark.sources.catalog import load_table

_BQ_SHORTLIST = 200
_MAT_SHORTLIST = 400
_TOPK = 20


@query(
    "bq_topk_vec0",
    oracle=f"""
WITH vecs AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
words AS (
    SELECT vec_id, label, v,
           list_sum(list_transform(generate_series(1, 32),
               i -> CASE WHEN v[i] >= 0 THEN (CAST(1 AS BIGINT) << (i - 1))
                         ELSE 0 END)) AS w1,
           list_sum(list_transform(generate_series(33, 64),
               i -> CASE WHEN v[i] >= 0 THEN (CAST(1 AS BIGINT) << (i - 33))
                         ELSE 0 END)) AS w2
    FROM vecs
),
q AS (
    SELECT v AS qv, w1 AS qw1, w2 AS qw2 FROM words WHERE vec_id = 0
),
short AS (
    SELECT w.vec_id, w.label, w.v,
           bit_count(xor(w.w1, q.qw1)) + bit_count(xor(w.w2, q.qw2))
               AS hamming
    FROM words w CROSS JOIN q
    WHERE w.vec_id <> 0
    ORDER BY hamming ASC, w.vec_id
    LIMIT {_BQ_SHORTLIST}
)
SELECT s.vec_id, s.label,
       ROUND(list_cosine_similarity(s.v, q.qv), 6) AS cosine_sim
FROM short s CROSS JOIN q
ORDER BY cosine_sim DESC, s.vec_id
LIMIT {_TOPK}
""".strip(),
)
def bq_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-quantized similarity search: sign-bit packing (64 dims ->
    two 32-bit words, a 32x compression), Hamming-distance shortlist
    (two ``bit_count(xor)`` bigint ops per candidate — no floats
    touched), exact-cosine rerank of the <=200 survivors. The packing
    fold is narrow (no explode, no shuffle); the shortlist is a
    TakeOrderedAndProject over per-row integer arithmetic; the query
    vector's words are a 1-row broadcast."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )

    def pack(lo: int) -> F.Column:
        return F.aggregate(
            F.sequence(F.lit(lo), F.lit(lo + 31)),
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + F.when(
                F.element_at("v", i) >= 0,
                # 2^(i-lo) as an exact long (pow is exact well past 2^31;
                # shiftleft takes only a literal shift, not a Column)
                F.pow(F.lit(2.0), (i - lo).cast("double")).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )

    words = vecs.select(
        "vec_id", "label", "v", pack(1).alias("w1"), pack(33).alias("w2")
    )
    q = words.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"), F.col("w1").alias("qw1"), F.col("w2").alias("qw2")
    )
    hamming = F.bit_count(
        F.col("w1").bitwiseXOR(F.col("qw1"))
    ) + F.bit_count(F.col("w2").bitwiseXOR(F.col("qw2")))
    short = (
        words.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "label", "v", "qv", hamming.alias("hamming"))
        .orderBy(F.col("hamming").asc(), F.col("vec_id"))
        .limit(_BQ_SHORTLIST)
    )
    return _rerank(emb, short)


def _rerank(emb: DataFrame, short: DataFrame) -> DataFrame:
    """Exact-cosine top-20 of vector 0 over a shortlist's float rows,
    through the exact-rerank core's one ranker."""
    cand = short.select(
        F.lit(0).cast("long").alias("qid"),
        "vec_id",
        "label",
        F.col("v").alias("__v"),
        F.col("qv").alias("__qv"),
    )
    ranked = rank_candidates(cand, emb, [0], _TOPK)
    return ranked.drop("query_vec_id")


_PREFIX_DIM = 16


@query(
    "matryoshka_topk_vec0",
    oracle=f"""
WITH vecs AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
q AS (
    SELECT v AS qv FROM vecs WHERE vec_id = 0
),
short AS (
    SELECT w.vec_id, w.label, w.v,
           list_cosine_similarity(w.v[1:{_PREFIX_DIM}], q.qv[1:{_PREFIX_DIM}])
               AS prefix_sim
    FROM vecs w CROSS JOIN q
    WHERE w.vec_id <> 0
    ORDER BY prefix_sim DESC, w.vec_id
    LIMIT {_MAT_SHORTLIST}
)
SELECT s.vec_id, s.label,
       ROUND(list_cosine_similarity(s.v, q.qv), 6) AS cosine_sim
FROM short s CROSS JOIN q
ORDER BY cosine_sim DESC, s.vec_id
LIMIT {_TOPK}
""".strip(),
)
def matryoshka_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka prefix-dimension search (Kusupati et al. 2022): the
    shortlist scores cosine on only the FIRST 16 of 64 dimensions (a
    4x cheaper scan — MRL-trained embeddings make the prefix a valid
    embedding on its own), then the <=400 survivors rerank by
    full-dimension cosine. Same two-stage shortlist/rerank scale shape
    as the quantized routes; the prefix slice is narrow and at rest
    would be a quarter-width column."""
    emb = load_table(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    q = vecs.filter(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    short = (
        vecs.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            "v",
            "qv",
            cosine(
                F.slice("v", 1, _PREFIX_DIM), F.slice("qv", 1, _PREFIX_DIM)
            ).alias("prefix_sim"),
        )
        .orderBy(F.col("prefix_sim").desc(), F.col("vec_id"))
        .limit(_MAT_SHORTLIST)
    )
    return _rerank(emb, short)

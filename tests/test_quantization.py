"""Round-6 quantized-ANN routes: binary quantization (sign-bit packing +
Hamming shortlist) and Matryoshka prefix-dimension search.

The oracle gate verifies exact ranked values against DuckDB; these tests
pin the bit-packing arithmetic (closed form), the measured recall floors
against the exact twin (the ANN family's honesty discipline — the test
embeddings are synthetic, NOT MRL-trained, so these floors are lower
bounds for real embeddings), and the plan shapes.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod

QS = entrymod.all_queries()

#: measured recall@20 vs cosine_topk_vec0: bq 1.00/0.95/0.85 and
#: matryoshka 0.95/0.90/0.85 at sf0.001/0.01/0.1 — floors pinned below
#: the worst measured value
_BQ_FLOOR = 0.80
_MAT_FLOOR = 0.80


def _recall(name, spark, sf_dir):
    exact = {r.vec_id for r in QS["cosine_topk_vec0"](spark, sf_dir).collect()}
    got = {r.vec_id for r in QS[name](spark, sf_dir).collect()}
    return len(got & exact) / len(exact)


def test_bq_recall_floor(spark, sf_dir):
    assert _recall("bq_topk_vec0", spark, sf_dir) >= _BQ_FLOOR


def test_matryoshka_recall_floor(spark, sf_dir):
    assert _recall("matryoshka_topk_vec0", spark, sf_dir) >= _MAT_FLOOR


def test_sign_bit_packing_closed_form(spark):
    """A crafted vector with known sign pattern must pack to the exact
    integer words: bits set where the component is >= 0."""
    from apache_beam_challange_spark.functions.vector import as_double

    # dims 1,3,5,...,63 positive (odd positions), evens negative:
    # word bits 0,2,4,...,30 set -> 0x55555555 in both words
    v = [(1.0 if i % 2 == 0 else -1.0) for i in range(64)]
    df = spark.createDataFrame([(1, v)], "vec_id long, embedding array<double>")
    vecs = df.select("vec_id", as_double(F.col("embedding")).alias("v"))

    def pack(lo):
        return F.aggregate(
            F.sequence(F.lit(lo), F.lit(lo + 31)),
            F.lit(0).cast("long"),
            lambda acc, i: acc
            + F.when(
                F.element_at("v", i) >= 0,
                F.pow(F.lit(2.0), (i - lo).cast("double")).cast("long"),
            ).otherwise(F.lit(0).cast("long")),
        )

    r = vecs.select(pack(1).alias("w1"), pack(33).alias("w2")).collect()[0]
    assert r.w1 == 0x55555555
    assert r.w2 == 0x55555555


def test_hamming_identity_and_complement(spark):
    """bit_count(xor) arithmetic: identical words -> 0; complementary
    32-bit words -> 32."""
    r = (
        spark.range(1)
        .select(
            F.bit_count(F.lit(0x55555555).bitwiseXOR(F.lit(0x55555555))).alias("same"),
            F.bit_count(F.lit(0x55555555).bitwiseXOR(F.lit(0xAAAAAAAA))).alias("comp"),
        )
        .collect()[0]
    )
    assert (r.same, r.comp) == (0, 32)


def test_topk_results_are_subset_of_rerank_scores(spark, sf_dir):
    """Ranked output must be sorted by exact cosine and never contain the
    query vector itself."""
    for name in ("bq_topk_vec0", "matryoshka_topk_vec0"):
        rows = QS[name](spark, sf_dir).collect()
        assert len(rows) == 20
        assert all(r.vec_id != 0 for r in rows)
        sims = [r.cosine_sim for r in rows]
        assert sims == sorted(sims, reverse=True)




def test_bq_shortlist_is_take_ordered(plans):
    """The Hamming shortlist must be partial-topk + merge, not a global
    sort, and the query-words side a 1-row broadcast."""
    p = plans("bq_topk_vec0")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "Exchange hashpartitioning" not in p


def test_matryoshka_prefix_stage_no_shuffle(plans):
    p = plans("matryoshka_topk_vec0")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    assert "Exchange hashpartitioning" not in p


# --- round-9: incremental IVF re-training (VERDICT r8 #8) --------------------


def _load_emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _drifted(spark, sf_dir):
    """Base corpus + a far shifted copy of its first half: the
    distribution shift a periodic re-train exists for."""
    emb = _load_emb(spark, sf_dir)
    shifted = emb.filter(F.col("vec_id") < 250).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(F.col("embedding"), lambda x: x + F.lit(3.0)).alias(
            "embedding"
        ),
        "label",
    )
    return emb.unionByName(shifted.select(*emb.columns))


def _sse_and_max_share(emb, cents):
    from pyspark.sql.window import Window

    from apache_beam_challange_spark.functions.vector import as_double

    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("vec"))
    w = Window.partitionBy("vec_id").orderBy("dist", "centroid_id")
    best = (
        vecs.crossJoin(F.broadcast(cents))
        .withColumn(
            "dist",
            F.aggregate(
                F.zip_with("vec", "cvec", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda s, x: s + x,
            ),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    tot = best.agg(F.sum("dist").alias("sse"), F.count(F.lit(1)).alias("n")).collect()[0]
    biggest = max(
        r["count"] for r in best.groupBy("centroid_id").count().collect()
    )
    return float(tot.sse), biggest / tot.n


def _recall_vs_exact(emb, cents, qid, k=10):
    from apache_beam_challange_spark.operators.similarity import (
        knn_join_exact,
        knn_join_ivf,
    )

    exact = {r.vec_id for r in knn_join_exact(emb, [qid], k).collect()}
    served = {
        r.vec_id
        for r in knn_join_ivf(emb, [qid], k, n_probe=2, cents=cents).collect()
    }
    return len(exact & served) / k


def test_retrain_is_trajectory_continuation(spark, sf_dir):
    """resume-from-stored(2 rounds) + 1 round == train(3 rounds) from the
    seed, element-exact (the engine-side twin of the oracle claim)."""
    from apache_beam_challange_spark.operators.clustering import kmeans_centroids

    emb = _load_emb(spark, sf_dir)
    scratch = {
        r.centroid_id: r.cvec
        for r in kmeans_centroids(emb, k=4, n_iter=3).collect()
    }
    stored = kmeans_centroids(emb, k=4, n_iter=2)
    resumed = {
        r.centroid_id: r.cvec
        for r in kmeans_centroids(emb, k=4, n_iter=1, init_cents=stored).collect()
    }
    assert resumed == scratch


def test_retrain_invariant_to_input_partitioning(spark, sf_dir):
    """The fixed-point update makes the retrained codebook independent of
    how the corpus is partitioned (no order-dependent float reduction)."""
    from apache_beam_challange_spark.operators.clustering import kmeans_centroids

    emb = _load_emb(spark, sf_dir)
    stored = kmeans_centroids(emb, k=4, n_iter=2)
    a = {
        r.centroid_id: r.cvec
        for r in kmeans_centroids(emb, k=4, n_iter=1, init_cents=stored).collect()
    }
    b = {
        r.centroid_id: r.cvec
        for r in kmeans_centroids(
            emb.repartition(7), k=4, n_iter=1, init_cents=stored
        ).collect()
    }
    assert a == b


def test_retrain_rebalances_and_keeps_recall_on_drift(spark, sf_dir):
    """The drift story, measured: after a far 50%-of-base shift, serving
    with the STALE codebook crams the whole drift cloud (plus that
    list's original members) into one inverted list; two re-training
    rounds from the stored state (a) strictly cut quantization error
    (Lloyd monotonicity, here by a wide margin), (b) shrink the biggest
    list, and (c) keep serving recall at the measured floor on a drifted
    query. Floors are MEASURED values with slack, not aspirations."""
    from apache_beam_challange_spark.operators.clustering import kmeans_centroids

    drifted = _drifted(spark, sf_dir).localCheckpoint()
    stale = kmeans_centroids(
        drifted.filter(F.col("vec_id") < 10000), k=4, n_iter=2
    ).localCheckpoint()
    retrained = kmeans_centroids(
        drifted, k=4, n_iter=2, init_cents=stale
    ).localCheckpoint()
    sse_stale, share_stale = _sse_and_max_share(drifted, stale)
    sse_new, share_new = _sse_and_max_share(drifted, retrained)
    assert sse_new < 0.5 * sse_stale  # measured: 0.005x; theorem: <= 1.0x
    assert share_new < share_stale
    assert share_new <= 0.40  # measured: 0.333 (drift cloud = its own list) vs 0.523 stale
    r_stale = _recall_vs_exact(drifted, stale, qid=10000)
    r_new = _recall_vs_exact(drifted, retrained, qid=10000)
    assert r_stale >= 0.9  # measured: 1.0 — stale lists stay CORRECT, just unbalanced
    assert r_new >= 0.9  # measured: 1.0

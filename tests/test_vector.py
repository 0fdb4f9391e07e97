from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from apache_beam_challange_spark.functions.vector import as_double, cosine, dot, l2_norm
from apache_beam_challange_spark.operators.similarity import (
    HNSW_MAX_LEVEL,
    HNSW_UPPER_ROUNDS,
    NSW_ROUNDS,
    VAMANA_ROUNDS,
    knn_join_exact,
    knn_join_lsh,
)
from conftest import TESTDATA_ROOT


def _vec_df(spark, rows):
    return spark.createDataFrame(rows, ["vec_id", "embedding", "label"])


def test_cosine_identity_and_orthogonal(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([1.0, 2.0], [-1.0, -2.0])],
        ["a", "b"],
    )
    out = df.select(F.round(cosine(F.col("a"), F.col("b")), 9).alias("c")).collect()
    assert [r["c"] for r in out] == [1.0, 0.0, -1.0]


def test_dot_and_norm(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], ["v"])
    r = df.select(
        dot(F.col("v"), F.col("v")).alias("d"), l2_norm(F.col("v")).alias("n")
    ).collect()[0]
    assert r["d"] == 25.0 and r["n"] == 5.0


def test_cosine_topk_ranks_expected(spark):
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.9, 0.1, 0.0], 0),   # closest
        (2, [0.0, 1.0, 0.0], 1),   # orthogonal
        (3, [-1.0, 0.0, 0.0], 1),  # opposite
    ]
    out = knn_join_exact(_vec_df(spark, rows), [0], 3).collect()
    assert [r["vec_id"] for r in out] == [1, 2, 3]
    assert out[0]["cosine_sim"] > 0.99


def test_ann_lsh_recalls_identical_vector(spark):
    """An identical vector always shares the query's bucket and tops it."""
    rows = [
        (0, [float(i) for i in range(64)], 0),
        (1, [float(i) for i in range(64)], 0),          # exact duplicate
        (2, [float(63 - i) for i in range(64)], 1),     # reversed
    ]
    out = knn_join_lsh(_vec_df(spark, rows), [0], 5, num_planes=4, dim=64).collect()
    ids = [r["vec_id"] for r in out]
    assert ids[0] == 1 and out[0]["cosine_sim"] == 1.0


def test_ivf_indexed_matches_inline_and_prunes(spark, tmp_path):
    """The at-rest IVF index must (a) return exactly what the inline IVF
    path returns and (b) trigger dynamic partition pruning on the
    partitioned index scan, so non-probed inverted lists are skipped at
    the file level."""
    from apache_beam_challange_spark.operators.similarity import (
        knn_join_ivf,
        ivf_write_index,
    )
    from apache_beam_challange_spark.sources.catalog import load_table

    sf_dir = f"{TESTDATA_ROOT}/sf0.001"
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivf_index")
    cb = (0, 1, 2, 3, 4, 5, 6, 7)
    ivf_write_index(emb, path, cb)
    index = spark.read.parquet(path)

    indexed = knn_join_ivf(emb, [0], 10, n_probe=2, index=index)
    inline = knn_join_ivf(emb, [0], 10, n_probe=2)
    assert [tuple(r) for r in indexed.collect()] == [
        tuple(r) for r in inline.collect()
    ]

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


@pytest.mark.slow
def test_ann_recall_floors_vs_exact(spark):
    """Measured recall@20 of every approximate path against exact cosine,
    pinned at floors below the deterministic measured values (single-table
    LSH 0.10 — 4 planes = 16 buckets ≈ 1/16 scan of near-orthogonal
    synthetic vectors; IVF 0.95; PQ 0.45 — 4x2-bit codes ranked by L2-ADC
    against a cosine ground truth). The SERVABLE paths amplify those
    baselines: 16-table OR-ed LSH measures 0.85 (floor 0.80) and
    IVFPQ + exact-rerank refine measures 0.95 (floor 0.90) — the round-3
    contract that converts honest-but-weak ANN into usable ANN. Recall is
    the tunable dial (num_tables, num_planes, n_probe, n_refine, m/k);
    these floors pin the IMPLEMENTATION, not the ceiling."""
    from apache_beam_challange_spark.operators.clustering import (
        ivfpq_refined_topk,
        pq_topk,
    )
    from apache_beam_challange_spark.operators.similarity import (
        knn_join_ivf,
        knn_join_lsh_multitable,
    )

    emb = spark.read.parquet(f"{TESTDATA_ROOT}/sf0.01/embeddings.parquet")
    exact = {r["vec_id"] for r in knn_join_exact(emb, [0], 20).collect()}
    recalls = {}
    for name, df, floor in [
        ("lsh", knn_join_lsh(emb, [0], 20, num_planes=4, dim=64), 0.05),
        ("lsh_multi", knn_join_lsh_multitable(emb, [0], 20, num_tables=16), 0.80),
        ("lsh_multiprobe", knn_join_lsh(emb, [0], 20, max_flips=2), 0.80),
        ("ivf", knn_join_ivf(emb, [0], 20, n_probe=2), 0.90),
        ("pq", pq_topk(emb, 0, k_results=20), 0.30),
        ("ivfpq_refined", ivfpq_refined_topk(emb, 0, k_results=20), 0.90),
    ]:
        got = {r["vec_id"] for r in df.collect()}
        recalls[name] = len(got & exact) / 20
        assert recalls[name] >= floor, recalls
    # the recall ladder orders as designed: probing lists beats coarse
    # codes; amplification/refine lift each family above its baseline
    assert recalls["ivf"] > recalls["pq"] > recalls["lsh"]
    assert recalls["lsh_multi"] > recalls["lsh"]
    assert recalls["lsh_multiprobe"] > recalls["lsh"]
    assert recalls["ivfpq_refined"] > recalls["pq"]


@pytest.mark.slow
def test_ivfpq_indexed_matches_inline_and_prunes(spark, tmp_path):
    """The at-rest IVF+PQ codes table must return exactly what the inline
    composition returns, and its partitioned scan must prune non-probed
    lists dynamically."""
    from apache_beam_challange_spark.operators.clustering import (
        ivfpq_topk_indexed,
        pq_topk,
        pq_write_index,
    )
    from apache_beam_challange_spark.operators.similarity import ivf_candidates
    from apache_beam_challange_spark.sources.catalog import load_table
    from apache_beam_challange_spark.functions.vector import as_double

    sf_dir = f"{TESTDATA_ROOT}/sf0.001"
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivfpq_index")
    pq_write_index(emb, path)
    index = spark.read.parquet(path)
    codebooks = spark.read.parquet(path + "_codebooks")

    indexed = ivfpq_topk_indexed(
        emb, index, codebooks, query_vec_id=0, k_results=10
    )
    cents = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("centroid_id"),
        as_double(F.col("embedding")).alias("cvec"),
    )
    cand = ivf_candidates(emb, cents, [0], 2)
    inline = pq_topk(emb, query_vec_id=0, k_results=10, candidates=cand)
    assert [tuple(r) for r in indexed.collect()] == [
        tuple(r) for r in inline.collect()
    ]

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


def test_knn_join_matches_single_query_ivf(spark):
    """The batch kNN join restricted to one query must return exactly the
    single-query IVF top-k (same codebook, probes, rounding, tie-break) —
    batching is a plan optimization, not a semantics change."""
    from apache_beam_challange_spark.operators.similarity import knn_join_ivf

    emb = spark.read.parquet(f"{TESTDATA_ROOT}/sf0.001/embeddings.parquet")
    single = [
        (r["vec_id"], r["cosine_sim"])
        for r in knn_join_ivf(emb, [3], 5, n_probe=2).collect()
    ]
    batch = [
        (r["vec_id"], r["cosine_sim"])
        for r in knn_join_ivf(emb, list(range(10)), 5, n_probe=2)
        .filter(F.col("query_vec_id") == 3)
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .collect()
    ]
    assert batch == single


@pytest.mark.slow
def test_ivfpq_refined_indexed_matches_inline(spark, tmp_path):
    """The served IVFPQ+refine (at-rest codes + STORED codebooks, no
    query-time training) must return exactly the inline refined
    composition's rows."""
    from apache_beam_challange_spark.operators.clustering import (
        ivfpq_refined_topk,
        ivfpq_refined_topk_indexed,
        pq_write_index,
    )
    from apache_beam_challange_spark.sources.catalog import load_table

    emb = load_table(spark, f"{TESTDATA_ROOT}/sf0.001", "embeddings")
    path = str(tmp_path / "ivfpq_idx")
    pq_write_index(emb, path)
    index = spark.read.parquet(path)
    codebooks = spark.read.parquet(path + "_codebooks")

    served = ivfpq_refined_topk_indexed(
        emb, index, codebooks, query_vec_id=0, k_results=10, n_refine=50
    )
    inline = ivfpq_refined_topk(
        emb, query_vec_id=0, k_results=10, n_refine=50
    )
    assert [tuple(r) for r in served.collect()] == [
        tuple(r) for r in inline.collect()
    ]


def test_amplified_lsh_always_finds_exact_duplicate(spark):
    """Sign-projection buckets are a pure function of the vector, so an
    exact duplicate shares EVERY table's bucket and every probe set —
    duplicate recall is 1.0 by construction for both amplified LSH paths,
    the guarantee embedding-dedup relies on."""
    from apache_beam_challange_spark.operators.similarity import (
        knn_join_lsh_multitable,
    )

    base = [float((i * 37) % 19 - 9) for i in range(64)]
    rows = [(0, base, 0), (1, list(base), 0)] + [
        (i, [float(((i * 13 + j * 7) % 23) - 11) for j in range(64)], 1)
        for i in range(2, 40)
    ]
    df = _vec_df(spark, rows)
    for out in (
        knn_join_lsh_multitable(df, [0], 3, num_tables=16).collect(),
        knn_join_lsh(df, [0], 3, max_flips=2).collect(),
    ):
        assert out[0]["vec_id"] == 1 and out[0]["cosine_sim"] == 1.0


@pytest.mark.slow
def test_lsh_indexed_matches_inline(spark, tmp_path):
    """The at-rest multitable LSH bucket index must return exactly the
    inline route's rows, and its partitioned scan must be pruned to the
    probed (table_idx, bucket) directories — static or dynamic partition
    filters on the index read, never a full-index scan."""
    from apache_beam_challange_spark.operators.similarity import (
        knn_join_lsh_multitable,
        lsh_write_index,
    )
    from apache_beam_challange_spark.sources.catalog import load_table

    emb = load_table(spark, f"{TESTDATA_ROOT}/sf0.001", "embeddings")
    path = str(tmp_path / "lsh_index")
    lsh_write_index(emb, path, num_tables=16, num_planes=4, dim=64)
    index = spark.read.parquet(path)

    served = knn_join_lsh_multitable(emb, [0], 10, num_tables=16, index=index)
    inline = knn_join_lsh_multitable(emb, [0], 10, num_tables=16)
    assert [tuple(r) for r in served.collect()] == [
        tuple(r) for r in inline.collect()
    ]

    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()


@pytest.mark.slow
def test_lsh_append_equals_rebuild_and_is_idempotent(spark, tmp_path):
    """Incremental index maintenance: building over half the corpus then
    appending the other half must serve EXACTLY what a from-scratch
    rebuild over the union serves (deterministic planes), and re-appending
    the same delta (the crash-retry case) must not change query results
    (candidate ids de-duplicate before ranking)."""
    from pyspark.sql import functions as F

    from apache_beam_challange_spark.operators.similarity import (
        knn_join_lsh_multitable,
        lsh_append_index,
        lsh_write_index,
    )
    from apache_beam_challange_spark.sources.catalog import load_table

    emb = load_table(spark, f"{TESTDATA_ROOT}/sf0.001", "embeddings")
    base = emb.filter(F.col("vec_id") < 250)
    delta = emb.filter(F.col("vec_id") >= 250)

    inc_path = str(tmp_path / "lsh_inc")
    lsh_write_index(base, inc_path)
    lsh_append_index(delta, inc_path)

    full_path = str(tmp_path / "lsh_full")
    lsh_write_index(emb, full_path)

    # identical index contents (bit-identical bucket rows)...
    inc_rows = sorted(
        tuple(r) for r in spark.read.parquet(inc_path).collect()
    )
    full_rows = sorted(
        tuple(r) for r in spark.read.parquet(full_path).collect()
    )
    assert inc_rows == full_rows

    # ...and identical served answers
    def serve(path):
        return [
            tuple(r)
            for r in knn_join_lsh_multitable(
                emb, [0], 10, index=spark.read.parquet(path)
            ).collect()
        ]

    assert serve(inc_path) == serve(full_path)

    # crash-retry: double-append leaves duplicates in the index but the
    # served answer is unchanged
    lsh_append_index(delta, inc_path)
    assert serve(inc_path) == serve(full_path)


@pytest.mark.slow
def test_ivf_append_equals_rebuild_and_is_idempotent(spark, tmp_path):
    """Incremental IVF maintenance: appending a delta assigned against the
    FIXED stored codebook must produce an index identical to a
    from-scratch rebuild over the union, and a crash-retried double
    append must not change served results (candidate dedup)."""
    from pyspark.sql import functions as F

    from apache_beam_challange_spark.operators.similarity import (
        ivf_append_index,
        ivf_write_index,
        knn_join_ivf,
    )
    from apache_beam_challange_spark.sources.catalog import load_table

    emb = load_table(spark, f"{TESTDATA_ROOT}/sf0.001", "embeddings")
    ids = (0, 1, 2, 3, 4, 5, 6, 7)
    base = emb.filter(F.col("vec_id") < 250)  # codebook ids all < 250
    delta = emb.filter(F.col("vec_id") >= 250)

    inc = str(tmp_path / "ivf_inc")
    ivf_write_index(base, inc, ids)
    ivf_append_index(delta, emb, inc, ids)

    full = str(tmp_path / "ivf_full")
    ivf_write_index(emb, full, ids)

    canon = lambda p: sorted(
        (r["vec_id"], r["centroid_id"]) for r in spark.read.parquet(p).collect()
    )
    assert canon(inc) == canon(full)

    def serve(p):
        return [
            tuple(r)
            for r in knn_join_ivf(
                emb, [0], 10, index=spark.read.parquet(p)
            ).collect()
        ]

    assert serve(inc) == serve(full)
    ivf_append_index(delta, emb, inc, ids)  # retry after simulated crash
    assert serve(inc) == serve(full)


def test_nsw_recall_floor_vs_exact(spark):
    """NSW beam search recall@20 vs exact cosine, floor-pinned at 0.95
    (measures 1.0 at sf0.01 with the shipped M=16/beam=16/rounds=8
    setting; 0.95 at sf0.1 — the sweep that chose those parameters is in
    the operator docstring, incl. the rejected 0.15 starting point).
    Also pins the bounded-work property: the visited set the search ever
    scores is ≤ seeds + rounds*beam*M nodes regardless of corpus size."""
    from apache_beam_challange_spark.operators.similarity import (
        NSW_BEAM,
        NSW_M,
        NSW_ROUNDS,
        NSW_SEED_STEP,
        nsw_build_graph,
        nsw_topk_batch,
    )

    emb = spark.read.parquet(f"{TESTDATA_ROOT}/sf0.01/embeddings.parquet")
    exact = {r["vec_id"] for r in knn_join_exact(emb, [0], 20).collect()}
    adj = nsw_build_graph(emb).localCheckpoint()
    # graph degree bound: no node keeps more than M neighbors
    from pyspark.sql import functions as F

    max_deg = (
        adj.groupBy("src").count().agg(F.max("count")).collect()[0][0]
    )
    assert max_deg <= NSW_M
    got = {r["vec_id"] for r in nsw_topk_batch(emb, adj, [0], k=20).collect()}
    assert len(got & exact) / 20 >= 0.95
    n_vecs = emb.count()
    budget = (n_vecs // NSW_SEED_STEP) + NSW_ROUNDS * NSW_BEAM * NSW_M
    assert len(got) <= 20 and budget < 3000  # fixed serve budget


def _ann_search(spark, sf_dir, family, tmp_path):
    """``serve(query_ids, k)`` for one ANN route over the sf0.001
    embeddings: a graph family over a freshly built graph, or an
    exact-rerank route (at-rest indexes written under ``tmp_path``)."""
    from apache_beam_challange_spark.operators import similarity as S
    from apache_beam_challange_spark.plans import mips
    from apache_beam_challange_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "index")
    if family == "nsw":
        adj = S.nsw_build_graph(emb).localCheckpoint()
        return lambda ids, k: S.nsw_topk_batch(emb, adj, ids, k=k)
    if family == "vamana":
        adj = S.vamana_build_graph(emb).localCheckpoint()
        med = S.vamana_medoid(emb).first()["medoid_id"]
        return lambda ids, k: S.vamana_topk_batch(emb, adj, med, ids, k=k)
    if family == "hnsw":
        adj = S.hnsw_build_graph(emb).localCheckpoint()
        lv = S.hnsw_levels(emb).localCheckpoint()
        return lambda ids, k: S.hnsw_topk_batch(emb, adj, lv, ids, k=k)
    if family == "ivf_at_rest":
        S.ivf_write_index(emb, path, S.IVF_CODEBOOK)
        index = spark.read.parquet(path)
        return lambda ids, k: S.knn_join_ivf(emb, ids, k, index=index)
    if family == "lsh_at_rest":
        S.lsh_write_index(emb, path)
        index = spark.read.parquet(path)
        return lambda ids, k: S.knn_join_lsh_multitable(emb, ids, k, index=index)
    if family == "mips_at_rest":
        mips.mips_lsh_write_index(emb, path)
        index = spark.read.parquet(path)
        return lambda ids, k: mips.mips_lsh_topk(emb, ids, k, index=index)
    return {
        "exact": lambda ids, k: S.knn_join_exact(emb, ids, k),
        "ivf": lambda ids, k: S.knn_join_ivf(emb, ids, k),
        "lsh": lambda ids, k: S.knn_join_lsh(emb, ids, k),
        "lsh_multiprobe": lambda ids, k: S.knn_join_lsh(emb, ids, k, max_flips=2),
        "lsh_multitable": lambda ids, k: S.knn_join_lsh_multitable(emb, ids, k),
        "lsh_filtered": lambda ids, k: S.knn_join_lsh_multitable(
            emb, ids, k, predicate=F.col("label") != 1
        ),
        "mips_exact": lambda ids, k: mips.mips_topk(emb, ids, k),
        "mips_lsh": lambda ids, k: mips.mips_lsh_topk(emb, ids, k),
    }[family]


#: exact-rerank routes build their plans without a driver collect
_RERANK_ROUTES = [
    "exact", "ivf", "ivf_at_rest", "lsh", "lsh_multiprobe", "lsh_multitable",
    "lsh_at_rest", "lsh_filtered", "mips_exact", "mips_lsh", "mips_at_rest",
]


@pytest.mark.parametrize(
    "family, max_collects",
    [
        ("nsw", 2 + NSW_ROUNDS),
        ("vamana", 2 + VAMANA_ROUNDS),
        ("hnsw", 2 + HNSW_MAX_LEVEL * (1 + HNSW_UPPER_ROUNDS) + NSW_ROUNDS),
    ]
    + [(r, 0) for r in _RERANK_ROUTES],
    ids=["nsw", "vamana", "hnsw"] + _RERANK_ROUTES,
)
def test_graph_search_query_alone_equals_in_batch(
    spark, sf_dir, family, max_collects, tmp_path
):
    """Every ANN route serves a query identically alone and inside a
    batch of 8 (same candidates, scores and tie-breaks), and the
    driver's collect count stays within the route's bound at both sizes.
    Graph search: the seed fetch, then at most one fetch per layer start
    and per round, never one per query (HNSW's entry stats go through
    ``collect_bounded``, pinned in tests/test_driver_solve_bounds.py).
    Exact-rerank routes (one candidate stage + one ranker) collect
    nothing while building; a query alone ranks with a
    TakeOrderedAndProject, a batch with a per-qid window."""
    from unittest import mock

    serve = _ann_search(spark, sf_dir, family, tmp_path)
    # patch the CONCRETE class (Spark 4 instances are
    # pyspark.sql.classic.dataframe.DataFrame, which overrides the base)
    DataFrame = type(spark.range(1))
    orig = DataFrame.collect

    def served(ids):
        with mock.patch.object(
            DataFrame,
            "collect",
            autospec=True,
            side_effect=lambda self: orig(self),
        ) as cc:
            df = serve(ids, 5)
        return sorted(tuple(r) for r in df.collect()), cc.call_count

    batch, n_batch = served(list(range(8)))
    assert n_batch <= max_collects
    for q in (0, 3, 7):
        alone, n_alone = served([q])
        assert n_alone <= max_collects
        assert alone and alone == [r for r in batch if r[0] == q], q


def test_rank_visited_cut_keeps_rounding_ties(spark):
    """The graph search's driver pre-cut drops no row the rounded
    ranking keeps: a row whose raw score is below the k-th best but
    rounds into a tie with it (and wins the tie on vec_id) survives,
    and the result equals a window over ALL visited rows — for the
    rounded cosine and for the exact fixed-point key."""
    from pyspark.sql import Window

    from apache_beam_challange_spark.operators.similarity import (
        _VAM_FP,
        _rank_visited,
    )

    emb = spark.createDataFrame(
        [(i, i % 3) for i in range(10)], "vec_id long, label int"
    )
    cases = [
        # k=3: 9 and 8 round to 0.500001; 1, 2, 3 tie at 0.5 and 1 wins
        # on vec_id though its raw score is the lowest of the three;
        # 0 rounds to 0.499998
        (False, {7: {9: 0.5000014, 8: 0.5000005, 1: 0.4999995,
                     2: 0.49999951, 3: 0.5, 0: 0.4999979}}),
        (True, {7: {9: 500_000_001, 8: 500_000_000, 1: 500_000_000,
                    2: 499_999_999}, 4: {}}),
    ]
    for fixed_point, visited in cases:
        got = sorted(tuple(r) for r in _rank_visited(
            emb, visited, 3, fixed_point
        ).collect())
        rows = spark.createDataFrame(
            [(q, v, s) for q, d in visited.items() for v, s in d.items()],
            "query_vec_id long, vec_id long, s "
            + ("long" if fixed_point else "double"),
        )
        sim = (
            F.round(F.col("s").cast("double") / F.lit(_VAM_FP), 6)
            if fixed_point
            else F.round(F.col("s"), 6)
        )
        key = F.col("s") if fixed_point else sim
        w = Window.partitionBy("query_vec_id").orderBy(key.desc(), "vec_id")
        want = sorted(
            tuple(r)
            for r in rows.withColumn("rk", F.row_number().over(w))
            .filter("rk <= 3")
            .join(emb, "vec_id")
            .select("query_vec_id", "vec_id", "label", sim)
            .collect()
        )
        assert got == want and {r[1] for r in got} == {9, 8, 1}, fixed_point


@pytest.mark.slow
def test_knn_join_lsh_corpus_scans_constant_in_batch_size(spark, tmp_path):
    """The batched LSH kNN join never rescans the
    corpus per query — the executed plan holds the SAME number of
    embeddings-parquet scans for 2 queries as for 10 (query-set probes
    are ONE broadcast join), the index read is DPP-pruned, and the batch
    answers equal the single-query indexed route per query."""
    from apache_beam_challange_spark.operators.similarity import (
        knn_join_lsh_multitable,
        lsh_write_index,
    )

    emb = spark.read.parquet(f"{TESTDATA_ROOT}/sf0.01/embeddings.parquet")
    path = str(tmp_path / "lsh_idx")
    lsh_write_index(emb, path, num_tables=16, num_planes=4, dim=64)
    index = spark.read.parquet(path)

    def nscans(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "dynamicpruning" in plan.lower()
        assert "CartesianProduct" not in plan
        return plan.count("embeddings.parquet")

    # 5 constant scans: bucket pass + query vectors + corpus vectors +
    # the DPP subquery's replicated probe plan — what matters is the
    # count does NOT grow with the batch
    small = knn_join_lsh_multitable(emb, list(range(2)), 5, index=index)
    large = knn_join_lsh_multitable(emb, list(range(10)), 5, index=index)
    assert nscans(small) == nscans(large) <= 6

    got = {
        (r.query_vec_id, r.vec_id, r.cosine_sim) for r in small.collect()
    }
    want = set()
    for qid in range(2):
        for r in knn_join_lsh_multitable(emb, [qid], 5, index=index).collect():
            want.add((qid, r.vec_id, r.cosine_sim))
    assert got == want


def test_ivfpq_knn_join_dpp_and_qid0_matches_single(spark, sf_dir):
    """Round-8 batch IVFPQ pin: the batch serve plan DPP-prunes the codes
    table, holds a constant embeddings scan count, and its qid-0 top-5
    equals the head of the single-query indexed route's top-20."""
    import __spark_entry__ as em

    QS = em.all_queries()
    batch = QS["ivfpq_knn_join_vec10"](spark, sf_dir)
    plan = batch._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower()
    assert "CartesianProduct" not in plan
    # coarse probes + the one LUT build for every (qid, subspace)
    assert plan.count("embeddings.parquet") <= 5
    got0 = [
        (r.vec_id, r.adc_dist)
        for r in batch.collect()
        if r.query_vec_id == 0
    ]
    single = QS["ivfpq_topk_indexed_vec0"](spark, sf_dir).collect()
    assert got0 == [(r.vec_id, r.adc_dist) for r in single[:5]]


@pytest.mark.slow
def test_nsw_append_equals_rebuild_and_serves_identically(spark):
    """Round-8 NSW maintenance theorem, asserted not assumed: folding a
    delta into the graph via nsw_append_graph produces EXACTLY the
    adjacency a from-scratch rebuild over the union produces (same
    edges, same cosines, same tie-breaks — the dropped-candidate
    domination argument in the docstring), and serving from the appended
    graph returns identical top-k."""
    from pyspark.sql import functions as SF

    from apache_beam_challange_spark.operators.similarity import (
        _multitable_buckets,
        nsw_append_graph,
        nsw_build_graph,
        nsw_topk_batch,
    )

    emb = spark.read.parquet(f"{TESTDATA_ROOT}/sf0.01/embeddings.parquet")
    base = emb.filter(SF.col("vec_id") < 1500)
    delta = emb.filter(SF.col("vec_id") >= 1500)
    adj_base = nsw_build_graph(base).localCheckpoint()
    buckets_base = _multitable_buckets(base, 4, 4, 64)
    appended = nsw_append_graph(adj_base, buckets_base, emb, delta)
    rebuilt = nsw_build_graph(emb)

    def canon(df):
        return sorted(
            (r.src, r.dst, round(r.cos, 9)) for r in df.collect()
        )

    assert canon(appended) == canon(rebuilt)
    got_a = [tuple(r) for r in nsw_topk_batch(emb, appended.localCheckpoint(), [0], k=20).collect()]
    got_r = [tuple(r) for r in nsw_topk_batch(emb, rebuilt.localCheckpoint(), [0], k=20).collect()]
    assert got_a == got_r


@pytest.mark.slow
def test_nsw_append_index_commit_discipline(spark, tmp_path):
    """At-rest NSW append: the published artifact serves identically to a
    rebuild, and a crash injected before the final adjacency commit
    leaves the index NOT materialized (torn-artifact rule) — never a
    silently-stale graph."""
    from unittest import mock

    import pytest
    from pyspark.sql import functions as SF

    import apache_beam_challange_spark.operators.similarity as sim
    from apache_beam_challange_spark.sources.catalog import is_materialized

    emb = spark.read.parquet(f"{TESTDATA_ROOT}/sf0.001/embeddings.parquet")
    base = emb.filter(SF.col("vec_id") < 150)
    delta = emb.filter(SF.col("vec_id") >= 150)
    path = str(tmp_path / "nsw_idx")
    sim.nsw_write_index(base, path)
    assert is_materialized(path, parts=(path + "_buckets",))
    sim.nsw_append_index(delta, emb, path)
    assert is_materialized(path, parts=(path + "_buckets",))
    served = spark.read.parquet(path)
    rebuilt = sim.nsw_build_graph(emb)
    assert sorted(
        (r.src, r.dst, round(r.cos, 9)) for r in served.collect()
    ) == sorted((r.src, r.dst, round(r.cos, 9)) for r in rebuilt.collect())

    # crash window: kill the append between sidecar and adjacency commit
    path2 = str(tmp_path / "nsw_idx2")
    sim.nsw_write_index(base, path2)
    cp = type(emb)  # the concrete Spark 4 DataFrame class

    def boom(self, *a, **kw):
        raise RuntimeError("injected crash before adjacency commit")

    with mock.patch.object(cp, "sortWithinPartitions", autospec=True, side_effect=boom):
        with pytest.raises(RuntimeError, match="injected crash"):
            sim.nsw_append_index(delta, emb, path2)
    assert not is_materialized(path2, parts=(path2 + "_buckets",))


def test_filtered_ann_prefilter_beats_postfilter(spark):
    """Filtered-ANN pin: (a) every returned row satisfies the
    predicate; (b) the pre-filtered top-k returns MORE qualifying
    results than post-filtering the unfiltered top-k (the recall the
    pre-filter shape exists to recover) — and each one it returns ranks
    within the qualifying ground truth."""
    from pyspark.sql import functions as SF

    from apache_beam_challange_spark.operators.similarity import (
        knn_join_lsh_multitable,
    )

    emb = spark.read.parquet(f"{TESTDATA_ROOT}/sf0.01/embeddings.parquet")
    qlab = emb.filter(SF.col("vec_id") == 0).select("label").head()[0]
    pred = SF.col("label") != qlab
    pre = knn_join_lsh_multitable(emb, [0], 20, predicate=pred).collect()
    assert len(pre) == 20
    assert all(r.label != qlab for r in pre)

    post = [
        r
        for r in knn_join_lsh_multitable(emb, [0], 20).collect()
        if r.label != qlab
    ]
    assert len(post) < len(pre), (len(post), len(pre))

    # qualifying ground truth: exact cosine over the filtered corpus
    # (the query row itself must survive the filter for query_vectors)
    truth = {
        r.vec_id
        for r in knn_join_exact(
            emb.filter(pred | (SF.col("vec_id") == 0)), [0], 20
        ).collect()
    }
    recall = len({r.vec_id for r in pre} & truth) / 20
    assert recall >= 0.80, recall


def test_rank_tail_lives_only_in_the_ranker():
    """The rounded-score rank exists once: no exact-rerank module grows
    its own ``.limit(`` tail outside the ranker's shape helper."""
    import ast
    import inspect

    from apache_beam_challange_spark.operators import similarity
    from apache_beam_challange_spark.plans import mips

    hits = []
    for mod in (similarity, mips):
        for fn in ast.parse(inspect.getsource(mod)).body:
            if isinstance(fn, ast.FunctionDef) and fn.name != "_top_k":
                hits += [
                    f"{mod.__name__}.{fn.name}:{node.lineno}"
                    for node in ast.walk(fn)
                    if isinstance(node, ast.Attribute) and node.attr == "limit"
                ]
    assert not hits, f"rank through similarity.rank_candidates: {hits}"

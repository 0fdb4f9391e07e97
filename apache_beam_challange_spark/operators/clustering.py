"""K-means (Lloyd) clustering over embedding columns (SURVEY.md §2.9).

Closes the "codebook trained offline" seam in the IVF index
(:mod:`operators.similarity` uses stored vectors as its coarse quantizer):
this module trains that quantizer — the standard IVF workflow is exactly
k-means then inverted-list assignment.

Determinism contract (what makes an iterative float algorithm
oracle-hashable):

- **Init** is the first ``k`` stored vectors (``vec_id < k``) — no RNG.
- **Assignment** is argmin Euclidean distance with a centroid-id tie-break.
  Distances on both engines are the same sequential fold over the same
  doubles, so the comparison is bit-identical.
- **Update** accumulates components in **fixed-point**: each value is
  quantized to ``FLOOR(x * scale + 0.5)`` BIGINT before the per-cluster
  SUM, so the aggregation is exact integer arithmetic — immune to
  float-sum reassociation across partitions (a plain double SUM is
  order-dependent in any partial aggregation). The new centroid component
  is one double division ``sum / (n * scale)`` — a single IEEE op both
  engines perform identically.

Scale posture (100 TB): per iteration, assignment is a narrow pass against
a broadcast k-row codebook (no shuffle of the big side), and the update is
one (centroid, component) aggregation — map-side combined, shuffling k*dim
partial rows per partition. The iteration count is a small constant; each
round's centroids are localCheckpoint-ed so lineage stays flat. This is
the textbook distributed Lloyd shape (same as Spark MLlib's KMeans, minus
its RNG init, which would break oracle verification).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from apache_beam_challange_spark.functions.vector import as_double
from apache_beam_challange_spark.sources.driver import collect_bounded, local_frame

#: widest vector k-means trains on (the 64-dim embedding corpus); bounds
#: each Lloyd round's collected state at k * _MAX_DIM rows
_MAX_DIM = 64


def _sq_l2(a: F.Column, b: F.Column) -> F.Column:
    """Euclidean distance: sequential left fold over (a-b)^2 , then sqrt —
    the same op order DuckDB's list_distance uses."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def kmeans_centroids(
    embeddings: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    scale: int = 10_000,
    init_cents: DataFrame | None = None,
) -> DataFrame:
    """Train the codebook: ``n_iter`` Lloyd rounds, returning
    ``(centroid_id, cvec)`` — the coarse quantizer an IVF index consumes
    (:func:`operators.similarity.ivf_topk_with_centroids`).

    ``init_cents`` (a ``(centroid_id, cvec)`` frame) resumes training
    from STORED centroids instead of the deterministic first-k seed —
    the incremental re-training contract: because every update is a
    deterministic fixed-point function of (input, centroids), resuming
    from the exact stored round-m state and running n more rounds is
    BIT-IDENTICAL to training m+n rounds from the seed. The oracle for
    ``ivf_retrain_topk_vec0`` states exactly that (a from-scratch
    3-round CTE chain against the engine's stored-2+1 route)."""
    spark = embeddings.sparkSession
    vecs = embeddings.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("vec")
    )
    cents = (
        init_cents.select("centroid_id", "cvec")
        if init_cents is not None
        else vecs.filter(F.col("vec_id") < k).select(
            F.col("vec_id").alias("centroid_id"), F.col("vec").alias("cvec")
        )
    )
    # r13 (guide §1.2 — the ANN-serve/solver driver-core discipline):
    # each Lloyd round's NEW state is the parameter-bounded sufficient
    # statistic (centroid_id, pos, s, n) — at most k*dim rows, corpus-
    # independent — so one collect per round replaces the eager
    # per-round localCheckpoint job + the array-reassembly groupBy +
    # the broadcast sub-job over the prior round's lineage. The driver
    # computes cval = s / (n * scale) with the IDENTICAL IEEE ops the
    # removed Spark expression performed (long->double casts, one
    # multiply, one divide), then re-injects the centroids as a literal
    # local relation. The data-sized passes (assignment + per-dimension
    # fixed-point sums) stay in Spark, map-side combined; the in-loop
    # arg-min is a hash aggregate over min(struct(dist, centroid_id,
    # vec)) — the same (dist, centroid_id) lexicographic pick the old
    # row_number window made, without the per-round sort.
    for _ in range(n_iter):
        best = (
            vecs.crossJoin(F.broadcast(cents))
            .withColumn("dist", _sq_l2(F.col("vec"), F.col("cvec")))
            .groupBy("vec_id")
            .agg(F.min(F.struct("dist", "centroid_id", "vec")).alias("b"))
            .select(F.col("b.centroid_id").alias("centroid_id"), F.col("b.vec").alias("vec"))
        )
        comp = best.select(
            "centroid_id", F.posexplode("vec").alias("pos", "val")
        )
        sums = comp.groupBy("centroid_id", "pos").agg(
            F.sum(F.floor(F.col("val") * scale + 0.5).cast("long")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        state: dict[int, list[tuple[int, float]]] = {}
        for cid, pos, s, n in collect_bounded(sums, k * _MAX_DIM):
            state.setdefault(cid, []).append((pos, s / (n * float(scale))))
        cents = local_frame(
            spark,
            [
                (cid, [v for _, v in sorted(pvs)])
                for cid, pvs in sorted(state.items())
            ],
            "centroid_id long, cvec array<double>",
        )
    return cents


def kmeans_assignments(
    embeddings: DataFrame,
    k: int = 4,
    n_iter: int = 2,
    scale: int = 10_000,
) -> DataFrame:
    """Lloyd's algorithm, ``n_iter`` update rounds, then a final assignment:
    ``(vec_id, label, centroid_id, dist)`` with ``dist`` rounded to 6 dp.

    Centroid state after every update is a deterministic function of the
    input (fixed-point sums — see module docstring), so the full trajectory
    is reproducible in SQL by unrolling the iterations.
    """
    vecs = embeddings.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("vec")
    )
    cents = kmeans_centroids(embeddings, k=k, n_iter=n_iter, scale=scale)
    w = Window.partitionBy("vec_id").orderBy("dist", "centroid_id")
    return (
        vecs.crossJoin(F.broadcast(cents))
        .withColumn("dist", _sq_l2(F.col("vec"), F.col("cvec")))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "vec_id",
            "label",
            "centroid_id",
            F.round(F.col("dist"), 6).alias("dist"),
        )
    )


def kmeans_cents_ctes(
    k: int = 4,
    n_iter: int = 2,
    scale: int = 10_000,
    dim: int = 64,
    prefix: str = "",
    vec_sql: str = "CAST(embedding AS DOUBLE[])",
) -> str:
    """The CTE chain (``{prefix}vecs``, ``{prefix}cents0`` ..
    ``{prefix}cents{n_iter}``) that reproduces :func:`kmeans_centroids` in
    DuckDB — reused by the k-means oracle and by composed queries
    (trained-codebook IVF; product quantization trains one chain per
    subspace via ``prefix`` + a sliced ``vec_sql``)."""
    p = prefix
    ctes = [
        f"""
{p}vecs AS (
    SELECT vec_id, label, {vec_sql} AS vec FROM embeddings
),
{p}cents0 AS (
    SELECT vec_id AS centroid_id, {vec_sql} AS cvec
    FROM embeddings WHERE vec_id < {k}
)""".strip()
    ]
    for i in range(n_iter):
        ctes.append(
            f"""
{p}assign{i} AS (
    SELECT * FROM (
        SELECT v.vec_id, v.vec, c.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_distance(v.vec, c.cvec), c.centroid_id
               ) AS rn
        FROM {p}vecs v CROSS JOIN {p}cents{i} c
    ) WHERE rn = 1
),
{p}cents{i + 1} AS (
    SELECT centroid_id,
           LIST(s / (n * {scale}.0) ORDER BY pos) AS cvec
    FROM (
        SELECT a.centroid_id, p.pos,
               SUM(CAST(FLOOR(a.vec[p.pos] * {scale} + 0.5) AS BIGINT)) AS s,
               COUNT(*) AS n
        FROM {p}assign{i} a,
             (SELECT unnest(generate_series(1, {dim})) AS pos) p
        GROUP BY a.centroid_id, p.pos
    )
    GROUP BY centroid_id
)""".strip()
        )
    return ",\n".join(ctes)


def kmeans_oracle_sql(
    k: int = 4, n_iter: int = 2, scale: int = 10_000, dim: int = 64
) -> str:
    """The DuckDB twin of :func:`kmeans_assignments`: iterations unrolled as
    CTE pairs (assign_i, cents_i) — mechanical, generated, and exactly the
    fixed-point arithmetic the Spark side performs."""
    return (
        "WITH "
        + kmeans_cents_ctes(k=k, n_iter=n_iter, scale=scale, dim=dim)
        + f"""
SELECT vec_id, label, centroid_id, ROUND(dist, 6) AS dist
FROM (
    SELECT v.vec_id, v.label, c.centroid_id,
           list_distance(v.vec, c.cvec) AS dist,
           ROW_NUMBER() OVER (
               PARTITION BY v.vec_id
               ORDER BY list_distance(v.vec, c.cvec), c.centroid_id
           ) AS rn
    FROM vecs v CROSS JOIN cents{n_iter} c
) WHERE rn = 1"""
    )


def pq_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k_results: int = 20,
    m: int = 4,
    k: int = 4,
    n_iter: int = 1,
    scale: int = 10_000,
    dim: int = 64,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """Product-quantization ANN (the IVF+PQ memory-compression half, as in
    Jegou et al., "Product Quantization for Nearest Neighbor Search",
    TPAMI'11 — public literature): the vector splits into ``m`` subspaces,
    each with its own ``k``-centroid Lloyd codebook; every vector stores
    only ``m`` small codes (here 4 x 2 bits — a 64-float vector compressed
    to one byte). Query-time scoring is the asymmetric distance (ADC):
    per-subspace squared distances from the query to each centroid are
    precomputed (m*k values, broadcast), and a vector's approximate
    distance is the sum of its codes' entries — no float vector is ever
    read at query time.

    Scale posture: codebook training touches the data ``m * n_iter`` times
    (narrow broadcast passes); encoding is one narrow pass; a query scans
    only the m-code table (bytes per row, not KB) — the entire point at
    100 TB. Deterministic end to end (fixed-point Lloyd + rounded final
    ADC), so the whole trajectory is SQL-reproducible.

    Returns top ``k_results`` by ``(adc_dist asc, vec_id)``, excluding the
    query vector. With ``candidates`` (a DataFrame with a ``vec_id``
    column, e.g. :func:`operators.similarity.ivf_candidates`), scoring is
    restricted to that set — the full IVF+PQ composition: coarse lists for
    recall, compressed codes for ranking.
    """
    sub = dim // m
    out = embeddings.select("vec_id", "label")
    if candidates is not None:
        out = out.join(candidates.select("vec_id"), "vec_id")
    adc_terms = []
    for j in range(m):
        sub_df = embeddings.select(
            "vec_id",
            "label",
            F.slice(as_double(F.col("embedding")), j * sub + 1, sub).alias(
                "embedding"
            ),
        )
        cents = kmeans_centroids(sub_df, k=k, n_iter=n_iter, scale=scale)
        w = Window.partitionBy("vec_id").orderBy("dist", "centroid_id")
        codes = (
            sub_df.select("vec_id", F.col("embedding").alias("svec"))
            .crossJoin(F.broadcast(cents))
            .withColumn("dist", _sq_l2(F.col("svec"), F.col("cvec")))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("vec_id", F.col("centroid_id").alias(f"code_{j}"))
        )
        qsub = sub_df.filter(F.col("vec_id") == query_vec_id).select(
            F.col("embedding").alias("qvec")
        )
        lut = (
            cents.crossJoin(F.broadcast(qsub))
            .withColumn("__d", _sq_l2(F.col("cvec"), F.col("qvec")))
            .select(
                F.col("centroid_id").alias(f"code_{j}"),
                (F.col("__d") * F.col("__d")).alias(f"p_{j}"),
            )
        )
        out = out.join(codes, "vec_id").join(F.broadcast(lut), f"code_{j}")
        adc_terms.append(F.col(f"p_{j}"))
    adc = adc_terms[0]
    for t in adc_terms[1:]:
        adc = adc + t
    return (
        out.filter(F.col("vec_id") != query_vec_id)
        .select("vec_id", "label", F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id"))
        .limit(k_results)
    )


def pq_parts_ctes(
    query_vec_id: int = 0,
    m: int = 4,
    k: int = 4,
    n_iter: int = 1,
    scale: int = 10_000,
    dim: int = 64,
    vec_sql_for=None,
) -> tuple[str, str, str]:
    """The generated PQ building blocks for DuckDB oracles: per-subspace
    k-means chains + ``enc{j}``/``qp{j}`` CTEs, the enc/qp join clauses
    (anchored on ``enc0``), and the ADC sum expression. Composable with
    other CTE chains (e.g. IVF probing for the IVF+PQ oracle).
    ``vec_sql_for(j)`` overrides subspace j's vector expression (default:
    the contiguous slice) — the OPQ oracle passes a permutation gather."""
    sub = dim // m
    parts = []
    for j in range(m):
        parts.append(
            kmeans_cents_ctes(
                k=k,
                n_iter=n_iter,
                scale=scale,
                dim=sub,
                prefix=f"s{j}_",
                vec_sql=(
                    vec_sql_for(j)
                    if vec_sql_for is not None
                    else f"CAST(embedding AS DOUBLE[])[{j * sub + 1}:{j * sub + sub}]"
                ),
            )
        )
        parts.append(
            f"""
enc{j} AS (
    SELECT vec_id, label, centroid_id AS code_{j} FROM (
        SELECT v.vec_id, v.label, c.centroid_id,
               ROW_NUMBER() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_distance(v.vec, c.cvec), c.centroid_id
               ) AS rn
        FROM s{j}_vecs v CROSS JOIN s{j}_cents{n_iter} c
    ) WHERE rn = 1
),
qp{j} AS (
    SELECT c.centroid_id AS code_{j},
           list_distance(c.cvec, q.vec) * list_distance(c.cvec, q.vec) AS p_{j}
    FROM s{j}_cents{n_iter} c,
         (SELECT vec FROM s{j}_vecs WHERE vec_id = {query_vec_id}) q
)""".strip()
        )
    joins = "JOIN qp0 ON enc0.code_0 = qp0.code_0\n" + "\n".join(
        f"JOIN enc{j} ON enc0.vec_id = enc{j}.vec_id\n"
        f"JOIN qp{j} ON enc{j}.code_{j} = qp{j}.code_{j}"
        for j in range(1, m)
    )
    adc = " + ".join(f"qp{j}.p_{j}" for j in range(m))
    return ",\n".join(parts), joins, adc


def pq_oracle_sql(
    query_vec_id: int = 0,
    k_results: int = 20,
    m: int = 4,
    k: int = 4,
    n_iter: int = 1,
    scale: int = 10_000,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`pq_topk`: one generated k-means CTE chain per
    subspace (sliced vec_sql), then code assignment, the query's ADC
    lookup table, and the summed distance — all the same IEEE ops.

    Note ``p_j`` is ``list_distance^2`` (sqrt then square) on BOTH sides,
    not the raw squared-sum fold: the sqrt/multiply pair reproduces
    bit-identically, while re-folding a different op order might not."""
    ctes, joins, adc = pq_parts_ctes(
        query_vec_id=query_vec_id, m=m, k=k, n_iter=n_iter, scale=scale, dim=dim
    )
    return (
        "WITH "
        + ctes
        + f"""
SELECT enc0.vec_id, enc0.label, ROUND({adc}, 6) AS adc_dist
FROM enc0
{joins}
WHERE enc0.vec_id <> {query_vec_id}
ORDER BY adc_dist ASC, enc0.vec_id
LIMIT {k_results}"""
    )


def ivfpq_refined_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k_results: int = 20,
    n_refine: int = 100,
    coarse_ids: tuple[int, ...] = (0, 1, 2, 3, 4, 5, 6, 7),
    n_probe: int = 2,
    m: int = 4,
    k: int = 4,
    n_iter: int = 1,
    scale: int = 10_000,
    dim: int = 64,
) -> DataFrame:
    """IVF+PQ with the standard exact-rerank REFINE stage (the missing
    piece that makes compressed ranks servable): the coarse lists bound
    the candidate set, PQ ADC ranks it cheaply, the top ``n_refine`` ids
    are re-ranked by exact cosine against the float vectors, and the final
    top ``k_results`` come from that re-rank.

    Scale posture: the expensive compressed scan never reads a float
    vector; the refine is ONE semi-join of <= ``n_refine`` ids back to the
    vector table (broadcast of an n_refine-row set — file-skippable on a
    vec_id-sorted layout), so exact math touches n_refine rows, not the
    corpus. Recall rises from ADC-rank quality to probe-coverage quality
    (the IVF recall ceiling), the canonical IVFADC+R design (Jegou et al.
    TPAMI'11 §V "re-ranking with source coding")."""
    from apache_beam_challange_spark.functions.vector import cosine
    from apache_beam_challange_spark.operators.similarity import (
        _query_vec,
        ivf_candidates,
    )

    coarse_cents = embeddings.filter(
        F.col("vec_id").isin(list(coarse_ids))
    ).select(
        F.col("vec_id").alias("centroid_id"),
        as_double(F.col("embedding")).alias("cvec"),
    )
    cand = ivf_candidates(embeddings, coarse_cents, query_vec_id, n_probe=n_probe)
    shortlist = pq_topk(
        embeddings,
        query_vec_id=query_vec_id,
        k_results=n_refine,
        m=m,
        k=k,
        n_iter=n_iter,
        scale=scale,
        dim=dim,
        candidates=cand,
    ).select("vec_id")
    q = _query_vec(embeddings, query_vec_id)
    vecs = embeddings.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("vec")
    )
    return (
        vecs.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("vec"), F.col("__qvec")), 6).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(k_results)
    )


def _pq_sub(embeddings: DataFrame, j: int, sub: int) -> DataFrame:
    return embeddings.select(
        "vec_id",
        "label",
        F.slice(as_double(F.col("embedding")), j * sub + 1, sub).alias("embedding"),
    )


def pq_encode(
    embeddings: DataFrame,
    m: int = 4,
    k: int = 4,
    n_iter: int = 1,
    scale: int = 10_000,
    dim: int = 64,
) -> DataFrame:
    """Encode every vector to its ``m`` PQ codes:
    ``(vec_id, label, code_0 .. code_{m-1})`` — the compressed
    representation an at-rest PQ index stores instead of float vectors."""
    sub = dim // m
    out = embeddings.select("vec_id", "label")
    for j in range(m):
        sub_df = _pq_sub(embeddings, j, sub)
        cents = kmeans_centroids(sub_df, k=k, n_iter=n_iter, scale=scale)
        w = Window.partitionBy("vec_id").orderBy("dist", "centroid_id")
        codes = (
            sub_df.select("vec_id", F.col("embedding").alias("svec"))
            .crossJoin(F.broadcast(cents))
            .withColumn("dist", _sq_l2(F.col("svec"), F.col("cvec")))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("vec_id", F.col("centroid_id").alias(f"code_{j}"))
        )
        out = out.join(codes, "vec_id")
    return out


def pq_write_index(
    embeddings: DataFrame,
    path: str,
    coarse_ids: tuple[int, ...] = (0, 1, 2, 3, 4, 5, 6, 7),
    m: int = 4,
    k: int = 4,
    n_iter: int = 1,
    scale: int = 10_000,
    dim: int = 64,
) -> None:
    """Materialize the full IVF+PQ index AT REST: the codes table
    (``pq_encode`` output — bytes per row) plus each vector's coarse
    inverted-list assignment, hive-partitioned by ``centroid_id``. At
    100 TB this is the artifact vector search actually serves from: a
    query opens only the ``n_probe`` probed partition directories of a
    table that is ~1000x smaller than the embeddings.

    The index is a TWO-PART artifact (codes table + stored codebooks).
    Commit order matters for crash safety: the codebooks are written
    FIRST and the codes table LAST, so the codes' ``_SUCCESS`` is the
    final commit of the whole artifact — a crash between the two writes
    leaves no ``_SUCCESS`` on the codes dir and readers (which gate on
    :func:`~apache_beam_challange_spark.sources.catalog.is_materialized`
    over BOTH directories) rebuild instead of serving a torn index."""
    from apache_beam_challange_spark.operators.similarity import ivf_assignments

    # The trained per-subspace codebooks are part of the index artifact:
    # serving rebuilds only the query's m*k LUT entries from them instead
    # of re-running k-means per query (m narrow passes saved per lookup).
    sub = dim // m
    books = None
    for j in range(m):
        cents = kmeans_centroids(
            _pq_sub(embeddings, j, sub), k=k, n_iter=n_iter, scale=scale
        ).select(F.lit(j).alias("subspace"), "centroid_id", "cvec")
        books = cents if books is None else books.unionByName(cents)
    books.coalesce(1).write.mode("overwrite").parquet(path + "_codebooks")

    codes = pq_encode(embeddings, m=m, k=k, n_iter=n_iter, scale=scale, dim=dim)
    coarse = ivf_assignments(embeddings, coarse_ids).select(
        "vec_id", "centroid_id"
    )
    codes.join(coarse, "vec_id").write.mode("overwrite").partitionBy(
        "centroid_id"
    ).parquet(path)


def ivfpq_topk_indexed(
    embeddings: DataFrame,
    index: DataFrame,
    query_vec_id: int = 0,
    k_results: int = 20,
    coarse_ids: tuple[int, ...] = (0, 1, 2, 3, 4, 5, 6, 7),
    n_probe: int = 2,
    m: int = 4,
    k: int = 4,
    n_iter: int = 1,
    scale: int = 10_000,
    dim: int = 64,
    codebooks: DataFrame | None = None,
) -> DataFrame:
    """IVF+PQ served from the materialized index: probe the coarse lists
    (tiny broadcast ranking), join the index on its PARTITION column so
    dynamic partition pruning skips every non-probed list at the file
    level, then rank by summed ADC lookups — no float vector of the
    corpus is read at any point. With ``codebooks`` (the stored
    ``pq_write_index`` sibling table — the serving path), the query's ADC
    lookup tables come from m*k tiny stored rows and NOTHING is
    re-trained at query time; without it each subspace codebook is
    re-derived deterministically (the self-contained baseline, m k-means
    passes per query)."""
    from apache_beam_challange_spark.functions.vector import cosine
    from apache_beam_challange_spark.operators.similarity import _query_vec

    sub = dim // m
    # shared serve-path helpers — the same codebook + probe definitions
    # the IVF build/serve/append paths use (operators/similarity.py), so
    # the routes can never drift on tie-break or metric
    from apache_beam_challange_spark.operators.similarity import (
        centroid_table,
        probe_centroids,
    )

    coarse_cents = centroid_table(embeddings, coarse_ids)
    q = _query_vec(embeddings, query_vec_id)
    probes = probe_centroids(coarse_cents, q, n_probe)
    out = index.join(F.broadcast(probes), "centroid_id").filter(
        F.col("vec_id") != query_vec_id
    )
    adc_terms = []
    for j in range(m):
        sub_df = _pq_sub(embeddings, j, sub)
        if codebooks is not None:
            cents = codebooks.filter(F.col("subspace") == j).select(
                "centroid_id", "cvec"
            )
        else:
            cents = kmeans_centroids(sub_df, k=k, n_iter=n_iter, scale=scale)
        qsub = sub_df.filter(F.col("vec_id") == query_vec_id).select(
            F.col("embedding").alias("qvec")
        )
        lut = (
            cents.crossJoin(F.broadcast(qsub))
            .withColumn("__d", _sq_l2(F.col("cvec"), F.col("qvec")))
            .select(
                F.col("centroid_id").alias(f"code_{j}"),
                (F.col("__d") * F.col("__d")).alias(f"p_{j}"),
            )
        )
        out = out.join(F.broadcast(lut), f"code_{j}")
        adc_terms.append(F.col(f"p_{j}"))
    adc = adc_terms[0]
    for t in adc_terms[1:]:
        adc = adc + t
    return (
        out.select("vec_id", "label", F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id"))
        .limit(k_results)
    )


def ivfpq_refined_topk_indexed(
    embeddings: DataFrame,
    index: DataFrame,
    codebooks: DataFrame,
    query_vec_id: int = 0,
    k_results: int = 20,
    n_refine: int = 100,
    coarse_ids: tuple[int, ...] = (0, 1, 2, 3, 4, 5, 6, 7),
    n_probe: int = 2,
    m: int = 4,
    scale: int = 10_000,
    dim: int = 64,
) -> DataFrame:
    """The production IVFPQ+refine SERVING path: coarse probes prune the
    at-rest codes table at the file level (dynamic partition pruning on
    its ``centroid_id`` partitioning), the query's ADC lookup tables come
    from the STORED ``codebooks`` (``pq_write_index`` writes them beside
    the codes — m*k tiny rows; nothing is re-trained at query time), the
    ADC top ``n_refine`` shortlist is exact-rerank'd against the float
    vectors. Identical results to :func:`ivfpq_refined_topk`; query-time
    work drops from (m k-means trainings + full encode) to (one pruned
    codes scan + m broadcast LUT joins + an n_refine-row rerank)."""
    from apache_beam_challange_spark.functions.vector import cosine
    from apache_beam_challange_spark.operators.similarity import _query_vec

    sub = dim // m
    # shared serve-path helpers — the same codebook + probe definitions
    # the IVF build/serve/append paths use (operators/similarity.py), so
    # the routes can never drift on tie-break or metric
    from apache_beam_challange_spark.operators.similarity import (
        centroid_table,
        probe_centroids,
    )

    coarse_cents = centroid_table(embeddings, coarse_ids)
    q = _query_vec(embeddings, query_vec_id)
    probes = probe_centroids(coarse_cents, q, n_probe)
    out = index.join(F.broadcast(probes), "centroid_id").filter(
        F.col("vec_id") != query_vec_id
    )
    adc_terms = []
    for j in range(m):
        qsub = _pq_sub(embeddings, j, sub).filter(
            F.col("vec_id") == query_vec_id
        ).select(F.col("embedding").alias("qvec"))
        lut = (
            codebooks.filter(F.col("subspace") == j)
            .crossJoin(F.broadcast(qsub))
            .withColumn("__d", _sq_l2(F.col("cvec"), F.col("qvec")))
            .select(
                F.col("centroid_id").alias(f"code_{j}"),
                (F.col("__d") * F.col("__d")).alias(f"p_{j}"),
            )
        )
        out = out.join(F.broadcast(lut), f"code_{j}")
        adc_terms.append(F.col(f"p_{j}"))
    adc = adc_terms[0]
    for t in adc_terms[1:]:
        adc = adc + t
    shortlist = (
        out.select("vec_id", F.round(adc, 6).alias("adc_dist"))
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id"))
        .limit(n_refine)
        .select("vec_id")
    )
    vecs = embeddings.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("vec")
    )
    return (
        vecs.join(F.broadcast(shortlist), "vec_id")
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            "label",
            F.round(cosine(F.col("vec"), F.col("__qvec")), 6).alias("cosine_sim"),
        )
        .orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
        .limit(k_results)
    )


def opq_variance_keys(
    embeddings: DataFrame, scale: int = 10_000
) -> DataFrame:
    """Per-dimension EXACT integer variance keys ``(d, s1, s2, n)`` with
    key ``n * Σq² - (Σq)²`` over fixed-point components ``q =
    floor(x*scale + .5)`` — no float aggregation anywhere, so Spark and
    the SQL oracle derive IDENTICAL keys. One aggregation, dim output
    rows. Intermediates stay < 2^63 for |corpus| * (scale * |x|_max)²
    < 9e18 — at scale=1e4 and unit-norm-ish components that is hundreds
    of millions of rows per dimension."""
    comp = embeddings.select(
        F.posexplode(as_double(F.col("embedding"))).alias("d0", "x")
    ).select(
        (F.col("d0") + 1).alias("d"),
        F.floor(F.col("x") * scale + 0.5).cast("long").alias("q"),
    )
    return comp.groupBy("d").agg(
        F.sum("q").alias("s1"),
        F.sum(F.col("q") * F.col("q")).alias("s2"),
        F.count(F.lit(1)).alias("n"),
    )


def opq_allocation_from_keys(
    key_rows, m: int = 4, dim: int = 64
) -> list[list[int]]:
    """TRAIN the OPQ space decomposition from collected variance-key rows:
    the "Eigenvalue Allocation" objective of Optimized Product
    Quantization (Ge et al., CVPR'13, §4; public literature) restricted
    to permutation rotations, computed on raw per-dimension variances (no
    PCA — the corpus is the training set). Dimensions rank by the exact
    key desc (dim tie-break), then deal round-robin rank→subspace
    ``rank % m`` — the greedy balancing deal.

    Takes the COLLECTED rows of :func:`opq_variance_keys` (a dim-row
    driver action performed by the CALLER at plan-build time — engine
    operators stay collect-free; same class as the pandas route's
    query-vector ``head()``)."""
    keyed = sorted(
        ((n * s2 - s1 * s1, d) for d, s1, s2, n in key_rows),
        key=lambda t: (-t[0], t[1]),
    )
    perm = [d for _, d in keyed]
    return [[perm[r] for r in range(dim) if r % m == j] for j in range(m)]


def opq_topk(
    embeddings: DataFrame,
    query_vec_id: int = 0,
    k_results: int = 20,
    m: int = 4,
    k: int = 4,
    n_iter: int = 1,
    scale: int = 10_000,
    dim: int = 64,
    subs: list[list[int]] | None = None,
) -> DataFrame:
    """PQ top-k under the trained OPQ permutation: the embedding column is
    re-ordered so contiguous PQ subspaces are the balanced allocation
    groups, then :func:`pq_topk` runs unchanged on the permuted vectors.
    Same code budget as plain PQ (m codes); on anisotropic data the
    balanced decomposition lowers quantization error — on an isotropic
    corpus (this synthetic set: per-dim variance spread 1.3x, contiguous
    blocks already balanced within 2%) the permutation is provably a
    near-no-op and recall matches plain PQ, which the tests assert
    honestly instead of claiming a lift the data cannot produce."""
    if subs is None:
        raise ValueError(
            "opq_topk requires a trained allocation: collect "
            "opq_variance_keys() at plan-build time (a dim-row driver "
            "action) and pass opq_allocation_from_keys(rows) — engine "
            "operators perform no collect themselves"
        )
    order = [d for group in subs for d in group]
    v = as_double(F.col("embedding"))
    permuted = embeddings.select(
        "vec_id",
        "label",
        F.array(*[v.getItem(d - 1) for d in order]).alias("embedding"),
    )
    return pq_topk(
        permuted,
        query_vec_id=query_vec_id,
        k_results=k_results,
        m=m,
        k=k,
        n_iter=n_iter,
        scale=scale,
        dim=dim,
    )


def opq_alloc_ctes(m: int = 4, dim: int = 64, scale: int = 10_000) -> str:
    """The allocation trainer as DuckDB CTE text: exact integer variance
    keys, rank, and one ``alloc{j}`` dim-list per subspace — the SQL twin
    of :func:`opq_variance_keys` + :func:`opq_allocation_from_keys`."""
    allocs = ",\n".join(
        f"alloc{j} AS (SELECT LIST(d ORDER BY rk) AS dims FROM opq_ranked "
        f"WHERE rk % {m} = {j})"
        for j in range(m)
    )
    return f"""
opq_comp AS (
    SELECT d.d,
           CAST(FLOOR(CAST(embedding AS DOUBLE[])[d.d] * {scale} + 0.5)
                AS BIGINT) AS q
    FROM embeddings, (SELECT unnest(generate_series(1, {dim})) AS d) d
),
opq_ranked AS (
    SELECT d, ROW_NUMBER() OVER (ORDER BY vk DESC, d) - 1 AS rk
    FROM (
        SELECT d, COUNT(*) * SUM(q * q) - SUM(q) * SUM(q) AS vk
        FROM opq_comp GROUP BY d
    )
),
{allocs}
""".strip()


def opq_oracle_sql(
    query_vec_id: int = 0,
    k_results: int = 20,
    m: int = 4,
    k: int = 4,
    n_iter: int = 1,
    scale: int = 10_000,
    dim: int = 64,
) -> str:
    """DuckDB twin of :func:`opq_topk`: the allocation CTEs feed each
    subspace's k-means chain through a permutation GATHER
    (``list_transform(alloc{j}.dims, d -> vec[d])``) instead of the
    contiguous slice — everything downstream is the verified PQ oracle."""
    ctes, joins, adc = pq_parts_ctes(
        query_vec_id=query_vec_id,
        m=m,
        k=k,
        n_iter=n_iter,
        scale=scale,
        dim=dim,
        vec_sql_for=lambda j: (
            f"list_transform((SELECT dims FROM alloc{j}), "
            f"d -> CAST(embedding AS DOUBLE[])[d])"
        ),
    )
    return (
        "WITH "
        + opq_alloc_ctes(m=m, dim=dim, scale=scale)
        + ",\n"
        + ctes
        + f"""
SELECT enc0.vec_id, enc0.label, ROUND({adc}, 6) AS adc_dist
FROM enc0
{joins}
WHERE enc0.vec_id <> {query_vec_id}
ORDER BY adc_dist ASC, enc0.vec_id
LIMIT {k_results}"""
    )


def ivfpq_knn_join_indexed(
    embeddings: DataFrame,
    index: DataFrame,
    codebooks: DataFrame,
    query_ids: list[int],
    k_results: int = 5,
    coarse_ids: tuple[int, ...] = (0, 1, 2, 3, 4, 5, 6, 7),
    n_probe: int = 2,
    m: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Batch IVF+PQ k-NN join from the AT-REST codes index (round 8 —
    completes the batch-serving family across every index type): the
    whole query set ranks the broadcast coarse codebook in one window
    (`probe_centroids_batch`), the (qid, centroid_id) probe pairs join
    the index partition column (DPP opens the union of probed list
    directories once), and each subspace's ADC lookup table is built for
    ALL queries in one broadcast (qid, code_j, p_j) join — queries*m*k
    tiny rows. One windowed rank serves every query; no corpus float
    vector is read and no stage repeats per query."""
    from pyspark.sql import Window

    from apache_beam_challange_spark.functions.vector import as_double
    from apache_beam_challange_spark.operators.similarity import (
        centroid_table,
        probe_centroids_batch,
    )

    sub = dim // m
    qids = list(query_ids)
    coarse_cents = centroid_table(embeddings, coarse_ids)
    qvecs = embeddings.filter(F.col("vec_id").isin(qids)).select(
        F.col("vec_id").alias("qid"),
        as_double(F.col("embedding")).alias("qvec"),
    )
    probes = probe_centroids_batch(coarse_cents, qvecs, n_probe)
    out = index.join(F.broadcast(probes), "centroid_id").filter(
        F.col("vec_id") != F.col("qid")
    )
    adc_terms = []
    for j in range(m):
        sub_df = _pq_sub(embeddings, j, sub)
        cents = codebooks.filter(F.col("subspace") == j).select(
            "centroid_id", "cvec"
        )
        qsub = sub_df.filter(F.col("vec_id").isin(qids)).select(
            F.col("vec_id").alias("qid"),
            F.col("embedding").alias("__qsub"),
        )
        lut = (
            cents.crossJoin(F.broadcast(qsub))
            .withColumn("__d", _sq_l2(F.col("cvec"), F.col("__qsub")))
            .select(
                "qid",
                F.col("centroid_id").alias(f"code_{j}"),
                (F.col("__d") * F.col("__d")).alias(f"p_{j}"),
            )
        )
        out = out.join(F.broadcast(lut), ["qid", f"code_{j}"])
        adc_terms.append(F.col(f"p_{j}"))
    adc = adc_terms[0]
    for t in adc_terms[1:]:
        adc = adc + t
    wk = Window.partitionBy("query_vec_id").orderBy(
        F.col("adc_dist").asc(), F.col("vec_id")
    )
    return (
        out.select(
            F.col("qid").alias("query_vec_id"),
            "vec_id",
            "label",
            F.round(adc, 6).alias("adc_dist"),
        )
        .withColumn("rk", F.row_number().over(wk))
        .filter(F.col("rk") <= k_results)
        .drop("rk")
    )

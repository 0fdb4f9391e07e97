"""Similarity search over embedding columns (SURVEY.md §2.9).

Two ANN families, each served through one core:

- **Exact rerank** (brute force, IVF, LSH, MIPS): every route is ONE
  batch-shaped candidate stage per index type plus ONE ranker — the
  filter-then-refine shape. A candidate stage turns a list of query ids
  into ``(qid, vec_id, label, __v)`` rows: :func:`exact_candidates`
  (every vector but the query), :func:`ivf_candidates` (the members of
  each query's probed inverted lists, inline or at rest) and
  :func:`lsh_candidates` (one broadcast equi-join of the corpus buckets
  against the queries' ``(qid, table_idx, bucket)`` probe rows from
  :func:`query_buckets` — single-table, multi-probe, multitable, at
  rest, filtered, and MIPS over the augmented frame in plans/mips.py).
  :func:`rank_candidates` then scores every candidate exactly against
  the broadcast query vectors and keeps each query's top k: one query
  is a zero-shuffle TakeOrderedAndProject, a batch one per-qid window.
  A single query is a batch of one.
- **Graph search** (NSW, Vamana, HNSW): one driver-cached beam search
  over the at-rest adjacency (:func:`_graph_topk`).

LSH hyperplanes are *deterministic* pseudo-random vectors (sin-hash of
(plane, component)), so the DuckDB oracles reproduce every bucket, and
every ranking breaks ties on vec_id after rounding to 6 places.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apache_beam_challange_spark.functions.vector import as_double, cosine
from apache_beam_challange_spark.sources.catalog import read_parquet
from apache_beam_challange_spark.sources.driver import collect_bounded, local_frame


def _cos_py(q: list, v: list) -> float:
    """Bit-exact driver replication of :func:`cosine` (the engine's
    zip_with+aggregate expression): per-element products, left-to-right
    sums seeded at 0.0, correctly-rounded sqrt, one division — every
    step the same IEEE-754 double operation in the same order the JVM
    executes, so the value is bit-identical to Spark's (and to the
    DuckDB oracle's replay of the same chain)."""
    num = 0.0
    for x, y in zip(q, v):
        num += x * y
    dq = 0.0
    for x in q:
        dq += x * x
    dv = 0.0
    for y in v:
        dv += y * y
    den = math.sqrt(dq) * math.sqrt(dv)
    if den == 0.0:
        # Spark double-division semantics for the degenerate norm (never
        # hit on the fixtures; Python would raise instead)
        return (
            float("nan") if num == 0.0 else math.copysign(float("inf"), num)
        )
    return num / den


def _cos_fp_py(q: list, v: list) -> int:
    """Driver replication of :func:`_cos_fp`: the same IEEE multiply by
    1e9 then floor — exact for |cos| <= 1."""
    return int(math.floor(_cos_py(q, v) * _VAM_FP))


def _in_pred(col_name: str, ids) -> F.Column:
    """Single-gateway-call IN predicate over integer ids.

    ``Column.isin(list)`` routes one py4j round-trip PER element through
    ``_create_column_from_literal`` — profiled at 2.8 s of a 7.4 s serve
    loop for ~2.4k ids (13k gateway calls). Rendering the id list into
    one SQL ``IN`` expression is a single gateway call and parses to the
    identical ``In(col, literals)`` predicate, so the parquet pushdown
    and the result are unchanged (guide §1.2 step 2: per-task — here
    per-round driver — work)."""
    ids = sorted(int(i) for i in ids)
    if not ids:
        return F.lit(False)
    return F.expr(f"`{col_name}` IN ({','.join(map(str, ids))})")


def _serve_fetch(vecs: DataFrame, adj_df: DataFrame, vec_pred, src_pred):
    """ONE combined point-lookup job for the graph-serve loop: vectors
    matching ``vec_pred`` and adjacency rows matching ``src_pred``,
    each predicate pushed to its own parquet scan, unioned into a
    single action (r13: the serve wall is Spark job round-trips, not
    data — one job per round instead of two). Returns
    ``(vecs_dict, edges_list)``; either predicate may be None to skip
    that side. The plan carries no scoring expressions — scoring is
    driver-side via :func:`_cos_py`/:func:`_cos_fp_py`."""
    parts = []
    if src_pred is not None:
        parts.append(
            adj_df.filter(src_pred).select(
                F.col("src").alias("i"),
                F.col("dst").alias("j"),
                F.lit(None).cast("array<double>").alias("vec"),
            )
        )
    if vec_pred is not None:
        parts.append(
            vecs.filter(vec_pred).select(
                F.col("vec_id").alias("i"),
                F.lit(None).cast("long").alias("j"),
                F.col("vec"),
            )
        )
    df = parts[0]
    for p in parts[1:]:
        df = df.unionByName(p)
    got_vecs: dict[int, list] = {}
    edges: list[tuple[int, int]] = []
    for r in df.collect():
        if r["j"] is None:
            got_vecs[r["i"]] = list(r["vec"])
        else:
            edges.append((r["i"], r["j"]))
    return got_vecs, edges


def _merge_edges(nbrs: dict, fetched_ids, edges) -> None:
    """Fold a fetch's adjacency rows into the driver cache, marking every
    queried src as fetched (an isolated node caches an empty list so it
    is never re-fetched)."""
    for i in fetched_ids:
        nbrs.setdefault(i, [])
    for s, d in edges:
        nbrs.setdefault(s, []).append(d)


def _serve_phase(
    vecs: DataFrame,
    adj_df: DataFrame,
    qvecs: dict,
    score_py,
    visited: dict,
    vcache: dict,
    nbrs: dict,
    b: int,
    rr: int,
) -> None:
    """One descent phase of the driver-cached graph-serve loop
    (:func:`_graph_topk`): per round at most ONE combined point-lookup job
    (:func:`_serve_fetch` — vectors for newly reached ids + this layer's
    adjacency for those same ids, prefetched so the NEXT round's frontier
    selection never blocks on a second job). Frontier selection, dedup
    and scoring are driver-local over parameter-bounded state (visited ≤
    seeds + rounds*b*M ids per query; adjacency cache ≤ visited*M rows —
    never corpus-bounded; the fetch predicates stay IN-pushed to the
    parquet scans, the vector-store point-lookup shape). At phase start
    every scored id may re-enter a frontier (the expanded mark resets at
    layer boundaries), so this layer's adjacency for ids not yet cached
    is fetched once. Trajectory-identical per qid to the per-round
    localCheckpoint DataFrame form (deterministic scoring, same frontier
    rule, same never-rescore dedup — same fixpoint); the prefetch only
    moves WHEN bytes are fetched, never what is scored."""
    qids = sorted(qvecs)
    expanded: dict[int, set[int]] = {q: set() for q in qids}
    missing = sorted(
        {v for q in qids for v in visited[q]} - set(nbrs)
    )
    if missing:
        _, edges = _serve_fetch(
            vecs, adj_df, None, _in_pred("src", missing)
        )
        _merge_edges(nbrs, missing, edges)
    for _ in range(rr):
        frontier = {
            q: sorted(
                (v for v in visited[q] if v not in expanded[q]),
                key=lambda v: (-visited[q][v], v),
            )[:b]
            for q in qids
        }
        if not any(frontier.values()):
            break
        need: dict[int, set[int]] = {}
        for q in qids:
            if not frontier[q]:
                continue
            expanded[q].update(frontier[q])
            reached: set[int] = set()
            for s in frontier[q]:
                reached.update(nbrs.get(s, ()))
            reached -= visited[q].keys() | {q}
            for v in reached:
                need.setdefault(v, set()).add(q)
        if not need:
            continue
        new_ids = sorted(set(need) - set(vcache))
        adj_ids = sorted(set(need) - set(nbrs))
        if new_ids or adj_ids:
            nvecs, edges = _serve_fetch(
                vecs,
                adj_df,
                _in_pred("vec_id", new_ids) if new_ids else None,
                _in_pred("src", adj_ids) if adj_ids else None,
            )
            vcache.update(nvecs)
            _merge_edges(nbrs, adj_ids, edges)
        for vid, qs in need.items():
            for q in qs:
                visited[q][vid] = score_py(qvecs[q], vcache[vid])


def _graph_topk(
    embeddings: DataFrame,
    layers: list[DataFrame],
    query_ids,
    seeds,
    schedule: list[tuple[int, int, int]],
    k: int,
    fixed_point: bool = False,
) -> DataFrame:
    """The one graph-ANN search the NSW, Vamana and HNSW families serve
    through — HNSW's SEARCH-LAYER routine, run for a batch of query ids
    over a ``(layer, beam, rounds)`` schedule of the at-rest adjacency
    ``layers`` (indexed by layer; a flat graph is one layer).

    ``seeds`` says where each query starts: an int ``s`` seeds every
    query with every ``s``-th vec_id (NSW's coarse sample); a
    ``{qid: [entry ids]}`` dict gives each query its own entries
    (Vamana's medoid, HNSW's top-layer entry; a missing qid starts
    empty). A query never seeds or scores itself. Scoring is the
    bit-exact driver cosine :func:`_cos_py`, or with ``fixed_point`` its
    1e9 floor :func:`_cos_fp_py`, which then also orders the result.

    Driver-cached: the seed pass is ONE combined fetch (seed + query
    vectors and the seeds' first-layer adjacency, all predicate-pushed),
    then each round issues at most one more (:func:`_serve_phase`),
    independent of batch size. Driver state is parameter-bounded
    (visited ≤ seeds + Σ rounds*beam*M ids per query, never
    corpus-bounded). A query's rows are the same alone and inside any
    batch: scoring is deterministic and frontier/dedup are per qid.
    Returns (query_vec_id, vec_id, label, cosine_sim), top-``k`` per
    query by (score desc, vec_id) (:func:`_rank_visited`)."""
    score_py = _cos_fp_py if fixed_point else _cos_py
    vecs = embeddings.select(
        "vec_id", as_double(F.col("embedding")).alias("vec")
    )
    adj = [a.select("src", "dst") for a in layers]
    qids = sorted({int(q) for q in query_ids})
    first = schedule[0][0]
    if isinstance(seeds, int):
        step = seeds
        vec_pred = F.col("vec_id") % step == 0
        src_pred = F.col("src") % step == 0
    else:
        ids = sorted({i for e in seeds.values() for i in e})
        vec_pred, src_pred = _in_pred("vec_id", ids), _in_pred("src", ids)
    vcache, edges = _serve_fetch(
        vecs, adj[first], vec_pred | _in_pred("vec_id", qids), src_pred
    )
    if isinstance(seeds, int):
        ids = sorted(i for i in vcache if i % step == 0)
        seeds = {q: ids for q in qids}
    nbrs: list[dict[int, list[int]]] = [{} for _ in adj]
    _merge_edges(nbrs[first], ids, edges)
    qvecs = {q: vcache[q] for q in qids}
    visited = {
        q: {i: score_py(qvecs[q], vcache[i]) for i in seeds.get(q, ()) if i != q}
        for q in qids
    }
    for layer, beam, rounds in schedule:
        _serve_phase(
            vecs, adj[layer], qvecs, score_py, visited, vcache, nbrs[layer],
            beam, rounds,
        )
    return _rank_visited(embeddings, visited, k, fixed_point)


def _rank_visited(
    embeddings: DataFrame, visited: dict, k: int, fixed_point: bool
) -> DataFrame:
    """Result shaping of :func:`_graph_topk`: each query's top-``k``
    ``visited`` rows by (key desc, vec_id) with their labels, as
    (query_vec_id, vec_id, label, cosine_sim). The key is the cosine
    rounded to 6 places, or the fixed-point score itself. The driver
    first cuts each query to ~k candidates: rounding is monotone and
    moves a score by < 1e-6, so no row 2e-6 below the k-th best raw
    score can reach the rounded top-k (the fixed-point key is exact).
    Spark ranks the survivors in ONE partition (the per-qid window needs
    no exchange) and broadcast-joins their labels, looked up by id."""
    from pyspark.sql import Window

    margin = 0 if fixed_point else 2e-6
    rows = []
    for q, scores in sorted(visited.items()):
        best = sorted(scores.values(), reverse=True)[:k]
        rows += [(q, v, s) for v, s in scores.items() if s >= best[-1] - margin]
    out = local_frame(
        embeddings.sparkSession,
        rows,
        "query_vec_id long, vec_id long, s "
        + ("long" if fixed_point else "double"),
    )
    if fixed_point:
        key = F.col("s")
        sim = F.round(F.col("s").cast("double") / F.lit(_VAM_FP), 6)
    else:
        key = sim = F.round(F.col("s"), 6)
    w = Window.partitionBy("query_vec_id").orderBy(key.desc(), F.col("vec_id"))
    labels = embeddings.filter(
        _in_pred("vec_id", {v for _, v, _ in rows})
    ).select("vec_id", "label")
    return (
        out.coalesce(1)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .join(F.broadcast(labels), "vec_id")
        .select("query_vec_id", "vec_id", "label", sim.alias("cosine_sim"))
    )


# --- exact-rerank ANN: candidate stages + one ranker ---------------------------

#: the deterministic sampled IVF codebook: stored vectors 0..7 act as centroids
IVF_CODEBOOK = (0, 1, 2, 3, 4, 5, 6, 7)


def _vectors(embeddings: DataFrame) -> DataFrame:
    """``(vec_id, label, __v)``: the float vectors a candidate row carries."""
    return embeddings.select(
        "vec_id", "label", as_double(F.col("embedding")).alias("__v")
    )


def query_vectors(embeddings: DataFrame, qids) -> DataFrame:
    """``(qid, __qv)``: the query vectors, read through ONE definition so
    the probe stages and the ranker share a subtree (Spark reuses its
    broadcast instead of scanning the queries twice)."""
    return embeddings.filter(_in_pred("vec_id", qids)).select(
        F.col("vec_id").alias("qid"), as_double(F.col("embedding")).alias("__qv")
    )


def _top_k(df: DataFrame, key: str, n_keys: int, order, k: int) -> DataFrame:
    """Each ``key`` group's first ``k`` rows of ``df`` by ``order``, in the
    shape the group count calls for: one group ends in
    ``orderBy(...).limit(k)``, a zero-shuffle TakeOrderedAndProject (the
    partial top-k merge ships k rows per partition); more groups rank with
    one ``row_number`` window partitioned by ``key``."""
    from pyspark.sql import Window

    if n_keys == 1:
        return df.orderBy(*order).limit(k)
    w = Window.partitionBy(key).orderBy(*order)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def rank_candidates(
    cand: DataFrame,
    embeddings: DataFrame,
    qids,
    k: int,
    score=cosine,
    score_col: str = "cosine_sim",
) -> DataFrame:
    """The one exact rerank of every brute-force, IVF, LSH and MIPS
    route: ``cand`` rows ``(qid, vec_id, label, __v)`` join the broadcast
    query vectors (:func:`query_vectors`) — unless the candidate stage
    already broadcast the query rows and carried their ``__qv`` along —
    score by ``score`` (``cosine`` or ``dot``) rounded to 6 places, and
    keep each query's top ``k`` by (score desc, vec_id): a
    TakeOrderedAndProject for one query, a per-qid window for a batch
    (:func:`_top_k`). Returns ``(query_vec_id, vec_id, label,
    <score_col>)``."""
    qids = sorted({int(q) for q in qids})
    if "__qv" not in cand.columns:
        cand = cand.join(F.broadcast(query_vectors(embeddings, qids)), "qid")
    scored = cand.select(
        F.col("qid").alias("query_vec_id"),
        "vec_id",
        "label",
        F.round(score(F.col("__v"), F.col("__qv")), 6).alias(score_col),
    )
    order = [F.col(score_col).desc(), F.col("vec_id")]
    return _top_k(scored, "query_vec_id", len(qids), order, k)


def with_vectors(embeddings: DataFrame, ids: DataFrame) -> DataFrame:
    """Candidate rows for ``ids`` (``vec_id`` plus its ``qid``): the ids
    join the vector table once, so stages whose index stores no vectors
    (bucket indexes, compressed shortlists) hand the ranker the same row
    shape."""
    return _vectors(embeddings).join(ids, "vec_id")


def exact_candidates(embeddings: DataFrame, qids) -> DataFrame:
    """Brute-force candidate stage: every vector except the query, for
    each query — one narrow pass against the broadcast query rows, which
    ride along as ``__qv``."""
    return (
        _vectors(embeddings)
        .crossJoin(F.broadcast(query_vectors(embeddings, qids)))
        .filter(F.col("vec_id") != F.col("qid"))
    )


def knn_join_exact(embeddings: DataFrame, query_ids, k: int) -> DataFrame:
    """Exact top-``k`` cosine neighbors of every query in ``query_ids``.
    At 100 TB this is a full scan but, for one query, no shuffle at all
    — the right baseline, and often the right answer when k is small and
    the scan is already needed."""
    cand = exact_candidates(embeddings, query_ids)
    return rank_candidates(cand, embeddings, query_ids, k)


def centroid_table(
    source: DataFrame, codebook_ids: tuple[int, ...] = IVF_CODEBOOK
) -> DataFrame:
    """The broadcastable IVF codebook ``(centroid_id, cvec)`` extracted
    from stored vectors — one definition for build, serve, append and
    batch paths, so index build and index serve can never disagree on
    the codebook."""
    return source.filter(F.col("vec_id").isin(list(codebook_ids))).select(
        F.col("vec_id").alias("centroid_id"),
        as_double(F.col("embedding")).alias("cvec"),
    )


def ivf_assignments(embeddings: DataFrame, cents: DataFrame) -> DataFrame:
    """IVF coarse quantization shared by every IVF path: ``(vec_id,
    label, vec, centroid_id)``, every vector assigned to its nearest
    centroid of the broadcast codebook ``cents`` (argmax cosine,
    centroid-id tie-break). The codebook broadcasts, so assignment
    reads the table once — the inverted lists are then just a
    centroid_id column to partition by."""
    from pyspark.sql import Window

    aw = Window.partitionBy("vec_id").orderBy(
        F.col("__sim").desc(), F.col("centroid_id")
    )
    return (
        embeddings.select(
            "vec_id", "label", as_double(F.col("embedding")).alias("vec")
        )
        .crossJoin(F.broadcast(cents))
        .withColumn("__sim", cosine(F.col("vec"), F.col("cvec")))
        .withColumn("__rk", F.row_number().over(aw))
        .filter(F.col("__rk") == 1)
        .select("vec_id", "label", "vec", "centroid_id")
    )


def probe_centroids_batch(
    cents: DataFrame, embeddings: DataFrame, qids, n_probe: int
) -> DataFrame:
    """The one IVF probe: rank the broadcast codebook ``cents`` (the same
    broadcast inline assignment reads) against every query vector
    (:func:`query_vectors`) and keep each query's ``n_probe`` nearest
    lists (centroid-id tie-break), returning ``(qid, centroid_id, __qv)``
    probe rows — the query vector rides along for the rerank. The
    codebook and the query set are both small, so the whole probe stage
    is broadcast-local; one query's probe is a TakeOrderedAndProject, a
    batch's a per-qid window (:func:`_top_k`)."""
    qids = sorted({int(q) for q in qids})
    scored = (
        query_vectors(embeddings, qids)
        .crossJoin(F.broadcast(cents))
        .withColumn("__qsim", cosine(F.col("cvec"), F.col("__qv")))
    )
    order = [F.col("__qsim").desc(), F.col("centroid_id")]
    return _top_k(scored, "qid", len(qids), order, n_probe).select(
        "qid", "centroid_id", "__qv"
    )


def ivf_candidates(
    embeddings: DataFrame,
    cents: DataFrame,
    qids,
    n_probe: int,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF candidate stage: the members of each query's ``n_probe``
    probed inverted lists, query excluded — lists assigned inline against
    ``cents``, or read from the at-rest ``index`` (:func:`ivf_write_index`),
    whose join on the partition column lets dynamic partition pruning
    skip every non-probed list at the file level. Composable with any
    precision stage: exact cosine (:func:`knn_join_ivf`) or compressed
    ADC (IVF+PQ, :func:`operators.clustering.pq_topk`)."""
    probes = probe_centroids_batch(cents, embeddings, qids, n_probe)
    lists = ivf_assignments(embeddings, cents) if index is None else index
    cand = (
        lists.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "label", F.col("vec").alias("__v"), "__qv")
    )
    # identity on a clean index; makes a crash-retried incremental append
    # (duplicate rows, see ivf_append_index) result-invisible
    return cand if index is None else cand.dropDuplicates(["qid", "vec_id"])


def knn_join_ivf(
    embeddings: DataFrame,
    query_ids,
    k: int,
    n_probe: int = 2,
    cents: DataFrame | None = None,
    index: DataFrame | None = None,
) -> DataFrame:
    """IVF approximate top-``k`` for every query in ``query_ids``: rank
    the codebook ``cents`` (default: the sampled :data:`IVF_CODEBOOK`;
    or k-means output, :func:`operators.clustering.kmeans_centroids`)
    against each query, exact-search only its ``n_probe`` nearest
    inverted lists — inline, or served from the at-rest ``index``. With
    |codebook| lists the scan shrinks by roughly n_probe/|codebook|, the
    standard recall/cost dial; a batch probes every list in ONE
    equi-join on ``centroid_id``, never queries x corpus."""
    if cents is None:
        cents = centroid_table(embeddings)
    cand = ivf_candidates(embeddings, cents, query_ids, n_probe, index)
    return rank_candidates(cand, embeddings, query_ids, k)


def ivf_write_index(
    embeddings: DataFrame, path: str, codebook_ids: tuple[int, ...]
) -> None:
    """Materialize the IVF inverted lists AT REST: every vector written
    under ``path`` hive-partitioned by its ``centroid_id``. This is the
    100 TB posture for ANN — the index is built once (here coarse
    quantization; at real scale offline k-means), and a query touches only
    ``n_probe`` of the |codebook| partition directories, skipping the rest
    of the files entirely."""
    assigned = ivf_assignments(embeddings, centroid_table(embeddings, codebook_ids))
    assigned.write.mode("overwrite").partitionBy("centroid_id").parquet(path)


def ivf_append_index(
    new_embeddings: DataFrame,
    codebook_source: DataFrame,
    path: str,
    codebook_ids: tuple[int, ...],
) -> None:
    """Incremental IVF maintenance: assign ONLY the new vectors against
    the FIXED stored codebook (``codebook_source`` is any table holding
    the codebook vectors — the base corpus or a stored centroids table;
    serving systems never retrain between periodic rebuilds) and append
    their rows into the existing ``centroid_id`` partitions. Because the
    codebook is fixed, appended rows are bit-identical to a from-scratch
    rebuild over the union — test-asserted. Same at-least-once append
    seam as :func:`lsh_append_index`; the indexed reader de-duplicates
    candidate ids, so a crash-retry re-append cannot change served
    results."""
    cents = centroid_table(codebook_source, codebook_ids)
    ivf_assignments(new_embeddings, cents).write.mode("append").partitionBy(
        "centroid_id"
    ).parquet(path)


def _hyperplane(plane: int, dim: int) -> F.Column:
    """Deterministic pseudo-random hyperplane: component j of plane p is
    frac(sin(p*dim + j + 1) * 43758.5453) - 0.5 — identical IEEE doubles in
    any engine with sin(), so LSH bucketing is oracle-reproducible.

    The components are evaluated HERE, once, at plan-build time, and
    emitted as an array literal: inlining the sin() expression tree instead
    makes every ROW recompute dim sins per plane (4096 per row for a
    16-table index — measured 4.8 s → 1.3 s at sf0.1 for the multitable
    query when folded). Python's sin is the same C libm call DuckDB makes,
    and its bit-parity with the JVM's on this integer input family is
    exactly what two rounds of green LSH oracles already rest on."""
    import math

    vals = []
    for j in range(plane * dim + 1, plane * dim + dim + 1):
        s = math.sin(float(j)) * 43758.5453
        vals.append(s - math.floor(s) - 0.5)
    return F.lit(vals)


def lsh_bucket(vec: F.Column, num_planes: int, dim: int) -> F.Column:
    """Concatenated sign bits of projections onto the deterministic planes."""
    bits = [
        F.when(
            F.aggregate(
                F.zip_with(vec, _hyperplane(p, dim), lambda x, h: x * h),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            > 0,
            F.lit("1"),
        ).otherwise(F.lit("0"))
        for p in range(num_planes)
    ]
    return F.concat(*bits)


def _multitable_buckets(
    embeddings: DataFrame, num_tables: int, num_planes: int, dim: int
) -> DataFrame:
    """Narrow (vec_id, table_idx, bucket) rows for every vector — the
    codegen'd comp→proj→buck pipeline shared by the inline multitable
    query and the at-rest index builder."""
    import math

    spark = embeddings.sparkSession
    plane_rows = []
    for p in range(num_tables * num_planes):
        for idx in range(dim):
            g = p * dim + idx + 1
            s = math.sin(float(g)) * 43758.5453
            plane_rows.append((p, idx + 1, s - math.floor(s) - 0.5))
    planes = local_frame(spark, plane_rows, "p int, j int, h double")
    comp = embeddings.select(
        "vec_id", F.posexplode(as_double(F.col("embedding"))).alias("j0", "x")
    ).select("vec_id", (F.col("j0") + 1).alias("j"), "x")
    proj = (
        comp.join(F.broadcast(planes), "j")
        .groupBy("vec_id", "p")
        .agg(F.sum(F.col("x") * F.col("h")).alias("s"))
    )
    return (
        proj.groupBy(
            "vec_id",
            F.floor(F.col("p") / num_planes).cast("int").alias("table_idx"),
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                "p",
                                F.when(F.col("s") > 0, F.lit("1"))
                                .otherwise(F.lit("0"))
                                .alias("bit"),
                            )
                        )
                    ),
                    lambda st: st["bit"],
                ),
                "",
            ).alias("bucket")
        )
    )


def _single_table_buckets(
    embeddings: DataFrame, num_planes: int, dim: int
) -> DataFrame:
    """``(vec_id, label, __v, table_idx, bucket)`` for one hash table: the
    bucket is a narrow per-row fold (:func:`lsh_bucket`), so the rows
    carry their vectors and the probe join needs no shuffle."""
    return _vectors(embeddings).select(
        "vec_id",
        "label",
        "__v",
        F.lit(0).alias("table_idx"),
        lsh_bucket(F.col("__v"), num_planes, dim).alias("bucket"),
    )


def query_buckets(
    buckets: DataFrame,
    qids,
    prefix: str = "",
    max_flips: int = 0,
    num_planes: int = 0,
) -> DataFrame:
    """``(qid, table_idx, bucket[, __qv])`` probe rows — the one
    query-side bucket build of every LSH route. ``buckets`` holds ``(vec_id, table_idx,
    bucket)`` rows covering the queries (the corpus bucket frame, or any
    frame hashed like it: the filter on the query ids is pushed to the
    scan). ``prefix`` mirrors the stored partition value of an at-rest
    index (:func:`lsh_write_index` writes ``"b" + bucket``). With
    ``max_flips`` a query also probes every bucket within that many sign
    flips of its own (multi-probe), one row per probed bucket, so the
    probe stays ONE equi-join rather than a Hamming-predicate
    nested-loop join."""
    from itertools import combinations

    bucket = F.concat(F.lit(prefix), F.col("bucket"))
    if max_flips:
        bit = [F.substring("bucket", i + 1, 1) for i in range(num_planes)]
        flip = [F.translate(b, "01", "10") for b in bit]
        flips = [
            F.concat(
                F.lit(prefix),
                *[flip[i] if i in s else bit[i] for i in range(num_planes)],
            )
            for n in range(max_flips + 1)
            for s in combinations(range(num_planes), n)
        ]
        bucket = F.explode(F.array(*flips))
    # a bucket frame that carries vectors hands the query's along
    # (``__qv``), so the ranker needs no second broadcast of the query rows
    qv = [F.col("__v").alias("__qv")] if "__v" in buckets.columns else []
    return buckets.filter(_in_pred("vec_id", qids)).select(
        F.col("vec_id").alias("qid"), "table_idx", bucket.alias("bucket"), *qv
    )


def lsh_candidates(
    buckets: DataFrame, qb: DataFrame, embeddings: DataFrame | None = None
) -> DataFrame:
    """The one LSH probe: corpus ``buckets`` rows sharing a ``(table_idx,
    bucket)`` with a query's probe rows ``qb`` (:func:`query_buckets`),
    in ONE broadcast equi-join — the MinHash band-join shape, never
    all-pairs; on an at-rest index the join keys are its partition
    columns, so dynamic partition pruning opens only the probed bucket
    directories. Rows that carry ``(label, __v)`` (one table, one bucket
    per vector) are candidates as they stand, the query's ``__qv`` riding
    the probe row; otherwise the distinct
    ``(qid, vec_id)`` pairs — a vector can share several tables'
    buckets, and a crash-retried append can store a row twice — join
    the vectors of ``embeddings`` once (:func:`with_vectors`)."""
    hits = buckets.join(F.broadcast(qb), ["table_idx", "bucket"]).filter(
        F.col("vec_id") != F.col("qid")
    )
    if embeddings is None:
        return hits.drop("table_idx", "bucket")
    return with_vectors(embeddings, hits.select("qid", "vec_id").dropDuplicates())


def knn_join_lsh(
    embeddings: DataFrame,
    query_ids,
    k: int,
    num_planes: int = 4,
    dim: int = 64,
    max_flips: int = 0,
) -> DataFrame:
    """Single-table sign-random-projection LSH top-``k`` for every query:
    exact cosine only over vectors sharing the query's bucket. With
    2^num_planes buckets the candidate set shrinks geometrically; recall
    is tuned by num_planes. ``max_flips`` > 0 is multi-probe LSH (Lv et
    al., "Multi-probe LSH", VLDB'07): the same one table, but each query
    also probes every bucket within ``max_flips`` sign flips of its own
    — the memory-lean alternative to more tables
    (:func:`knn_join_lsh_multitable`)."""
    flat = _single_table_buckets(embeddings, num_planes, dim)
    qb = query_buckets(flat, query_ids, max_flips=max_flips, num_planes=num_planes)
    return rank_candidates(lsh_candidates(flat, qb), embeddings, query_ids, k)


def knn_join_lsh_multitable(
    embeddings: DataFrame,
    query_ids,
    k: int,
    num_tables: int = 16,
    num_planes: int = 4,
    dim: int = 64,
    index: DataFrame | None = None,
    predicate=None,
) -> DataFrame:
    """OR-amplified LSH top-``k`` for every query: ``num_tables``
    independent hash tables (table t uses the deterministic planes
    ``t*num_planes .. (t+1)*num_planes-1``), candidates = vectors sharing
    the query's bucket in ANY table, then exact cosine over the distinct
    union. Per-table neighbor capture q becomes ``1-(1-q)^L`` at the cost
    of a ~L/2^planes-of-corpus candidate scan.

    Inline, the corpus buckets come from the codegen'd comp→proj→buck
    pipeline (:func:`_multitable_buckets`); with ``index`` (the at-rest
    :func:`lsh_write_index` layout) only the queries are hashed and the
    probe prunes the index's bucket directories — the L*planes
    projection passes happened once, at build. ``predicate`` (any Column
    over ``vec_id``/``label``) is FILTERED vector search: it is applied
    in the candidate stage (pre-filter), so the ranking covers only
    qualifying vectors and surfaces k survivors whenever they exist,
    where post-filtering a fixed shortlist loses recall."""
    hashed = _multitable_buckets(embeddings, num_tables, num_planes, dim)
    qb = query_buckets(hashed, query_ids, prefix="" if index is None else "b")
    cand = lsh_candidates(hashed if index is None else index, qb, embeddings)
    if predicate is not None:
        cand = cand.filter(predicate)
    return rank_candidates(cand, embeddings, query_ids, k)


def lsh_write_index(
    embeddings: DataFrame,
    path: str,
    num_tables: int = 16,
    num_planes: int = 4,
    dim: int = 64,
) -> None:
    """Materialize the multitable LSH bucket index AT REST: every
    (vec_id, table_idx, bucket) row written hive-partitioned by
    (table_idx, bucket) — num_tables * 2^num_planes directories. A query
    computes its own ``num_tables`` bucket ids (tiny) and joins them into
    the partition columns, so dynamic partition pruning opens exactly
    num_tables of the directories and never reads the rest — the same
    at-rest posture as :func:`ivf_write_index`, completing the LSH family
    (the L*planes projection passes happen ONCE here, not per query).

    The stored partition value is ``"b" + bucket``: hive partition-column
    type inference would read a pure-digit bit-string ("0101") back as an
    integer with leading zeros dropped, leaving the bucket join to rely on
    implicit string==int casts. The non-digit prefix pins the partition
    column to string under any inference config or bucket alphabet."""
    _multitable_buckets(embeddings, num_tables, num_planes, dim).withColumn(
        "bucket", F.concat(F.lit("b"), F.col("bucket"))
    ).write.mode("overwrite").partitionBy("table_idx", "bucket").parquet(path)


def lsh_append_index(
    new_embeddings: DataFrame,
    path: str,
    num_tables: int = 16,
    num_planes: int = 4,
    dim: int = 64,
) -> None:
    """Incremental maintenance of the at-rest LSH index: bucket rows for
    ONLY the new vectors, appended into the existing hive partitions — the
    corpus grows without ever rebuilding the index (the projection pass is
    linear in the delta, not the corpus). The plane matrix is a pure
    function of (table, plane, dim), so appended rows are bit-identical to
    what a from-scratch rebuild over the union would produce — asserted in
    tests, not assumed.

    Crash/retry model (plain parquet): Spark stages part files under
    ``_temporary`` and moves them at job commit, so a crash mid-job leaves
    no visible partial rows; a crash DURING commit can leave a subset of
    the delta visible. The retry simply re-appends: duplicate (vec_id,
    table_idx, bucket) rows are harmless to serving because the probe
    de-duplicates candidate ids before ranking (:func:`lsh_candidates`)
    — append is semantically idempotent, also test-asserted. On a transactional
    table format the append becomes one atomic commit."""
    _multitable_buckets(new_embeddings, num_tables, num_planes, dim).withColumn(
        "bucket", F.concat(F.lit("b"), F.col("bucket"))
    ).write.mode("append").partitionBy("table_idx", "bucket").parquet(path)


# --- single-layer NSW graph ANN ----------------------------------------------

#: NSW graph parameters, shared by build, serve, and the oracle text:
#: candidate edges from 4 LSH tables, top-M=16 neighbors kept per node,
#: beam width 16, 8 expansion rounds, coarse seed every 50th vec_id.
#: Chosen by measured recall@20 sweep (tests/test_vector.py pins the
#: floors): M=8/beam=8/rounds=3 gave 0.15; this setting gives 1.0 at
#: sf0.01 and 0.95 at sf0.1.
NSW_TABLES, NSW_PLANES, NSW_M = 4, 4, 16
NSW_BEAM, NSW_ROUNDS, NSW_SEED_STEP = 16, 8, 50


def _scored_candidates(
    embeddings: DataFrame,
    buck: DataFrame,
    probe: DataFrame | None = None,
    score=cosine,
    name: str = "cos",
) -> DataFrame:
    """Exactly scored LSH candidate edges (src, dst, <name>), shared by
    the NSW, HNSW and Vamana builds and the NSW append: every ordered
    pair of distinct vectors sharing a (table_idx, bucket) row of
    ``buck`` — bucket-bounded per node, never all-pairs. With ``probe``
    (a delta's bucket rows) only the pairs touching a probe vector, in
    both directions: the append's candidate set. ``score`` is the
    engine's pair score (:func:`cosine`, or Vamana's fixed-point
    :func:`_cos_fp`) over the vectors of ``embeddings``."""
    pairs = (
        buck.alias("a")
        .join(
            (buck if probe is None else probe).alias("b"),
            (F.col("a.table_idx") == F.col("b.table_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst"))
    )
    if probe is not None:
        pairs = pairs.unionByName(
            pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
    vecs = embeddings.select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    return (
        pairs.dropDuplicates(["src", "dst"])
        .join(vecs.withColumnRenamed("vec_id", "src"), "src")
        .join(
            vecs.select(F.col("vec_id").alias("dst"), F.col("v").alias("vb")),
            "dst",
        )
        .select("src", "dst", score(F.col("v"), F.col("vb")).alias(name))
    )


def nsw_build_graph(
    embeddings: DataFrame,
    num_tables: int = NSW_TABLES,
    num_planes: int = NSW_PLANES,
    m: int = NSW_M,
    dim: int = 64,
) -> DataFrame:
    """Build the navigable-small-world neighbor graph WITHOUT an all-pairs
    scan: candidate edges are pairs sharing any of ``num_tables`` LSH
    buckets (the multitable machinery), and each node keeps its top-``m``
    candidates by exact cosine (window over per-src candidate groups —
    bucket-bounded, never corpus-bounded). Returns directed
    (src, dst, cos) adjacency. Deterministic end to end (sin-hyperplane
    buckets, cosine + vec_id tie-break), so the DuckDB oracle can
    recompute the graph exactly."""
    from pyspark.sql import Window

    buck = _multitable_buckets(embeddings, num_tables, num_planes, dim)
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst"))
    return (
        _scored_candidates(embeddings, buck)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= m)
        .select("src", "dst", "cos")
    )


def nsw_write_index(embeddings: DataFrame, path: str, **kw) -> None:
    """Materialize the NSW adjacency AT REST (same posture as
    :func:`ivf_write_index` / :func:`lsh_write_index`): the LSH passes and
    the per-node top-M selection happen ONCE here; serving reads only the
    frontier's adjacency rows (min/max row-group pruning on the sorted
    src column), never recomputing the graph. A BUCKET SIDECAR
    (``path + "_buckets"``) stores the per-node LSH rows so
    :func:`nsw_append_index` can fold deltas in without re-hashing the
    corpus. Commit order (torn-artifact rule — readers require _SUCCESS
    in all parts): invalidate any existing primary marker, commit the
    sidecar, commit the adjacency LAST."""
    import os

    nt = kw.get("num_tables", NSW_TABLES)
    np_ = kw.get("num_planes", NSW_PLANES)
    dim = kw.get("dim", 64)
    stale_marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(stale_marker):
        os.remove(stale_marker)
    _multitable_buckets(embeddings, nt, np_, dim).write.mode(
        "overwrite"
    ).parquet(path + "_buckets")
    nsw_build_graph(embeddings, **kw).sortWithinPartitions("src").write.mode(
        "overwrite"
    ).parquet(path)


def nsw_topk_batch(
    embeddings: DataFrame,
    adjacency: DataFrame,
    query_ids: list[int],
    k: int = 20,
    beam: int = NSW_BEAM,
    rounds: int = NSW_ROUNDS,
    seed_step: int = NSW_SEED_STEP,
) -> DataFrame:
    """Single-layer NSW/HNSW-style bounded beam search over the at-rest
    neighbor graph, for every query in ``query_ids`` (one id for a
    single query): score a fixed coarse seed set (every ``seed_step``-th
    vec_id — the one-level stand-in for HNSW's upper layers), then for
    ``rounds`` iterations expand the top-``beam`` not-yet-expanded
    visited nodes through the adjacency and score the newly reached
    nodes; exact cosine over the visited set serves the top-``k``
    (:func:`_graph_topk`). Per query ≤ seeds + rounds*beam*M scored ids,
    never corpus-bounded. This point-lookup shape is the right one for
    driver-bounded batches (tens of queries); a mass knn join
    (thousands+) belongs on the at-rest indexed routes (DPP probes),
    which stay corpus-shaped. Deterministic (cos desc, vec_id ties), so
    the DuckDB oracle replays the identical unrolled trajectory."""
    return _graph_topk(
        embeddings, [adjacency], query_ids, seed_step, [(0, beam, rounds)], k
    )


def nsw_append_graph(
    adjacency: DataFrame,
    old_buckets: DataFrame,
    embeddings_all: DataFrame,
    new_embeddings: DataFrame,
    num_tables: int = NSW_TABLES,
    num_planes: int = NSW_PLANES,
    m: int = NSW_M,
    dim: int = 64,
) -> DataFrame:
    """Incremental NSW graph maintenance with an EXACTNESS THEOREM
    (round 8): append == rebuild, row for row. For an old node u, a
    rebuild keeps top-M over ALL its candidates; every candidate u's old
    top-M dropped was dominated by M better old candidates that are all
    still present, so top-M(old-top-M(u) UNION new-touching-candidates(u))
    equals top-M(all candidates(u)) — same cosines, same (cos desc, dst)
    tie-break, identical rows (test-asserted against a from-scratch
    rebuild, not assumed). Unlike the MIPS index, whose stored hashes
    embed a corpus norm bound, an NSW edge score depends only on its two
    endpoint vectors — appends never go stale and need no guard.

    Incrementality: ONLY the delta is hashed (``new_embeddings`` ->
    bucket rows); candidates come from delta buckets joined against the
    stored bucket sidecar; only AFFECTED srcs re-rank; every untouched
    adjacency row passes through verbatim. Cost is O(delta x bucket
    collisions), independent of corpus size."""
    from pyspark.sql import Window

    new_buck = _multitable_buckets(new_embeddings, num_tables, num_planes, dim)
    scored = _scored_candidates(
        embeddings_all, old_buckets.unionByName(new_buck), probe=new_buck
    )
    affected = scored.select("src").distinct()
    merged = (
        adjacency.join(affected, "src", "left_semi")
        .unionByName(scored)
        .dropDuplicates(["src", "dst"])
    )
    w = Window.partitionBy("src").orderBy(F.col("cos").desc(), F.col("dst"))
    reranked = (
        merged.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= m)
        .select("src", "dst", "cos")
    )
    return adjacency.join(affected, "src", "left_anti").unionByName(reranked)


def nsw_append_index(
    new_embeddings: DataFrame,
    embeddings_all: DataFrame,
    path: str,
    **kw,
) -> None:
    """At-rest NSW append: read the adjacency + bucket sidecar, fold the
    delta in via :func:`nsw_append_graph`, and republish. Both outputs
    are localCheckpoint-ed BEFORE any write (the computation reads the
    paths it rewrites). Commit order mirrors mips_lsh_write_index's
    torn-artifact rule (readers require _SUCCESS in all parts): the
    primary's marker is invalidated FIRST, the bucket sidecar commits
    (delta rows appended), the rewritten adjacency commits LAST — a
    crash anywhere in between leaves is_materialized false and forces a
    clean rebuild, never a silently-stale graph."""
    import os

    spark = new_embeddings.sparkSession
    adjacency = read_parquet(spark, path).localCheckpoint()
    old_buckets = read_parquet(spark, path + "_buckets")
    nt = kw.get("num_tables", NSW_TABLES)
    np_ = kw.get("num_planes", NSW_PLANES)
    dim = kw.get("dim", 64)
    new_buck = _multitable_buckets(
        new_embeddings, nt, np_, dim
    ).localCheckpoint()
    appended = nsw_append_graph(
        adjacency, old_buckets, embeddings_all, new_embeddings, **kw
    ).localCheckpoint()
    stale_marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(stale_marker):
        os.remove(stale_marker)
    new_buck.write.mode("append").parquet(path + "_buckets")
    appended.sortWithinPartitions("src").write.mode("overwrite").parquet(path)


# --- DiskANN-class (Vamana) on-disk graph index --------------------------------

#: Vamana parameters: candidate pool size, alpha-prune rounds (= max kept
#: out-edges before reverse merge), alpha as an exact integer ratio
#: (12/10 = 1.2), post-reverse-merge degree cap, and the serve budget.
VAMANA_C, VAMANA_PRUNE_ROUNDS = 24, 8
VAMANA_ALPHA_NUM, VAMANA_ALPHA_DEN = 12, 10
VAMANA_CAP, VAMANA_BEAM, VAMANA_ROUNDS = 12, 16, 8

#: 1e9 fixed point for every graph-build/serve DECISION (selection,
#: pruning, ordering): both engines floor the identical double cosine to
#: the identical integer, so no 1-ulp difference can flip a comparison.
_VAM_FP = 1_000_000_000.0


def _cos_fp(a, b):
    return F.floor(cosine(a, b) * F.lit(_VAM_FP)).cast("long")


def _alpha_prune(cand: DataFrame, pp: DataFrame) -> DataFrame:
    """The alpha-RobustPrune step (DiskANN Algorithm 2), shared by the
    full build and the FreshDiskANN-style insert: greedily keep the
    closest surviving candidate per src, discard everything it
    alpha-covers (``alpha*d(kept,c) <= d(p,c)``, evaluated exactly in
    integer fixed point), stop at ``VAMANA_PRUNE_ROUNDS`` kept edges.

    Implementation is a COGROUPED ``applyInPandas``: the per-src work is
    bounded (<= C candidates, C^2 pairwise rows), which is exactly the
    shape Spark's grouped-pandas path is for — ONE shuffle on src, then
    a local greedy per group. (A checkpointed relational-round version
    was trajectory-identical but paid a full Spark job per round — the
    greedy is inherently sequential per src, not per dataset.) The
    DuckDB oracle replays the SAME greedy as unrolled materialized CTE
    rounds; results are identical because the greedy is deterministic
    (rk order, exact integer cover test).

    ``cand`` is (src, dst, c_fp, rk); ``pp`` is (src, di, dj, cc_fp).
    Returns kept (src, dst, c_fp)."""
    import pandas as pd

    fp = int(_VAM_FP)
    a_num, a_den, max_kept = (
        VAMANA_ALPHA_NUM,
        VAMANA_ALPHA_DEN,
        VAMANA_PRUNE_ROUNDS,
    )

    def prune(left: "pd.DataFrame", right: "pd.DataFrame") -> "pd.DataFrame":
        if left.empty:
            return pd.DataFrame({"src": [], "dst": [], "c_fp": []}).astype(
                "int64"
            )
        src = int(left["src"].iloc[0])
        cc = {
            (int(di), int(dj)): int(c)
            for di, dj, c in zip(right["di"], right["dj"], right["cc_fp"])
        }
        # rk already encodes the (c_fp desc, dst asc) total order
        pending = sorted(
            zip(
                left["rk"].astype(int),
                left["dst"].astype(int),
                left["c_fp"].astype(int),
            )
        )
        kept = []
        surv = [(d, c) for _, d, c in pending]
        while surv and len(kept) < max_kept:
            wd, wc = surv.pop(0)
            kept.append((src, wd, wc))
            surv = [
                (d, c)
                for d, c in surv
                if not (a_num * (fp - cc[(wd, d)]) <= a_den * (fp - c))
            ]
        return pd.DataFrame(kept, columns=["src", "dst", "c_fp"])

    return (
        cand.groupBy("src")
        .cogroup(pp.groupBy("src"))
        .applyInPandas(prune, "src long, dst long, c_fp long")
    )


def vamana_build_graph(
    embeddings: DataFrame,
    num_tables: int = NSW_TABLES,
    num_planes: int = NSW_PLANES,
    dim: int = 64,
) -> DataFrame:
    """Vamana (DiskANN) graph construction, Spark-relational and
    deterministic — the three ingredients that distinguish it from the
    NSW top-M graph (nsw_build_graph keeps the M nearest candidates;
    Vamana's alpha-prune deliberately keeps a mix of short AND
    long-range edges, which is what makes single-entry greedy search
    converge from a medoid):

    1. **Candidate pool** — LSH-bucket pairs (never all-pairs), top-C per
       node by fixed-point cosine.
    2. **alpha-RobustPrune** (DiskANN Algorithm 2) as a cogrouped
       ``applyInPandas`` greedy (:func:`_alpha_prune`): keep the closest
       surviving candidate, discard every candidate it alpha-covers
       (``alpha * d(kept, c) <= d(p, c)`` — evaluated exactly in integer
       fixed point as ``12*(1e9 - cos_fp(kept,c)) <= 10*(1e9 -
       cos_fp(p,c))``), stop at R kept. Per-src work is bounded (C
       candidates, C^2 pairwise cosines from ONE self-join) — the
       grouped-pandas shape, one shuffle on src.
    3. **Reverse-edge merge + degree cap** — every kept edge is inserted
       in both directions (cosine is exactly symmetric), then capped to
       the top-``VAMANA_CAP`` per node.

    Work is bucket-bounded per node (C^2 prune pairs), one hash shuffle
    per stage — survives the 100x scale-up by construction. Returns
    directed (src, dst, c_fp) adjacency."""
    from pyspark.sql import Window

    buck = _multitable_buckets(embeddings, num_tables, num_planes, dim)
    vecs = embeddings.select("vec_id", as_double(F.col("embedding")).alias("v"))
    w = Window.partitionBy("src").orderBy(F.col("c_fp").desc(), F.col("dst"))
    cand = (
        _scored_candidates(embeddings, buck, score=_cos_fp, name="c_fp")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= VAMANA_C)
        .localCheckpoint()  # feeds the pairwise join AND every prune round
    )
    # bounded C^2-per-node pairwise cosines for the alpha-cover test
    pp = (
        cand.select("src", F.col("dst").alias("di"))
        .join(cand.select("src", F.col("dst").alias("dj")), "src")
        .filter(F.col("di") != F.col("dj"))
        .join(vecs.select(F.col("vec_id").alias("di"), F.col("v").alias("vi")), "di")
        .join(vecs.select(F.col("vec_id").alias("dj"), F.col("v").alias("vj")), "dj")
        .select("src", "di", "dj", _cos_fp(F.col("vi"), F.col("vj")).alias("cc_fp"))
        .localCheckpoint()
    )
    kept = _alpha_prune(cand, pp)
    rev = kept.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "c_fp"
    )
    merged = kept.union(rev).dropDuplicates(["src", "dst"])
    w_cap = Window.partitionBy("src").orderBy(F.col("c_fp").desc(), F.col("dst"))
    return (
        merged.withColumn("rk", F.row_number().over(w_cap))
        .filter(F.col("rk") <= VAMANA_CAP)
        .select("src", "dst", "c_fp")
    )


def vamana_medoid(embeddings: DataFrame) -> DataFrame:
    """The search entry point, DiskANN-style: the vector most similar to
    the corpus centroid. Exact-deterministic without a cross-row float
    sum: per-dimension centroid components are INTEGER sums of 1e-6
    fixed-point components (order-free), the per-vector score is the
    integer dot ``sum(x_fp * C_j)`` (DECIMAL(38,0) — exact at any corpus
    size) over the vector's own exact integer norm, one double division.
    One narrow pass + one 64-row broadcast; returns a single
    (medoid_id) row."""
    comp = embeddings.select(
        "vec_id",
        F.posexplode(as_double(F.col("embedding"))).alias("j", "x"),
    ).select(
        "vec_id", "j", F.floor(F.col("x") * F.lit(1e6)).cast("long").alias("x_fp")
    )
    cent = comp.groupBy("j").agg(F.sum("x_fp").cast("long").alias("cj"))
    d38 = "decimal(38,0)"
    scores = (
        comp.join(F.broadcast(cent), "j")
        .groupBy("vec_id")
        .agg(
            F.sum(F.col("x_fp").cast(d38) * F.col("cj").cast(d38))
            .cast(d38)
            .alias("m_num"),
            F.sum(F.col("x_fp").cast(d38) * F.col("x_fp").cast(d38))
            .cast(d38)
            .alias("n2_fp"),
        )
    )
    from pyspark.sql import Window

    w = Window.orderBy(
        (
            F.col("m_num").cast("double")
            / F.sqrt(F.col("n2_fp").cast("double"))
        ).desc(),
        F.col("vec_id"),
    )
    return (
        scores.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(F.col("vec_id").alias("medoid_id"))
    )


def vamana_write_index(embeddings: DataFrame, path: str, **kw) -> None:
    """Materialize the Vamana graph AT REST (ivf/lsh/nsw_write_index
    posture): adjacency sorted by src for row-group pruning on the
    serve-side IN-list lookups, plus a one-row ``path + "_medoid"``
    sidecar holding the entry point. Commit order (torn-artifact rule):
    invalidate the primary marker, commit the sidecar, commit the
    adjacency LAST."""
    import os

    stale = os.path.join(path, "_SUCCESS")
    if os.path.exists(stale):
        os.remove(stale)
    vamana_medoid(embeddings).write.mode("overwrite").parquet(path + "_medoid")
    vamana_build_graph(embeddings, **kw).sortWithinPartitions(
        "src"
    ).write.mode("overwrite").parquet(path)


def vamana_topk_batch(
    embeddings: DataFrame,
    adjacency: DataFrame,
    medoid_id: int,
    query_ids: list[int],
    k: int = 5,
    beam: int = VAMANA_BEAM,
    rounds: int = VAMANA_ROUNDS,
) -> DataFrame:
    """DiskANN-style greedy beam search from the SINGLE medoid entry, for
    every query in ``query_ids`` (one id for a single query): where NSW
    seeds a coarse sample, Vamana's alpha-prune guarantees long-range
    edges make one entry point sufficient. Score the medoid (a query
    that IS the medoid starts empty), then for ``rounds`` iterations
    expand the top-``beam`` unexpanded visited nodes through the at-rest
    adjacency and score the newly reached nodes — every decision, and
    the ranking, on exact 1e9 fixed-point cosine (:func:`_graph_topk`).
    Per-query work stays O(rounds*beam*CAP) regardless of corpus
    size."""
    return _graph_topk(
        embeddings,
        [adjacency],
        query_ids,
        {q: [medoid_id] for q in query_ids},
        [(0, beam, rounds)],
        k,
        fixed_point=True,
    )


def vamana_insert_graph(
    embeddings: DataFrame,
    adjacency: DataFrame,
    medoid_id: int,
    new_ids: list[int],
    beam: int = VAMANA_BEAM,
    rounds: int = VAMANA_ROUNDS,
) -> DataFrame:
    """FreshDiskANN-style batch INSERT — the maintenance path that keeps
    a Vamana index serving while the corpus grows, without the full
    rebuild (DiskANN's graph depends on global candidate structure, so
    unlike the LSH/IVF/NSW families there is no append==rebuild theorem;
    the canonical maintenance algorithm is insert-by-search: FreshDiskANN,
    Singh et al. 2021):

    1. **Search**: one batched beam search (qid-keyed DataFrame rounds —
       an insert batch is input-sized, so it stays in Spark rather than
       the driver-cached :func:`_graph_topk`) finds each new vector's
       visited set over the EXISTING graph from the medoid — new nodes
       link only to pre-existing nodes, so a batch insert is
       order-independent and deterministic.
    2. **alpha-prune**: the visited set is each new node's candidate
       pool; the shared :func:`_alpha_prune` keeps its short+long-range
       out-edges.
    3. **Reverse-link + re-cap**: each kept edge is inserted in reverse
       into its target's list, and ONLY touched targets re-apply the
       degree cap (untouched adjacency rows pass through unchanged — at
       100 TB the re-cap shuffles just |touched| * CAP rows, not the
       graph).

    Returns the updated (src, dst, c_fp) adjacency. Serving quality after
    insert is floor-pinned in tests/test_wave7.py (held-out vectors are
    findable and recall holds); degree caps are re-asserted there too."""
    from pyspark.sql import Window

    vecs = embeddings.select("vec_id", as_double(F.col("embedding")).alias("v"))
    new_set = set(int(i) for i in new_ids)
    # 1. batched search over the OLD graph: visited sets per new id
    queries = F.broadcast(
        vecs.filter(F.col("vec_id").isin(list(new_set))).select(
            F.col("vec_id").alias("qid"), F.col("v").alias("qvec")
        )
    )
    visited = (
        vecs.filter(F.col("vec_id") == medoid_id)
        .crossJoin(queries)
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            _cos_fp(F.col("v"), F.col("qvec")).alias("c_fp"),
            F.lit(False).alias("expanded"),
        )
        .localCheckpoint()
    )
    w = Window.partitionBy("qid").orderBy(F.col("c_fp").desc(), "vec_id")
    old_adj = adjacency.filter(~F.col("src").isin(list(new_set)))
    for _ in range(rounds):
        frontier = (
            visited.filter(~F.col("expanded"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= beam)
            .select("qid", "vec_id")
        )
        reached = (
            frontier.withColumnRenamed("vec_id", "src")
            .join(old_adj.select("src", "dst"), "src")
            .select("qid", F.col("dst").alias("vec_id"))
            .filter(F.col("vec_id") != F.col("qid"))
            .filter(~F.col("vec_id").isin(list(new_set)))
            .distinct()
            .join(visited.select("qid", "vec_id"), ["qid", "vec_id"], "left_anti")
        )
        new_scored = (
            reached.join(vecs.select("vec_id", "v"), "vec_id")
            .join(queries, "qid")
            .select(
                "qid",
                "vec_id",
                _cos_fp(F.col("v"), F.col("qvec")).alias("c_fp"),
                F.lit(False).alias("expanded"),
            )
        )
        visited = (
            visited.join(
                frontier.withColumn("_f", F.lit(True)), ["qid", "vec_id"], "left"
            )
            .select(
                "qid",
                "vec_id",
                "c_fp",
                (F.col("expanded") | F.coalesce(F.col("_f"), F.lit(False))).alias(
                    "expanded"
                ),
            )
            .unionByName(new_scored)
            .localCheckpoint()
        )
    # 2. candidate pool = visited top-C per new node; shared alpha-prune
    cand = (
        visited.select(
            F.col("qid").alias("src"), F.col("vec_id").alias("dst"), "c_fp"
        )
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("src").orderBy(F.col("c_fp").desc(), "dst")
            ),
        )
        .filter(F.col("rk") <= VAMANA_C)
        .localCheckpoint()
    )
    pp = (
        cand.select("src", F.col("dst").alias("di"))
        .join(cand.select("src", F.col("dst").alias("dj")), "src")
        .filter(F.col("di") != F.col("dj"))
        .join(vecs.select(F.col("vec_id").alias("di"), F.col("v").alias("vi")), "di")
        .join(vecs.select(F.col("vec_id").alias("dj"), F.col("v").alias("vj")), "dj")
        .select("src", "di", "dj", _cos_fp(F.col("vi"), F.col("vj")).alias("cc_fp"))
        .localCheckpoint()
    )
    kept = _alpha_prune(cand, pp).localCheckpoint()  # new-node out-edges
    # 3. reverse-link into touched targets only, re-cap those lists
    rev = kept.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "c_fp"
    )
    touched = rev.select("src").distinct()
    touched_recapped = (
        old_adj.join(touched, "src")
        .unionByName(rev)
        .dropDuplicates(["src", "dst"])
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("src").orderBy(F.col("c_fp").desc(), "dst")
            ),
        )
        .filter(F.col("rk") <= VAMANA_CAP)
        .select("src", "dst", "c_fp")
    )
    untouched = old_adj.join(touched, "src", "left_anti").select(
        "src", "dst", "c_fp"
    )
    return untouched.unionByName(touched_recapped).unionByName(
        kept.select("src", "dst", "c_fp")
    )


# --- multi-layer HNSW ----------------------------------------------------------
#
# The hierarchy the single-layer NSW route stood in for:
# nodes get geometric levels (p = 1/4 per step), every layer l holds the
# LSH-bucketed top-M neighbor graph over the nodes with level >= l, and a
# query greedily descends from a deterministic top-layer entry point — the
# log-diameter routing that replaces NSW's fixed coarse seed scan (the
# "every 50th vec_id" layer-0 workaround) and is what keeps entry routing
# cheap at 1e9 vectors. Public knowledge: Malkov & Yashunin, "Efficient and
# robust approximate nearest neighbor search using Hierarchical Navigable
# Small World graphs" (arXiv:1603.09320). The reference repo has no vector
# surface; this extends SURVEY.md §2.9.

HNSW_MAX_LEVEL = 2
HNSW_M_UPPER = 8
HNSW_UPPER_BEAM, HNSW_UPPER_ROUNDS = 4, 2


def suggested_max_level(n: int) -> int:
    """log4 level-cap sizing so the TOP layer stays O(1) — the hierarchy
    invariant single-entry descent depends on. The round-12 scale check
    measured the cost of violating it: at 20k vectors a cap of 2 leaves
    a ~1000-node "top" layer and recall@20 collapses to 0.0; the same
    corpus at cap 7 (top layer 6 nodes) serves recall 0.95 with the SAME
    per-layer budgets. Returns the smallest L with n/4^L <= 8 (floor 2).
    The oracle-paired queries pin cap 2 — right-sized for their 500-row
    corpora AND required for a statically-unrolled oracle; larger
    corpora pass this cap explicitly (tests pin the recall floor)."""
    level = 0
    while n > 8 * (4 ** level):
        level += 1
    return max(level, 2)


def hnsw_levels(
    embeddings: DataFrame, max_level: int = HNSW_MAX_LEVEL
) -> DataFrame:
    """(vec_id, level): deterministic geometric level assignment. The
    standard HNSW draw is floor(-ln(u) * mL) with mL = 1/ln(4); reading
    the uniform as md5 hex digits makes it exact and cross-engine —
    level = length of the maximal prefix of md5(vec_id-as-string) whose
    chars are all in '0'..'3' (P(level >= l) = 4^-l), capped at
    ``max_level``. Pure string ops, so the DuckDB oracle recomputes the
    identical assignment."""
    h = F.md5(F.col("vec_id").cast("string"))
    level = F.lit(0)
    running = F.lit(True)
    for i in range(1, max_level + 1):
        running = running & F.substring(h, i, 1).isin("0", "1", "2", "3")
        level = level + F.when(running, F.lit(1)).otherwise(F.lit(0))
    return embeddings.select("vec_id", level.cast("int").alias("level"))


def hnsw_build_graph(
    embeddings: DataFrame,
    max_level: int = HNSW_MAX_LEVEL,
    m_upper: int = HNSW_M_UPPER,
    m0: int = NSW_M,
    num_tables: int = NSW_TABLES,
    num_planes: int = NSW_PLANES,
    dim: int = 64,
) -> DataFrame:
    """Per-layer adjacency (layer, src, dst, cos): layer l is the NSW
    graph (LSH-bucketed candidates, per-src top-M by cosine — never
    all-pairs) over the nodes with level >= l; layer 0 keeps M=16, upper
    layers M=8 (the standard M vs 2M split). ONE bucket pass, ONE pair
    self-join, ONE cosine scoring for the whole hierarchy: buckets are
    per-vector (level-independent) and layer l's candidate pairs are
    exactly the layer-0 pairs whose endpoints both reach l, so each
    scored pair explodes to layers 0..min(level(src), level(dst)) and a
    single (layer, src) window takes the per-layer top-M — the identical
    shape the DuckDB oracle materializes (cand -> adj). Equivalent row
    for row to building each layer's NSW graph over its subset, at a
    third of the build cost (pinned by the append==rebuild test, which
    compares against per-layer nsw_append_graph folds)."""
    from pyspark.sql import Window

    lv = hnsw_levels(embeddings, max_level)
    buck = _multitable_buckets(embeddings, num_tables, num_planes, dim)
    leveled = (
        _scored_candidates(embeddings, buck)
        .join(
            lv.select(
                F.col("vec_id").alias("src"), F.col("level").alias("src_lv")
            ),
            "src",
        )
        .join(
            lv.select(
                F.col("vec_id").alias("dst"), F.col("level").alias("dst_lv")
            ),
            "dst",
        )
        .select(
            "src",
            "dst",
            "cos",
            F.explode(
                F.sequence(F.lit(0), F.least("src_lv", "dst_lv"))
            ).alias("layer"),
        )
    )
    w = Window.partitionBy("layer", "src").orderBy(
        F.col("cos").desc(), F.col("dst")
    )
    return (
        leveled.withColumn("rk", F.row_number().over(w))
        .filter(
            F.col("rk")
            <= F.when(F.col("layer") == 0, F.lit(m0)).otherwise(F.lit(m_upper))
        )
        .select("layer", "src", "dst", "cos")
    )


def hnsw_write_index(embeddings: DataFrame, path: str, **kw) -> None:
    """Materialize the layered adjacency AT REST (posture of
    :func:`nsw_write_index`): adjacency sorted by (layer, src) for
    row-group pruning, plus a ``path + "_levels"`` sidecar so serving
    finds the entry point without re-hashing and a ``path + "_buckets"``
    sidecar so :func:`hnsw_append_graph` can fold deltas in without
    re-hashing the corpus (buckets are level-independent — ONE sidecar
    serves every layer). Commit order (torn-artifact rule): invalidate
    the primary marker, commit the sidecars, commit the adjacency LAST."""
    import os

    max_level = kw.get("max_level", HNSW_MAX_LEVEL)
    nt = kw.get("num_tables", NSW_TABLES)
    np_ = kw.get("num_planes", NSW_PLANES)
    dim = kw.get("dim", 64)
    stale_marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(stale_marker):
        os.remove(stale_marker)
    hnsw_levels(embeddings, max_level).write.mode("overwrite").parquet(
        path + "_levels"
    )
    _multitable_buckets(embeddings, nt, np_, dim).write.mode(
        "overwrite"
    ).parquet(path + "_buckets")
    hnsw_build_graph(embeddings, **kw).sortWithinPartitions(
        "layer", "src"
    ).write.mode("overwrite").parquet(path)


def hnsw_topk_batch(
    embeddings: DataFrame,
    adjacency: DataFrame,
    levels: DataFrame,
    query_ids: list[int],
    k: int = 20,
    beam: int = NSW_BEAM,
    rounds: int = NSW_ROUNDS,
    max_level: int = HNSW_MAX_LEVEL,
    upper_beam: int = HNSW_UPPER_BEAM,
    upper_rounds: int = HNSW_UPPER_ROUNDS,
) -> DataFrame:
    """Hierarchical beam search for every query in ``query_ids`` (one id
    for a single query): score the query's deterministic entry point,
    run a small bounded search per upper layer (expanding only that
    layer's edges), then the full layer-0 search seeded by everything
    the descent scored (:func:`_graph_topk`). ONE visited set spans the
    descent — a node's cosine is layer-independent, so scores are never
    recomputed; the expanded mark resets per layer (a node expanded
    through layer-2 edges still owes its layer-0 neighborhood).

    Entry rule: with levels capped at ``max_level``, the highest level
    holding a node other than the query, and the MIN vec_id on it. It
    comes from ONE parameter-bounded collect (≤ max_level+1 rows, each
    ≤ len(query_ids) ids): per capped level the min non-query vec_id and
    the queries on it. A query entering below the batch's top layer
    expands no edges up there (its entry has none), so its trajectory is
    the one it has alone.

    Total scored per query ≤ 1 + max_level*upper_rounds*upper_beam*M_upper
    + rounds*beam*M0, independent of corpus size; vs NSW the corpus-sized
    seed scan is gone — that is the hierarchy's point. Deterministic end
    to end (cos desc, vec_id ties), so the DuckDB oracle replays the
    identical trajectory unrolled."""
    qids = sorted({int(q) for q in query_ids})
    is_q = _in_pred("vec_id", qids)
    stats = sorted(
        collect_bounded(
            levels.groupBy(F.least("level", F.lit(max_level)).alias("level")).agg(
                F.min(F.when(~is_q, F.col("vec_id"))).alias("mn"),
                F.collect_set(F.when(is_q, F.col("vec_id"))).alias("qs"),
            ),
            max_level + 1,
        ),
        key=lambda r: -r[0],
    )
    entry: dict[int, tuple[int, int]] = {}
    for q in qids:
        for level, mn, qs in stats:
            ids = [i for i in (mn, *qs) if i is not None and i != q]
            if ids:
                entry[q] = (level, min(ids))
                break
    top = max((lvl for lvl, _ in entry.values()), default=0)
    return _graph_topk(
        embeddings,
        [adjacency.filter(F.col("layer") == lvl) for lvl in range(top + 1)],
        qids,
        {q: [e] for q, (_, e) in entry.items()},
        # descent schedule: the small upper budget from the top layer
        # down to 1, then the full layer-0 search
        [(lvl, upper_beam, upper_rounds) for lvl in range(top, 0, -1)]
        + [(0, beam, rounds)],
        k,
    )


def hnsw_append_graph(
    adjacency: DataFrame,
    old_buckets: DataFrame,
    embeddings_all: DataFrame,
    new_embeddings: DataFrame,
    max_level: int = HNSW_MAX_LEVEL,
    m_upper: int = HNSW_M_UPPER,
    m0: int = NSW_M,
    num_tables: int = NSW_TABLES,
    num_planes: int = NSW_PLANES,
    dim: int = 64,
) -> DataFrame:
    """Incremental HNSW maintenance with the NSW exactness theorem applied
    PER LAYER: append == rebuild, row for row. Levels are a pure function
    of vec_id (md5 prefix), so an append never re-levels an existing node,
    and each layer's graph is exactly an NSW graph over its (grown)
    level>=l population — :func:`nsw_append_graph`'s dominance argument
    (a dropped old candidate was dominated by M still-present better
    candidates) holds layer by layer. Only the delta is hashed; per layer,
    only srcs touched by a delta bucket collision re-rank. Completes the
    maintenance story across the ANN families: NSW append (theorem),
    IVF/MIPS append (guarded), Vamana insert (search-based), HNSW append
    (per-layer theorem)."""
    lv_all = hnsw_levels(embeddings_all, max_level)
    lv_new = hnsw_levels(new_embeddings, max_level)
    out = None
    for layer in range(max_level + 1):
        keep_all = lv_all.filter(F.col("level") >= layer).select("vec_id")
        keep_new = lv_new.filter(F.col("level") >= layer).select("vec_id")
        g = nsw_append_graph(
            adjacency.filter(F.col("layer") == layer).select(
                "src", "dst", "cos"
            ),
            old_buckets.join(keep_all, "vec_id"),
            embeddings_all.join(keep_all, "vec_id"),
            new_embeddings.join(keep_new, "vec_id"),
            num_tables=num_tables,
            num_planes=num_planes,
            m=(m0 if layer == 0 else m_upper),
            dim=dim,
        ).select(F.lit(layer).alias("layer"), "src", "dst", "cos")
        out = g if out is None else out.unionByName(g)
    return out


def hnsw_append_index(
    new_embeddings: DataFrame,
    embeddings_all: DataFrame,
    path: str,
    **kw,
) -> None:
    """At-rest HNSW append (posture of :func:`nsw_append_index`): read
    the layered adjacency + the level-independent bucket sidecar, fold
    the delta in via :func:`hnsw_append_graph`, append the delta's
    levels to the levels sidecar, and republish. All outputs are
    localCheckpoint-ed BEFORE any write (the computation reads the paths
    it rewrites). Commit order (torn-artifact rule — readers require
    _SUCCESS in all parts): invalidate the primary marker FIRST, commit
    the sidecars (delta rows appended), commit the rewritten adjacency
    LAST — a crash anywhere in between leaves is_materialized false and
    forces a clean rebuild, never a silently-stale hierarchy."""
    import os

    spark = new_embeddings.sparkSession
    max_level = kw.get("max_level", HNSW_MAX_LEVEL)
    nt = kw.get("num_tables", NSW_TABLES)
    np_ = kw.get("num_planes", NSW_PLANES)
    dim = kw.get("dim", 64)
    adjacency = read_parquet(spark, path).localCheckpoint()
    old_buckets = read_parquet(spark, path + "_buckets")
    new_buck = _multitable_buckets(
        new_embeddings, nt, np_, dim
    ).localCheckpoint()
    new_levels = hnsw_levels(new_embeddings, max_level).localCheckpoint()
    appended = hnsw_append_graph(
        adjacency, old_buckets, embeddings_all, new_embeddings, **kw
    ).localCheckpoint()
    stale_marker = os.path.join(path, "_SUCCESS")
    if os.path.exists(stale_marker):
        os.remove(stale_marker)
    new_buck.write.mode("append").parquet(path + "_buckets")
    new_levels.write.mode("append").parquet(path + "_levels")
    appended.sortWithinPartitions("layer", "src").write.mode(
        "overwrite"
    ).parquet(path)

"""Round-12 wave: the two builds VERDICT r11 named — MJPEG/AVI video
decode (the LAST documented codec seam, #3: RIFF container walk over
per-frame baseline JPEGs through the proven exact-integer decoder) and
multi-layer HNSW (#6: the one production graph-ANN family member still
absent next to NSW and Vamana — geometric levels, per-layer graphs,
log-diameter entry routing).

Reference parity note: the reference repo (Warhorze/apache_beam_challange)
has no multimodal or vector surface; this module extends the §2.9
extension surface (SURVEY.md).

Conventions follow wave5-7: pinned literal tables (the 1e-6 DCT basis and
Annex K quantizers cross the engines as VALUES lists), all lossy codec
math exact integer so the oracle replays reconstruction bit-for-bit, ANN
trajectories deterministic (cos desc, vec_id ties) and replayed unrolled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_beam_challange_spark.operators.jpeg import JPEG_Q, JPEG_T_FP6
from apache_beam_challange_spark.operators.similarity import (
    hnsw_topk_batch,
    hnsw_write_index,
)
from apache_beam_challange_spark.plans.registry import query
from apache_beam_challange_spark.sources.catalog import (
    is_materialized,
    load_table,
    read_parquet,
    warehouse_path,
)

# --- MJPEG/AVI decode -----------------------------------------------------------

_T_VALUES = ", ".join(f"({u}, {x}, {t})" for u, x, t in JPEG_T_FP6)
_Q_VALUES = ", ".join(
    f"({v}, {u}, {JPEG_Q[v * 8 + u]})" for v in range(8) for u in range(8)
)

#: The frame-reconstruction chain (dims -> closed-form frame pixels ->
#: forward DCT -> quantize -> exact-integer IDCT -> rpx), shared by the
#: MJPEG decode oracle and the A/V demux oracle so the two replays can
#: never drift (the wave7 _JPEG_RECON_CTE discipline).
_MJPEG_RECON_CTE = f"""
dims AS (
    SELECT doc_id, 8 * (doc_id % 3 + 1) AS w, 8 * (doc_id % 2 + 1) AS h
    FROM documents
),
fr AS (SELECT unnest(generate_series(0, 3)) AS f),
px AS (
    SELECT d.doc_id, fr.f, d.w, d.h, xs.x, ys.y,
           CAST((d.doc_id * 7 + fr.f * 13 + ys.y * 31 + xs.x * 5) % 256
                AS BIGINT) AS gray
    FROM dims d
    CROSS JOIN fr
    JOIN (SELECT unnest(generate_series(0, 23)) AS x) xs ON xs.x < d.w
    JOIN (SELECT unnest(generate_series(0, 15)) AS y) ys ON ys.y < d.h
),
t AS (SELECT u, x, CAST(tf AS BIGINT) AS tf
      FROM (VALUES {_T_VALUES}) t(u, x, tf)),
q8 AS (SELECT v, u, CAST(qv AS BIGINT) AS qv
       FROM (VALUES {_Q_VALUES}) q(v, u, qv)),
coef AS (
    SELECT p.doc_id, p.f, p.x // 8 AS bx, p.y // 8 AS by, tu.u AS u,
           tv.u AS v,
           CAST(SUM(tu.tf * tv.tf * (p.gray - 128)) AS BIGINT) AS s
    FROM px p
    JOIN t tu ON tu.x = p.x % 8
    JOIN t tv ON tv.x = p.y % 8
    GROUP BY 1, 2, 3, 4, 5, 6
),
quant AS (
    SELECT c.doc_id, c.f, c.bx, c.by, c.u, c.v,
           ((2 * c.s + q8.qv * 1000000000000
             + 4096 * q8.qv * 1000000000000)
            // (2 * q8.qv * 1000000000000) - 2048) * q8.qv AS r
    FROM coef c JOIN q8 ON q8.u = c.u AND q8.v = c.v
),
recon AS (
    SELECT q.doc_id, q.f, q.bx * 8 + tu.x AS x, q.by * 8 + tv.x AS y,
           CAST(SUM(tu.tf * tv.tf * q.r) AS BIGINT) AS s2
    FROM quant q
    JOIN t tu ON tu.u = q.u
    JOIN t tv ON tv.u = q.v
    GROUP BY 1, 2, 3, 4
),
rpx AS MATERIALIZED (
    SELECT doc_id, f, x, y,
           LEAST(255, GREATEST(0,
             (2 * s2 + 1000000000000 + 262144 * 1000000000000)
             // 2000000000000 - 131072 + 128)) AS recon
    FROM recon
)""".strip()

_MJPEG_SQL = f"""
WITH {_MJPEG_RECON_CTE},
stats AS (
    SELECT r.doc_id, r.f,
           CAST(SUM(r.recon) AS BIGINT) AS recon_sum,
           CAST(SUM(ABS(r.recon
                - ((r.doc_id * 7 + r.f * 13 + r.y * 31 + r.x * 5) % 256)))
                AS BIGINT) AS err_abs_sum
    FROM rpx r
    GROUP BY 1, 2
),
delta AS (
    SELECT a.doc_id, a.f,
           CAST(SUM(ABS(a.recon - b.recon)) AS BIGINT) AS delta_abs_sum
    FROM rpx a
    JOIN rpx b ON b.doc_id = a.doc_id AND b.f = a.f - 1
              AND b.x = a.x AND b.y = a.y
    GROUP BY 1, 2
)
SELECT s.doc_id,
       CAST(s.f AS INTEGER) AS frame_idx,
       CAST(d.w AS INTEGER) AS width,
       CAST(d.h AS INTEGER) AS height,
       s.recon_sum,
       s.err_abs_sum,
       COALESCE(dl.delta_abs_sum, 0) AS delta_abs_sum
FROM stats s
JOIN dims d ON d.doc_id = s.doc_id
LEFT JOIN delta dl ON dl.doc_id = s.doc_id AND dl.f = s.f
ORDER BY s.doc_id, frame_idx
""".strip()


@query("multimodal_decode_mjpeg", oracle=_MJPEG_SQL)
def multimodal_decode_mjpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO codec round-trip (VERDICT r11 #3) closing the last
    NotImplementedError: encode a real MJPEG/AVI per document — RIFF
    'AVI ' form, avih/strh/strf headers, one '00dc' baseline-JPEG chunk
    per frame (even-padded), idx1 keyframe index — then decode the
    actual container bytes back (chunk walk honoring pad bytes, header
    cross-checks, per-frame Huffman decode + exact-integer IDCT) behind
    the codec stage. The oracle replays every frame's DCT->quantize->IDCT
    chain relationally from the closed-form pixels, so reconstruction
    matches bit-for-bit: a container slip (missed pad byte, wrong movi
    LIST, frame-order scramble) or any decoder slip hash-fails.
    ``delta_abs_sum`` is the frame-delta statistic (reconstructed motion
    energy vs the previous frame; 0 for frame 0). Per-doc fan-out is
    bounded (4 frames x <= 384 px); the codec UDFs are Arrow-batched,
    row-linear, and spread off file-count parallelism by the shared
    guard (operators/parallelize.py) — scales like the image codecs."""
    from apache_beam_challange_spark.operators.video import (
        attach_mjpeg_video,
        decode_mjpeg_pixels,
    )

    docs = load_table(spark, sf_dir, "documents")
    dims = docs.select(
        "doc_id",
        (8 * (F.col("doc_id") % 3 + 1)).cast("long").alias("w"),
        (8 * (F.col("doc_id") % 2 + 1)).cast("long").alias("h"),
    )
    # single consumer, single groupBy: the decoder emits the per-pixel
    # frame delta itself (it holds consecutive frames anyway), so there
    # is no pixel fan-out materialization and no pixel-keyed self-join —
    # the 10x scale check killed the self-join shape (see
    # decode_mjpeg_pixels docstring)
    px = decode_mjpeg_pixels(attach_mjpeg_video(docs))
    orig = (
        F.col("doc_id") * 7 + F.col("frame_idx") * 13
        + F.col("y") * 31 + F.col("x") * 5
    ) % 256
    return (
        px.groupBy("doc_id", "frame_idx")
        .agg(
            F.sum("recon").cast("long").alias("recon_sum"),
            F.sum(F.abs(F.col("recon") - orig)).cast("long").alias(
                "err_abs_sum"
            ),
            F.sum("dabs").cast("long").alias("delta_abs_sum"),
        )
        .join(F.broadcast(dims), "doc_id")
        .select(
            "doc_id",
            F.col("frame_idx").cast("int").alias("frame_idx"),
            F.col("w").cast("int").alias("width"),
            F.col("h").cast("int").alias("height"),
            "recon_sum",
            "err_abs_sum",
            "delta_abs_sum",
        )
        .orderBy("doc_id", "frame_idx")
    )


# --- multi-layer HNSW -----------------------------------------------------------

#: Deterministic layered-graph rebuild shared by the single-query and
#: batch oracles: geometric levels from md5 hex prefixes (P(level>=l) =
#: 4^-l, exactly the engine's hnsw_levels), the NSW LSH bucket pipeline
#: for candidates, then per-(layer, src) top-M (M=16 at layer 0, 8
#: above) over pairs whose BOTH endpoints reach the layer.
_HNSW_GRAPH_CTE = """
vecs AS (
    SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
lvl AS (
    SELECT vec_id,
           CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
                     IN ('0','1','2','3')
                THEN CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 2, 1)
                               IN ('0','1','2','3')
                          THEN 2 ELSE 1 END
                ELSE 0 END AS level
    FROM vecs
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
           STRING_AGG(CASE WHEN s > 0 THEN '1' ELSE '0' END, ''
                      ORDER BY p) AS bucket
    FROM proj
    GROUP BY vec_id, p // 4
),
pairs AS (
    SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
    FROM buck a
    JOIN buck b ON a.table_idx = b.table_idx AND a.bucket = b.bucket
              AND a.vec_id <> b.vec_id
),
cand AS MATERIALIZED (
    SELECT p.src, p.dst, list_cosine_similarity(va.v, vb.v) AS cc
    FROM pairs p
    JOIN vecs va ON va.vec_id = p.src
    JOIN vecs vb ON vb.vec_id = p.dst
),
adj AS MATERIALIZED (
    SELECT layer, src, dst FROM (
        SELECT ly.layer, c.src, c.dst,
               ROW_NUMBER() OVER (PARTITION BY ly.layer, c.src
                                  ORDER BY c.cc DESC, c.dst) AS rk
        FROM cand c
        JOIN lvl ls ON ls.vec_id = c.src
        JOIN lvl ld ON ld.vec_id = c.dst
        JOIN (VALUES (0), (1), (2)) ly(layer)
          ON ls.level >= ly.layer AND ld.level >= ly.layer
    ) t
    WHERE rk <= CASE WHEN layer = 0 THEN 16 ELSE 8 END
)""".strip()


def _hnsw_schedule() -> list[tuple[int, int, int, int]]:
    """(round, layer, beam, phase_start) descent schedule matching the
    engine's hnsw_topk_batch schedule at top layer 2 (upper 2 rounds x
    beam 4, layer 0 8 x 16): rounds 1-2 layer 2 beam 4,
    rounds 3-4 layer 1 beam 4, rounds 5-12 layer 0 beam 16. Frontier
    exclusion spans the CURRENT phase only (the expanded mark resets at
    each layer boundary — a node expanded through layer-2 edges still
    owes its layer-0 neighborhood)."""
    sched = []
    r = 1
    for layer, beam, rounds in ((2, 4, 2), (1, 4, 2), (0, 16, 8)):
        start = r
        for _ in range(rounds):
            sched.append((r, layer, beam, start))
            r += 1
    return sched


def _hnsw_round_sql(r: int, layer: int, beam: int, phase_start: int) -> str:
    prev_v = f"v{r - 1}"
    exclude = " UNION ALL ".join(
        f"SELECT vec_id FROM f{i}" for i in range(phase_start, r)
    )
    not_in = f"WHERE vec_id NOT IN ({exclude})" if exclude else ""
    return f"""
f{r} AS MATERIALIZED (
    SELECT vec_id FROM {prev_v} {not_in}
    ORDER BY c DESC, vec_id LIMIT {beam}
),
v{r} AS MATERIALIZED (
    SELECT * FROM {prev_v}
    UNION
    SELECT v.vec_id, list_cosine_similarity(v.v, q.qv) AS c
    FROM vecs v CROSS JOIN q
    WHERE v.vec_id IN (SELECT a.dst FROM adj a
                       JOIN f{r} ON a.src = f{r}.vec_id
                       WHERE a.layer = {layer})
      AND v.vec_id <> 0
)""".strip()


_HNSW_ORACLE = f"""
WITH {_HNSW_GRAPH_CTE},
q AS (SELECT v AS qv FROM vecs WHERE vec_id = 0),
entry AS (SELECT MIN(vec_id) AS e FROM lvl WHERE level >= 2 AND vec_id <> 0),
v0 AS MATERIALIZED (
    SELECT v.vec_id, list_cosine_similarity(v.v, q.qv) AS c
    FROM vecs v CROSS JOIN q
    WHERE v.vec_id = (SELECT e FROM entry)
),
{",".join(_hnsw_round_sql(r, l, b, s) for r, l, b, s in _hnsw_schedule())}
SELECT t.vec_id, ve.label, ROUND(t.c, 6) AS cosine_sim
FROM v12 t JOIN vecs ve ON ve.vec_id = t.vec_id
ORDER BY cosine_sim DESC, t.vec_id
LIMIT 20
""".strip()


def _hnsw_index(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(embeddings, layered adjacency, levels) of the at-rest HNSW
    index, built on first use."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = warehouse_path(sf_dir, "hnsw_graph_l2_m8_16", "embeddings")
    if not is_materialized(path, parts=(path + "_levels",)):
        hnsw_write_index(emb, path)
    return emb, read_parquet(spark, path), read_parquet(spark, path + "_levels")


@query("hnsw_topk_vec0", oracle=_HNSW_ORACLE)
def hnsw_topk_vec0(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-layer HNSW (VERDICT r11 #6), completing the graph-ANN
    family next to flat NSW and Vamana. BUILD (at rest): deterministic
    geometric levels (md5 hex prefix, P(level>=l)=4^-l), per-layer NSW
    graphs (LSH-bucketed candidates, per-src top-M — never all-pairs;
    M=16 layer 0, M=8 above), levels sidecar. SERVE: deterministic
    top-layer entry (MIN vec_id), a small bounded search per upper layer
    (2 rounds x beam 4 through that layer's edges), then the full
    layer-0 beam search (8 x 16) seeded by the descent — NSW's
    corpus-sized "every 50th vec_id" seed scan is GONE, which is what
    makes entry routing log-diameter at 1e9 vectors. Total scored <=
    1 + 2*2*4*8 + 8*16*16 regardless of corpus size. Measured recall@20
    vs exact pinned in tests/test_vector.py. The oracle recomputes
    levels + all three layer graphs AND replays the identical 12-round
    descent unrolled — hierarchy and index are semantically invisible."""
    emb, adj, lv = _hnsw_index(spark, sf_dir)
    return hnsw_topk_batch(emb, adj, lv, [0], k=20).drop("query_vec_id")


def _hnsw_batch_round_sql(
    r: int, layer: int, beam: int, phase_start: int
) -> str:
    prev_v = f"v{r - 1}"
    exclude = " UNION ALL ".join(
        f"SELECT qid, vec_id FROM f{i}" for i in range(phase_start, r)
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
    ) WHERE rk <= {beam}
),
v{r} AS MATERIALIZED (
    SELECT * FROM {prev_v}
    UNION
    SELECT n.qid, n.vec_id, list_cosine_similarity(v.v, q.qv) AS c
    FROM (SELECT DISTINCT f.qid, a.dst AS vec_id
          FROM adj a JOIN f{r} f ON a.src = f.vec_id
          WHERE a.layer = {layer}) n
    JOIN vecs v ON v.vec_id = n.vec_id
    JOIN qset q ON q.qid = n.qid
    WHERE n.vec_id <> n.qid
)""".strip()


_HNSW_BATCH_ORACLE = f"""
WITH {_HNSW_GRAPH_CTE},
qset AS (SELECT vec_id AS qid, v AS qv FROM vecs WHERE vec_id < 10),
entries AS (
    SELECT q.qid, MIN(l.vec_id) AS e
    FROM qset q JOIN lvl l ON l.level >= 2 AND l.vec_id <> q.qid
    GROUP BY q.qid
),
v0 AS MATERIALIZED (
    SELECT e.qid, v.vec_id, list_cosine_similarity(v.v, q.qv) AS c
    FROM entries e
    JOIN vecs v ON v.vec_id = e.e
    JOIN qset q ON q.qid = e.qid
),
{",".join(_hnsw_batch_round_sql(r, l, b, s) for r, l, b, s in _hnsw_schedule())}
SELECT query_vec_id, vec_id, label, cosine_sim FROM (
    SELECT t.qid AS query_vec_id, t.vec_id, ve.label,
           ROUND(t.c, 6) AS cosine_sim,
           ROW_NUMBER() OVER (PARTITION BY t.qid
               ORDER BY ROUND(t.c, 6) DESC, t.vec_id) AS rk
    FROM v12 t JOIN vecs ve ON ve.vec_id = t.vec_id
) WHERE rk <= 5
ORDER BY query_vec_id, cosine_sim DESC, vec_id
""".strip()


@query("hnsw_knn_join_vec10", oracle=_HNSW_BATCH_ORACLE)
def hnsw_knn_join_vec10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched hierarchical HNSW serving: top-5 neighbors for EVERY query
    in a 10-vector batch through ONE descent — the ``knn_join_vec10``
    discipline on the layered graph. Per-qid entries (MIN top-layer
    vec_id excluding self) and the same 12-round schedule as
    ``hnsw_topk_vec0``. The driver issues one entry-stats collect, the
    entry fetch, and at most one point-lookup collect per layer start and
    per descent round for the whole batch, independent of batch size
    (collect count pinned in tests/test_vector.py). The oracle rebuilds
    the identical layered graph and replays all ten unrolled
    trajectories partitioned by qid — hierarchy, index, and batching are
    all semantically invisible."""
    emb, adj, lv = _hnsw_index(spark, sf_dir)
    return hnsw_topk_batch(emb, adj, lv, list(range(10)), k=5)


# --- interleaved A/V demux -------------------------------------------------------

_AV_SQL = f"""
WITH {_MJPEG_RECON_CTE},
vsum AS (
    SELECT doc_id, CAST(SUM(recon) AS BIGINT) AS video_recon_sum
    FROM rpx GROUP BY doc_id
),
aud AS (
    SELECT d.doc_id,
           CAST(8000 + (d.doc_id % 3) * 4000 AS INTEGER) AS sample_rate,
           CAST(d.doc_id % 50 + 20 AS INTEGER) AS n_samples,
           CAST(SUM(ABS((d.doc_id * 31 + i.i * 17) % 2001 - 1000))
                AS BIGINT) AS audio_abs_sum,
           CAST(MAX(CASE WHEN i.i = 0
                    THEN (d.doc_id * 31) % 2001 - 1000 END)
                AS INTEGER) AS audio_first,
           CAST(MAX(CASE WHEN i.i = d.doc_id % 50 + 19
                    THEN (d.doc_id * 31 + i.i * 17) % 2001 - 1000 END)
                AS INTEGER) AS audio_last
    FROM dims d
    JOIN (SELECT unnest(generate_series(0, 68)) AS i) i
      ON i.i < d.doc_id % 50 + 20
    GROUP BY d.doc_id
)
SELECT v.doc_id,
       CAST(d.w AS INTEGER) AS width,
       CAST(d.h AS INTEGER) AS height,
       CAST(4 AS INTEGER) AS n_frames,
       v.video_recon_sum,
       a.sample_rate,
       a.n_samples,
       a.audio_abs_sum,
       a.audio_first,
       a.audio_last
FROM vsum v
JOIN dims d ON d.doc_id = v.doc_id
JOIN aud a ON a.doc_id = v.doc_id
ORDER BY v.doc_id
""".strip()


@query("multimodal_demux_avi", oracle=_AV_SQL)
def multimodal_demux_avi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interleaved A/V DEMUX — the multiplexed-container shape real media
    pipelines read: ONE AVI per document carrying TWO streams (stream 0
    vids/MJPG baseline-JPEG frames, stream 1 auds/PCM-16 with a
    WAVEFORMATEX strf), movi chunks temporally interleaved ('00dc' f0,
    '01wb' a0, '00dc' f1, ...). The decoder assigns stream indices from
    the strl order, routes every movi chunk BY ITS STREAM INDEX, decodes
    video through the exact-integer JPEG path and audio as int16 PCM,
    then cross-checks frame count, dimensions, sample count, and sample
    rate against BOTH stream headers. The oracle replays the video
    reconstruction through the shared frame-DCT chain AND regenerates
    the audio stream from its closed form — a demux slip on either
    stream (chunk misrouting, span reordering, rate/count header
    disagreement) hash-fails. Scalar per-doc features, Arrow-batched,
    spread by the shared guard; row-linear like the codec family."""
    from apache_beam_challange_spark.operators.video import (
        attach_av_video,
        demux_av_features,
    )

    docs = load_table(spark, sf_dir, "documents")
    return demux_av_features(attach_av_video(docs)).orderBy("doc_id")


# --- HTML boilerplate removal ----------------------------------------------------

_HTML_SQL = """
WITH wrapped AS (
    SELECT doc_id,
           '<html><head><title>' || substr(text, 1, 16)
           || '</title><script>var a=1;</script><style>p{margin:0}</style>'
           || '</head><body><nav><a href="/">home</a> <a href="/about">'
           || substr(text, 1, 24)
           || '</a></nav><p>' || substr(text, 1, length(text) // 2)
           || '</p><aside><a href="/ad">sponsored</a> '
           || substr(text, 1, 24) || '</aside><p>'
           || substr(text, length(text) // 2 + 1)
           || '</p><footer><a href="/tos">terms</a> (c) example</footer>'
           || '</body></html>' AS html,
           length(text) AS text_len
    FROM documents
),
extracted AS (
    SELECT doc_id, html, text_len,
           regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
           regexp_extract_all(html, '<p>([^<]*)</p>', 1) AS paras,
           regexp_extract_all(html, '<a href="[^"]*">', 0) AS links,
           regexp_extract(html, '<nav>.*?</nav>', 0) AS nav_blk,
           regexp_extract(html, '<aside>.*?</aside>', 0) AS aside_blk,
           regexp_extract(html, '<footer>.*?</footer>', 0) AS footer_blk
    FROM wrapped
)
SELECT doc_id,
       title,
       CAST(len(paras) AS INTEGER) AS n_paragraphs,
       CAST(len(links) AS INTEGER) AS n_links,
       CAST(length(array_to_string(paras, ' ')) AS BIGINT) AS main_len,
       CAST(length(html) AS BIGINT) AS html_len,
       CAST(length(nav_blk) + length(aside_blk) + length(footer_blk)
            AS BIGINT) AS boiler_len,
       CAST(length(array_to_string(paras, ' ')) * 1000 // length(html)
            AS BIGINT) AS markup_ratio_pm,
       CAST(CASE WHEN length(array_to_string(paras, ' ')) = text_len + 1
            THEN 1 ELSE 0 END AS INTEGER) AS recon_ok
FROM extracted
ORDER BY doc_id
""".strip()


@query("html_boilerplate_extraction", oracle=_HTML_SQL)
def html_boilerplate_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML BOILERPLATE REMOVAL — the first step of every web-corpus
    training pipeline (trafilatura/jusText class): wrap each document in
    deterministic markup (head/script/style, a nav, an aside, a footer —
    the boilerplate blocks CONTAIN text prefixes, so grab-all-text
    over-collects and only structural extraction is right), then extract
    the main text and boilerplate statistics ENTIRELY with JVM-native
    regexp expressions — no UDF, no Python eval: the executed plan is a
    narrow projection chain straight over the column-pruned documents
    scan (doc_id + text only; the one Exchange is the final orderBy),
    which is the 100 TB posture you want for a per-document string
    pipeline.
    ``recon_ok`` pins exactness: the extracted main text must equal the
    source text + the 1-char paragraph seam. Regex subset chosen for
    cross-engine semantics (non-greedy, char classes; NO backreferences
    — DuckDB's RE2 lacks them). ``markup_ratio_pm`` is the integer
    text-to-markup ratio used as a crawl-quality filter signal."""
    docs = load_table(spark, sf_dir, "documents")
    half = F.expr("substr(text, 1, length(text) div 2)")
    rest = F.expr("substr(text, length(text) div 2 + 1)")
    html = F.concat(
        F.lit("<html><head><title>"), F.expr("substr(text, 1, 16)"),
        F.lit("</title><script>var a=1;</script><style>p{margin:0}</style>"
              "</head><body><nav><a href=\"/\">home</a> <a href=\"/about\">"),
        F.expr("substr(text, 1, 24)"),
        F.lit("</a></nav><p>"), half,
        F.lit("</p><aside><a href=\"/ad\">sponsored</a> "),
        F.expr("substr(text, 1, 24)"),
        F.lit("</aside><p>"), rest,
        F.lit("</p><footer><a href=\"/tos\">terms</a> (c) example</footer>"
              "</body></html>"),
    )
    w = docs.select(
        "doc_id", html.alias("html"), F.length("text").alias("text_len")
    )
    paras = F.regexp_extract_all(F.col("html"), F.lit("<p>([^<]*)</p>"), 1)
    links = F.regexp_extract_all(
        F.col("html"), F.lit("<a href=\"[^\"]*\">"), 0
    )
    main = F.array_join(paras, " ")
    boiler = (
        F.length(F.regexp_extract(F.col("html"), "<nav>.*?</nav>", 0))
        + F.length(F.regexp_extract(F.col("html"), "<aside>.*?</aside>", 0))
        + F.length(
            F.regexp_extract(F.col("html"), "<footer>.*?</footer>", 0)
        )
    )
    return (
        w.select(
            "doc_id",
            F.regexp_extract(F.col("html"), "<title>([^<]*)</title>", 1)
            .alias("title"),
            F.size(paras).cast("int").alias("n_paragraphs"),
            F.size(links).cast("int").alias("n_links"),
            F.length(main).cast("long").alias("main_len"),
            F.length("html").cast("long").alias("html_len"),
            boiler.cast("long").alias("boiler_len"),
            (F.length(main) * 1000).cast("long").alias("_mnum"),
            F.length("html").alias("_hlen"),
            F.when(F.length(main) == F.col("text_len") + 1, 1)
            .otherwise(0)
            .cast("int")
            .alias("recon_ok"),
        )
        .withColumn(
            "markup_ratio_pm", F.expr("_mnum div _hlen").cast("long")
        )
        .drop("_mnum", "_hlen")
        .select(
            "doc_id", "title", "n_paragraphs", "n_links", "main_len",
            "html_len", "boiler_len", "markup_ratio_pm", "recon_ok",
        )
        .orderBy("doc_id")
    )

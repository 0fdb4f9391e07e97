"""Round-11 wave: baseline JPEG codec properties and Vamana graph-ANN
invariants (the DuckDB oracles replay both move-for-move; these tests pin
the properties a hash can't express — bitstream realism, degree bounds,
recall floors)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from apache_beam_challange_spark.operators import jpeg as J

# --- JPEG codec ---------------------------------------------------------------


def test_jpeg_marker_structure():
    """The emitted stream is a structurally real JFIF baseline file: SOI,
    APP0(JFIF), DQT, SOF0, two DHTs, SOS, EOI — in order."""
    data = J.encode_jpeg(7)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    markers = []
    pos = 2
    while pos < len(data) - 2:
        assert data[pos] == 0xFF
        m = data[pos + 1]
        markers.append(m)
        seg_len = int.from_bytes(data[pos + 2:pos + 4], "big")
        pos += 2 + seg_len
        if m == 0xDA:
            break
    assert markers == [0xE0, 0xDB, 0xC0, 0xC4, 0xC4, 0xDA]
    assert b"JFIF\x00" in data[:30]


@pytest.mark.parametrize("doc_id", [0, 1, 2, 3, 4, 5, 11, 25, 499, 1999])
def test_jpeg_bitstream_equals_math_path(doc_id):
    """decode(encode(px)) must equal the direct quantize->dequantize->IDCT
    math on the same pixels: the Huffman/zigzag/stuffing layer is exactly
    lossless, so any bitstream bug (and only a bitstream bug) breaks
    this — the invariant that lets the SQL oracle skip the byte layer."""
    px = J._gray_pixels(doc_id)
    ref = J._inverse_blocks(J._forward_blocks(px))
    w, h, got = J.decode_jpeg(J.encode_jpeg(doc_id))
    assert (w, h) == J.jpeg_dims(doc_id)
    assert np.array_equal(ref, got)


def test_jpeg_round_trip_is_really_lossy_but_bounded():
    """Quantization must inject SOME error (a fake identity decode would
    pass equality tests) while staying within the coarse-quantizer bound."""
    total_err = 0
    for doc_id in range(20):
        px = J._gray_pixels(doc_id)
        _, _, rec = J.decode_jpeg(J.encode_jpeg(doc_id))
        err = np.abs(px - rec)
        total_err += int(err.sum())
        assert err.max() <= 220  # clamped 8-bit range keeps error bounded
    assert total_err > 0


def test_jpeg_byte_stuffing_exercised():
    """At least one corpus doc's entropy stream contains a stuffed
    0xFF00 pair after SOS — so the unstuffing path is really executed by
    the equality tests above."""
    found = False
    for doc_id in range(100):
        data = J.encode_jpeg(doc_id)
        sos = data.index(b"\xff\xda")
        if b"\xff\x00" in data[sos:]:
            found = True
            break
    assert found


def test_jpeg_decoder_reads_the_actual_bytes():
    """Corrupting one entropy byte must change the reconstruction or
    fail the parse — proving decode is driven by the bitstream, not a
    replay of the closed-form pixels."""
    data = bytearray(J.encode_jpeg(7))
    _, _, clean = J.decode_jpeg(bytes(data))
    sos = bytes(data).index(b"\xff\xda") + 10
    data[sos] ^= 0x55
    if bytes(data[sos - 1:sos + 1]) == b"\xff\x00":
        data[sos] ^= 0x55  # don't turn a stuffed pair into a marker
        data[sos + 1] ^= 0x55
    try:
        _, _, corrupt = J.decode_jpeg(bytes(data))
        assert not np.array_equal(clean, corrupt)
    except (ValueError, IndexError, KeyError):
        pass  # a broken stream failing loudly is equally acceptable


def test_jpeg_query_matches_numpy_replay(spark, sf_dir):
    """The registry query's per-doc features equal an independent numpy
    replay of encode->decode over the real documents table."""
    import __spark_entry__ as em

    rows = {
        r["doc_id"]: r
        for r in em.all_queries()["multimodal_decode_jpeg"](spark, sf_dir)
        .limit(2000)
        .collect()
    }
    for doc_id in list(rows)[:25]:
        w, h, rec = J.decode_jpeg(J.encode_jpeg(doc_id))
        px = J._gray_pixels(doc_id)
        r = rows[doc_id]
        assert r["width"] == w and r["height"] == h
        assert r["n_blocks"] == (w // 8) * (h // 8)
        assert r["recon_sum"] == int(rec.sum())
        assert r["err_abs_sum"] == int(np.abs(px - rec).sum())
        assert r["corner_recon"] == int(rec[h - 1, w - 1])


# --- Vamana graph ANN ---------------------------------------------------------


@pytest.fixture(scope="module")
def vamana_graph(spark, sf_dir):
    from apache_beam_challange_spark.operators.similarity import (
        vamana_build_graph,
    )
    from apache_beam_challange_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return vamana_build_graph(emb).localCheckpoint()


def test_vamana_degree_cap(vamana_graph):
    """Every node's out-degree respects the post-reverse-merge cap — the
    bound that makes serve work O(rounds*beam*CAP)."""
    from apache_beam_challange_spark.operators.similarity import VAMANA_CAP

    mx = vamana_graph.groupBy("src").count().agg(F.max("count")).first()[0]
    assert mx <= VAMANA_CAP


def test_vamana_alpha_prune_keeps_long_range_edges(vamana_graph, spark, sf_dir):
    """The DiskANN property that distinguishes Vamana from NSW's plain
    top-M: alpha-prune keeps SOME edge that plain top-M would discard
    (i.e. an edge to a neighbor outside the node's top-CAP by cosine
    among its candidates). If the kept sets were identical to top-M the
    prune would be dead code."""
    from apache_beam_challange_spark.operators.similarity import (
        _multitable_buckets,
        as_double,
        cosine,
    )
    from pyspark.sql import Window
    from apache_beam_challange_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    buck = _multitable_buckets(emb, 4, 4, 64)
    pairs = (
        buck.alias("a")
        .join(
            buck.alias("b"),
            (F.col("a.table_idx") == F.col("b.table_idx"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("src"), F.col("b.vec_id").alias("dst"))
        .dropDuplicates(["src", "dst"])
    )
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("v"))
    scored = (
        pairs.join(vecs.withColumnRenamed("vec_id", "src").alias("va"), "src")
        .join(
            vecs.select(F.col("vec_id").alias("dst"), F.col("v").alias("vb")),
            "dst",
        )
        .select(
            "src",
            "dst",
            F.floor(cosine(F.col("v"), F.col("vb")) * 1e9)
            .cast("long")
            .alias("c_fp"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("c_fp").desc(), F.col("dst"))
    topm = scored.withColumn("rk", F.row_number().over(w)).filter(
        F.col("rk") <= 12
    )
    beyond = vamana_graph.join(
        topm.select("src", "dst"), ["src", "dst"], "left_anti"
    )
    assert beyond.count() > 0


def test_vamana_medoid_matches_replay(spark, sf_dir):
    """Engine medoid equals a python replay of the exact-integer
    centroid-dot / norm argmax."""
    from apache_beam_challange_spark.operators.similarity import vamana_medoid
    from apache_beam_challange_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    got = vamana_medoid(emb).first()["medoid_id"]
    rows = emb.select("vec_id", "embedding").collect()
    import math

    xfp = {
        r["vec_id"]: [math.floor(float(x) * 1e6) for x in r["embedding"]]
        for r in rows
    }
    cj = [sum(v[j] for v in xfp.values()) for j in range(64)]
    best = None
    for vid, v in sorted(xfp.items()):
        m = sum(a * b for a, b in zip(v, cj))
        n2 = sum(a * a for a in v)
        s = m / math.sqrt(n2)
        if best is None or s > best[0] + 0 or (s == best[0] and vid < best[1]):
            if best is None or s > best[0] or (s == best[0] and vid < best[1]):
                best = (s, vid)
    assert got == best[1]


def test_vamana_recall_floor(spark, sf_dir, vamana_graph):
    """Single-entry greedy beam over the alpha-pruned graph must reach
    >= 80% of the exact cosine top-20 at sf0.001 — the property the
    long-range edges buy (pure top-M graphs strand greedy search in
    local clusters)."""
    from apache_beam_challange_spark.operators.similarity import (
        knn_join_exact,
        vamana_medoid,
        vamana_topk_batch,
    )
    from apache_beam_challange_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    med = vamana_medoid(emb).first()["medoid_id"]
    got = {
        r["vec_id"]
        for r in vamana_topk_batch(emb, vamana_graph, med, [0], k=20).collect()
    }
    exact = {
        r["vec_id"]
        for r in knn_join_exact(emb, [0], 20).collect()
        if r["vec_id"] != 0
    }
    assert len(got & exact) >= 0.8 * len(exact)


def test_jpeg_phash_sees_lossy_pixels(spark, sf_dir):
    """The JPEG pHash must be computed on RECONSTRUCTED pixels: for at
    least one doc the quantizer flips a hash bit vs the same pooled-DCT
    hash over pristine pixels (if the hashes were all identical the
    query could be faked by skipping the codec), while hashes stay in
    the 11-bit range."""
    import __spark_entry__ as em

    qs = em.all_queries()
    jpeg_hash = {
        r["doc_id"]: r["dct_hash"]
        for r in qs["image_jpeg_dct_phash"](spark, sf_dir).collect()
    }
    assert jpeg_hash and all(0 <= h < 2**11 for h in jpeg_hash.values())
    # pristine-pixel replay of the same pooled-DCT hash, numpy-side
    import numpy as np
    from apache_beam_challange_spark.plans.wave6 import _DCT_CU, _DCT_CV

    cu = {(u, c): t for u, c, t in _DCT_CU}
    cv = {(v, c): t for v, c, t in _DCT_CV}
    diffs = 0
    for doc_id in list(jpeg_hash)[:40]:
        w, h = J.jpeg_dims(doc_id)
        px = J._gray_pixels(doc_id)
        cells = {}
        for y in range(h):
            for x in range(w):
                key = (x * 4 // w, y * 3 // h)
                s, c = cells.get(key, (0, 0))
                cells[key] = (s + int(px[y, x]), c + 1)
        means = {k: (s * 10**6) // c for k, (s, c) in cells.items()}
        coef = {}
        for u in range(4):
            for v in range(3):
                if (u, v) == (0, 0):
                    continue
                coef[(u, v)] = sum(
                    m * cu[(u, cx)] * cv[(v, cy)]
                    for (cx, cy), m in means.items()
                )
        med = sorted(coef.values())[5]
        pristine = sum(
            1 << (u * 3 + v - 1) for (u, v), a in coef.items() if a > med
        )
        if pristine != jpeg_hash[doc_id]:
            diffs += 1
    assert diffs > 0, "quantization never flipped a hash bit in 40 docs"


@pytest.mark.slow
def test_vamana_insert_maintains_serving(spark, sf_dir):
    """FreshDiskANN-style insert proof: build on a 90% subset, insert the
    held-out 10% via search+prune+reverse-link, then (a) every new node
    has out-edges, (b) new nodes are reachable (appear as someone's
    dst), (c) degree caps hold everywhere, and (d) a query over the FULL
    corpus finds held-out vectors among its top-k when exact search says
    they belong there — serving quality holds without a rebuild."""
    from apache_beam_challange_spark.operators.similarity import (
        VAMANA_CAP,
        knn_join_exact,
        vamana_build_graph,
        vamana_insert_graph,
        vamana_medoid,
        vamana_topk_batch,
    )
    from apache_beam_challange_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    held = [i for i in range(450, 500)]
    base = emb.filter(~F.col("vec_id").isin(held))
    g0 = vamana_build_graph(base).localCheckpoint()
    med = vamana_medoid(base).first()["medoid_id"]
    g1 = vamana_insert_graph(emb, g0, med, held).localCheckpoint()
    # (a) every new node has out-edges
    out_srcs = {
        r["src"]
        for r in g1.filter(F.col("src").isin(held)).select("src").distinct().collect()
    }
    assert out_srcs == set(held)
    # (b) reachable: new nodes appear as dst of old nodes
    in_links = (
        g1.filter(F.col("dst").isin(held) & ~F.col("src").isin(held)).count()
    )
    assert in_links > 0
    # (c) degree caps hold post-insert (new nodes: prune bound; old: cap)
    mx = g1.groupBy("src").count().agg(F.max("count")).first()[0]
    assert mx <= VAMANA_CAP
    # (d) recall over the FULL corpus from the un-rebuilt graph
    got = {
        r["vec_id"]
        for r in vamana_topk_batch(emb, g1, med, [0], k=20).collect()
    }
    exact = {
        r["vec_id"]
        for r in knn_join_exact(emb, [0], 20).collect()
        if r["vec_id"] != 0
    }
    assert len(got & exact) >= 0.8 * len(exact)


def test_wave7_scale_posture_plans(plans):
    """Scale-shape pins for the round-11 wave: the JPEG decode's dims
    frame arrives by broadcast (never shuffled against the pixel
    stream); the pHash's DCT cosine tables are broadcast joins; neither
    codec query sort-merge-joins the per-pixel fan-out."""
    jp = plans("multimodal_decode_jpeg")
    assert "BroadcastHashJoin" in jp
    assert "SortMergeJoin" not in jp
    # the pHash's returned plan starts at the checkpointed coefficient
    # frame (its broadcast DCT-table joins live upstream of the
    # checkpoint, same as bpe_train_merges — the decode query above
    # carries the broadcast evidence). The tail's ONE shuffle join is
    # the per-doc median attach: doc_id-keyed on both sides (per-doc
    # frames, NOT broadcastable at scale — the correct co-partitioned
    # plan), plus a partial aggregate for the hash fold.
    ph = plans("image_jpeg_dct_phash")
    assert ph.count("SortMergeJoin") <= 1
    assert "doc_id" in ph
    assert "partial" in ph.lower()


# --- color baseline JPEG ------------------------------------------------------


def test_jpeg_color_marker_structure():
    """Color stream: two DQTs, four DHTs, 3-component SOF0 with 2x2/1x1
    sampling, 3-component SOS."""
    data = J.encode_jpeg_color(7)
    assert data[:2] == b"\xff\xd8" and data[-2:] == b"\xff\xd9"
    markers = []
    pos = 2
    sof = None
    while pos < len(data) - 2:
        assert data[pos] == 0xFF
        m = data[pos + 1]
        markers.append(m)
        seg_len = int.from_bytes(data[pos + 2:pos + 4], "big")
        if m == 0xC0:
            sof = data[pos + 4:pos + 2 + seg_len]
        pos += 2 + seg_len
        if m == 0xDA:
            break
    assert markers == [0xE0, 0xDB, 0xDB, 0xC0, 0xC4, 0xC4, 0xC4, 0xC4, 0xDA]
    assert sof[5] == 3  # Nf = 3 components
    assert sof[7] == 0x22 and sof[10] == 0x11  # Y 2x2, Cb 1x1


@pytest.mark.parametrize("doc_id", [0, 1, 2, 3, 7, 42, 499])
def test_jpeg_color_bitstream_equals_math_path(doc_id):
    """Interleaved-MCU decode must equal the direct forward->inverse
    math on the same pixels (the bitstream layer is exactly lossless),
    including the 2-MCU-wide docs that exercise the interleave order."""
    import numpy as np

    px = J._rgb_pixels(doc_id)
    h, w = px.shape[:2]
    yp, cbp, crp = J._rgb_to_ycbcr(px)
    cb2, cr2 = J._subsample420(cbp), J._subsample420(crp)

    def fwd_c(plane):
        hh, ww = plane.shape
        blocks = plane.reshape(hh // 8, 8, ww // 8, 8).transpose(0, 2, 1, 3) - 128
        s = np.einsum("vy,ux,byx->bvu", J._T, J._T, blocks.reshape(-1, 8, 8))
        d = J._QCM[None, :, :] * 10**12
        return ((2 * s + d + 4096 * d) // (2 * d) - 2048).reshape(
            hh // 8, ww // 8, 8, 8
        )

    def inv_blocks(q, qm):
        by, bx = q.shape[0], q.shape[1]
        r = q.reshape(-1, 8, 8) * qm[None, :, :]
        s2 = np.einsum("vy,ux,bvu->byx", J._T, J._T, r)
        sc = 10**12
        p = (2 * s2 + sc + (1 << 17) * 2 * sc) // (2 * sc) - (1 << 17)
        return (
            np.clip(p + 128, 0, 255)
            .reshape(by, bx, 8, 8)
            .transpose(0, 2, 1, 3)
            .reshape(by * 8, bx * 8)
        )

    yr = inv_blocks(J._forward_blocks(yp), J._QM)
    cbu = np.repeat(
        np.repeat(inv_blocks(fwd_c(cb2), J._QCM), 2, 0), 2, 1
    )[:h, :w]
    cru = np.repeat(
        np.repeat(inv_blocks(fwd_c(cr2), J._QCM), 2, 0), 2, 1
    )[:h, :w]
    sc = 10**6
    sh = 1 << 10
    inv = lambda n: np.clip(  # noqa: E731
        (2 * n + sc + sh * 2 * sc) // (2 * sc) - sh, 0, 255
    )
    exp = np.stack(
        [
            inv(yr * sc + J._IR_CR * (cru - 128)),
            inv(yr * sc + J._IG_CB * (cbu - 128) + J._IG_CR * (cru - 128)),
            inv(yr * sc + J._IB_CB * (cbu - 128)),
        ],
        axis=2,
    )
    w2, h2, got = J.decode_jpeg_color(J.encode_jpeg_color(doc_id))
    assert (w2, h2) == J.jpeg_color_dims(doc_id)
    assert np.array_equal(got, exp)


def test_jpeg_color_chroma_error_dominates():
    """4:2:0 + the coarse chroma quantizer must inject MORE error than
    the grayscale path on comparable content — the property that proves
    the chroma pipeline (subsample + Annex K.2 table) is really in the
    loop, not bypassed."""
    import numpy as np

    gray_err = color_err = 0
    for doc_id in range(10):
        gpx = J._gray_pixels(doc_id)
        _, _, grec = J.decode_jpeg(J.encode_jpeg(doc_id))
        gray_err += float(np.abs(gpx - grec).mean())
        cpx = J._rgb_pixels(doc_id)
        _, _, crec = J.decode_jpeg_color(J.encode_jpeg_color(doc_id))
        color_err += float(np.abs(cpx - crec).mean())
    assert color_err > gray_err

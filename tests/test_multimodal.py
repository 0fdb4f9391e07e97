from __future__ import annotations

import hashlib

import pytest

from apache_beam_challange_spark.operators.multimodal import (
    _decode_fake,
    _decode_real,
    attach_fake_image,
    decode_image_features_arrow,
    sample_frames,
)


def test_real_decoder_non_bmp_is_stubbed():
    with pytest.raises(NotImplementedError):
        _decode_real(b"\x00\x01")


def test_decode_features_exact(spark):
    docs = spark.createDataFrame([(1, "Hello World")], ["doc_id", "text"])
    out = decode_image_features_arrow(attach_fake_image(docs)).collect()
    digest = hashlib.md5(b"hello world").digest()
    assert len(out) == 1
    r = out[0]
    assert r["n_bytes"] == 16
    assert r["width"] == digest[0] % 64 + 1
    assert r["height"] == digest[1] % 64 + 1
    assert r["channels"] == digest[2] % 3 + 1
    assert r["sum_bytes"] == sum(digest)


def test_frame_sample_positions(spark):
    docs = spark.createDataFrame([(1, "abc")], ["doc_id", "text"])
    out = sample_frames(attach_fake_image(docs), every=4, n_frames=4).collect()
    digest = hashlib.md5(b"abc").digest()
    got = {r["frame_idx"]: r["frame_byte"] for r in out}
    assert got == {i: digest[i * 4] for i in range(4)}


def test_resize_halves_payload(spark):
    from apache_beam_challange_spark.operators.multimodal import resize_images

    docs = spark.createDataFrame([(1, "Hello World")], ["doc_id", "text"])
    out = resize_images(attach_fake_image(docs), factor=2).collect()
    digest = hashlib.md5(b"hello world").digest()
    assert len(out) == 1
    assert out[0]["n_bytes"] == 8
    assert bytes(out[0]["image_bytes"]) == digest[::2]


def test_fake_decoder_pure():
    assert _decode_fake(b"\x05\x06\x07") == {
        "n_bytes": 3,
        "width": 6,
        "height": 7,
        "channels": 2,
        "sum_bytes": 18,
    }


# --- real BMP codec ---------------------------------------------------------


def test_bmp_roundtrip_matches_closed_form():
    import numpy as np

    from apache_beam_challange_spark.operators.multimodal import (
        _bmp_pixels,
        bmp_dims,
        decode_bmp,
        encode_bmp,
    )

    for doc_id in (0, 1, 7, 12, 13, 91, 9999):
        w, h = bmp_dims(doc_id)
        feats = decode_bmp(encode_bmp(doc_id))
        px = _bmp_pixels(doc_id)
        assert feats["width"] == w and feats["height"] == h
        assert feats["channels"] == 3
        assert feats["n_bytes"] == 54 + h * ((3 * w + 3) // 4 * 4)
        assert feats["pix_sum"] == int(px.sum(dtype=np.int64))
        assert feats["corner_br"] == int(px[h - 1, w - 1, 2])


def test_bmp_decoder_honors_padding_and_bottom_up():
    import struct

    import numpy as np

    from apache_beam_challange_spark.operators.multimodal import decode_bmp

    # hand-built 2x2 top-down BMP (negative height): stride 8, 2 pad bytes
    w, h = 2, 2
    stride = (3 * w + 3) // 4 * 4
    px = np.arange(12, dtype=np.uint8).reshape(h, w, 3)  # top-down truth
    rows = np.zeros((h, stride), np.uint8)
    rows[:, : 3 * w] = px.reshape(h, 3 * w)
    data = (
        struct.pack("<2sIHHI", b"BM", 54 + h * stride, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, w, -h, 1, 24, 0, h * stride, 0, 0, 0, 0)
        + rows.tobytes()
    )
    feats = decode_bmp(data)
    assert feats["corner_br"] == int(px[1, 1, 2])  # == 11
    assert feats["pix_sum"] == int(px.sum())


def test_bmp_decoder_rejects_other_bpp():
    import struct

    from apache_beam_challange_spark.operators.multimodal import decode_bmp

    bad = struct.pack("<2sIHHI", b"BM", 54, 0, 0, 54) + struct.pack(
        "<IiiHHIIiiII", 40, 1, 1, 1, 8, 0, 4, 0, 0, 0, 0
    )
    with pytest.raises(ValueError):
        decode_bmp(bad + b"\x00" * 4)


def test_real_decoder_routes_bmp():
    from apache_beam_challange_spark.operators.multimodal import (
        _decode_real,
        encode_bmp,
    )

    assert _decode_real(encode_bmp(42))["channels"] == 3


# --- real WAV codec ---------------------------------------------------------


def test_wav_roundtrip_matches_closed_form():
    import numpy as np

    from apache_beam_challange_spark.operators.multimodal import (
        _wav_samples,
        decode_wav,
        encode_wav,
        wav_params,
    )

    for doc_id in (0, 1, 2, 3, 49, 50, 12345):
        rate, n = wav_params(doc_id)
        feats = decode_wav(encode_wav(doc_id))
        s = _wav_samples(doc_id)
        assert feats["sample_rate"] == rate
        assert feats["n_samples"] == n
        assert feats["abs_sum"] == int(np.abs(s.astype(np.int64)).sum())
        assert feats["first"] == int(s[0]) and feats["last"] == int(s[-1])


def test_wav_decoder_walks_chunks():
    """A decoder that hard-codes the 44-byte offset breaks on files with
    extra chunks between fmt and data — build one and decode it."""
    import struct

    from apache_beam_challange_spark.operators.multimodal import decode_wav

    samples = struct.pack("<4h", 100, -200, 300, -400)
    extra = struct.pack("<4sI", b"LIST", 6) + b"INFOxx"
    body = (
        struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, 8000, 16000, 2, 16)
        + extra
        + struct.pack("<4sI", b"data", len(samples))
        + samples
    )
    data = struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body
    feats = decode_wav(data)
    assert feats["n_samples"] == 4
    assert feats["abs_sum"] == 1000
    assert feats["first"] == 100 and feats["last"] == -400


def test_wav_decoder_rejects_stereo():
    import struct

    from apache_beam_challange_spark.operators.multimodal import decode_wav

    body = (
        struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 2, 8000, 32000, 4, 16)
        + struct.pack("<4sI", b"data", 4)
        + b"\x00" * 4
    )
    data = struct.pack("<4sI4s", b"RIFF", 4 + len(body), b"WAVE") + body
    with pytest.raises(ValueError):
        decode_wav(data)


def test_real_decoder_routes_wav():
    from apache_beam_challange_spark.operators.multimodal import (
        _decode_real,
        encode_wav,
    )

    assert _decode_real(encode_wav(7))["n_samples"] == 27


def test_image_phash_dup_clusters_match_python_grouping(spark, sf_dir):
    """Cluster sizes and canonicals match a driver-side grouping of the
    verified per-doc hashes, and the report actually fires (the
    synthetic dim/pixel generators repeat, so collisions exist)."""
    import __spark_entry__ as em

    QS2 = em.all_queries()
    hashes = {
        r.doc_id: r.phash16
        for r in QS2["multimodal_image_phash"](spark, sf_dir).collect()
    }
    groups: dict[int, list[int]] = {}
    for d, h in hashes.items():
        groups.setdefault(h, []).append(d)
    want = {
        h: (len(ds), min(ds), max(ds))
        for h, ds in groups.items()
        if len(ds) >= 2
    }
    got = {
        r.phash16: (r.n_images, r.canonical_doc_id, r.max_doc_id)
        for r in QS2["image_phash_dup_clusters"](spark, sf_dir).collect()
    }
    assert got == want
    assert len(got) > 0


def test_png_roundtrip_matches_bmp_pixels_and_filters_all_used():
    """PNG encode->decode reproduces the shared deterministic pixel
    array bit for bit, every scanline filter 0-4 appears across the doc
    family (h up to 9 rows cycles y % 5), and the DEFLATE stream always
    spans multiple IDAT chunks (single-chunk decoders must fail)."""
    import zlib

    import numpy as np

    from apache_beam_challange_spark.operators.multimodal import (
        _bmp_pixels,
        _png_pixel_array,
        encode_png,
    )

    filters_seen = set()
    for d in range(30):
        png = encode_png(d)
        assert png.count(b"IDAT") >= 2, d
        px = _png_pixel_array(png)
        assert (px == _bmp_pixels(d)).all(), d
        # recover the per-row filter bytes from the raw stream
        i = png.index(b"IDAT")
        comp = bytearray()
        pos = 8
        while pos < len(png):
            (ln,) = __import__("struct").unpack_from(">I", png, pos)
            typ = png[pos + 4 : pos + 8]
            if typ == b"IDAT":
                comp.extend(png[pos + 8 : pos + 8 + ln])
            pos += 12 + ln
        raw = zlib.decompress(bytes(comp))
        h, w, _ = px.shape
        stride = w * 3 + 1
        filters_seen |= {raw[y * stride] for y in range(h)}
    assert filters_seen == {0, 1, 2, 3, 4}


def test_png_corruption_fails_loudly():
    """A flipped payload byte breaks that chunk's CRC; a dropped IDAT
    chunk breaks DEFLATE — both must raise, never return wrong pixels."""
    import struct

    import pytest

    from apache_beam_challange_spark.operators.multimodal import (
        decode_png,
        encode_png,
    )

    png = bytearray(encode_png(9))
    i = bytes(png).index(b"IDAT")
    png[i + 6] ^= 0xFF  # a payload byte inside the first IDAT
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(png))

    png = bytearray(encode_png(9))
    i = bytes(png).index(b"IDAT")
    (ln,) = struct.unpack_from(">I", png, i - 4)
    dropped = bytes(png[: i - 4]) + bytes(png[i + 8 + ln + 4 :])
    with pytest.raises(Exception):
        decode_png(dropped)


def test_phash_is_codec_independent():
    """The dup-cluster fingerprint bridges codecs: the same rendered
    content produces the IDENTICAL phash16 from the BMP container and
    the PNG container (channel-sum grayscale is order-invariant), so
    image_phash_dup_clusters' machinery applies to either at-rest
    format unchanged."""
    from apache_beam_challange_spark.operators.multimodal import (
        _bmp_phash16,
        _png_phash16,
        encode_bmp,
        encode_png,
    )

    for d in range(25):
        assert _png_phash16(encode_png(d)) == _bmp_phash16(encode_bmp(d)), d

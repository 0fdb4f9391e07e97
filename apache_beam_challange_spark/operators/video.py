"""MJPEG/AVI video codec — closes the LAST documented multimodal seam
(VERDICT r11 #3): the video branch of ``multimodal._decode_real`` that
needed ffmpeg now decodes natively, because an MJPEG stream is just a RIFF
walk over per-frame baseline JPEGs and the JPEG decoder is already real
(operators/jpeg.py: Annex K Huffman, DC prediction, byte unstuffing,
exact-integer IDCT).

Container layer (public knowledge — the Microsoft AVI RIFF form,
'Programmer's Guide to AVI Files'; all fields little-endian):

    RIFF <sz> 'AVI '
      LIST <sz> 'hdrl'
        'avih' 56-byte MainAVIHeader (usec/frame, total frames, streams,
               width, height)
        LIST <sz> 'strl'
          'strh' 56-byte stream header (fccType 'vids', handler 'MJPG',
                 scale/rate, length)
          'strf' 40-byte BITMAPINFOHEADER (biCompression 'MJPG')
      LIST <sz> 'movi'
        '00dc' <sz> <baseline JPEG frame>  (chunks padded to even size)
        ...
      'idx1' 16 bytes/frame ('00dc', AVIIF_KEYFRAME, offset, size)

The classic decode hazards are deliberately exercised: chunk sizes EXCLUDE
the pad byte but the walk must skip it (odd-sized JPEG frames occur
naturally), the 'movi' LIST must be found by its list TYPE while skipping
unknown sibling chunks by size, and the decoder cross-checks the decoded
frame count and dimensions against the avih header. Every lossy pixel is
produced by the exact-integer JPEG path, so a SQL oracle replays the whole
movie's reconstruction bit-for-bit from the closed-form frame pixels.

Reference parity: the reference repo (Warhorze/apache_beam_challange) has
no multimodal surface; this extends SURVEY.md §2.9's codec family.
"""

from __future__ import annotations

import struct
from typing import TYPE_CHECKING

import numpy as np

from apache_beam_challange_spark.operators.jpeg import (
    decode_jpeg,
    encode_jpeg_gray_px,
    jpeg_dims,
)
from apache_beam_challange_spark.operators.multimodal import codec_stage
from apache_beam_challange_spark.operators.parallelize import (
    spread_for_python_stage,
)

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

#: frames per synthetic clip; frame f's pixels are
#: (doc_id*7 + f*13 + y*31 + x*5) mod 256 — the grayscale family formula
#: with a per-frame phase, so the oracle regenerates every frame without
#: touching bytes and consecutive frames differ (frame-delta stats are
#: non-trivial).
MJPEG_FRAMES = 4


def mjpeg_frame_pixels(doc_id: int, frame: int) -> "np.ndarray":
    """Closed-form source pixels [y][x] for one frame."""
    w, h = jpeg_dims(doc_id)
    y = np.arange(h)[:, None]
    x = np.arange(w)[None, :]
    return ((doc_id * 7 + frame * 13 + y * 31 + x * 5) % 256).astype(np.int64)


def _chunk(fourcc: bytes, payload: bytes) -> bytes:
    """RIFF chunk: id + size + data, padded to even (size excludes pad)."""
    pad = b"\x00" if len(payload) % 2 else b""
    return fourcc + struct.pack("<I", len(payload)) + payload + pad


def _list(list_type: bytes, payload: bytes) -> bytes:
    return _chunk(b"LIST", list_type + payload)


def encode_mjpeg(doc_id: int, n_frames: int = MJPEG_FRAMES) -> bytes:
    """Encode the doc's closed-form frames as a real MJPEG AVI any
    conformant player opens: hdrl (avih + vids/MJPG strl), movi with one
    '00dc' baseline-JPEG chunk per frame, idx1 keyframe index."""
    w, h = jpeg_dims(doc_id)
    frames = [
        encode_jpeg_gray_px(mjpeg_frame_pixels(doc_id, f))
        for f in range(n_frames)
    ]
    avih = struct.pack(
        "<14I",
        100000,  # dwMicroSecPerFrame (10 fps)
        0,  # dwMaxBytesPerSec
        0,  # dwPaddingGranularity
        0x10,  # dwFlags: AVIF_HASINDEX
        n_frames,  # dwTotalFrames
        0,  # dwInitialFrames
        1,  # dwStreams
        0,  # dwSuggestedBufferSize
        w,
        h,
        0, 0, 0, 0,  # dwReserved[4]
    )
    strh = (
        b"vids"
        + b"MJPG"
        + struct.pack(
            "<IHHIIIIIIII",
            0,  # dwFlags
            0,  # wPriority
            0,  # wLanguage
            0,  # dwInitialFrames
            1,  # dwScale
            10,  # dwRate (10 fps)
            0,  # dwStart
            n_frames,  # dwLength
            max(len(fb) for fb in frames),  # dwSuggestedBufferSize
            0,  # dwQuality
            0,  # dwSampleSize
        )
        + struct.pack("<4h", 0, 0, w, h)  # rcFrame
    )
    strf = struct.pack(
        "<IiiHH4sIiiII",
        40,  # biSize
        w,
        h,
        1,  # biPlanes
        24,  # biBitCount
        b"MJPG",  # biCompression
        w * h * 3,  # biSizeImage
        0, 0, 0, 0,
    )
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh) + _chunk(b"strf", strf)),
    )
    movi_payload = b""
    idx_entries = []
    for fb in frames:
        # idx1 offsets point at the chunk ID, relative to the 'movi'
        # fourcc start
        idx_entries.append((4 + len(movi_payload), len(fb)))
        movi_payload += _chunk(b"00dc", fb)
    movi = _list(b"movi", movi_payload)
    idx1 = _chunk(
        b"idx1",
        b"".join(
            b"00dc" + struct.pack("<III", 0x10, off, sz)  # AVIIF_KEYFRAME
            for off, sz in idx_entries
        ),
    )
    riff_payload = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_payload)) + riff_payload


def decode_mjpeg(data: bytes) -> tuple[int, int, list["np.ndarray"]]:
    """Full MJPEG/AVI decode: validate the RIFF/'AVI ' form, read the
    avih header, walk to the 'movi' LIST skipping unknown chunks by size
    (honoring even-padding), decode every '00dc' chunk through the real
    baseline-JPEG decoder, and cross-check frame count and dimensions
    against the header. Returns (width, height, [frame pixels])."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI stream")
    riff_end = 8 + struct.unpack("<I", data[4:8])[0]
    # --- header pass: find avih inside LIST hdrl ---
    avih = None
    pos = 12
    while pos + 8 <= riff_end:
        cid = data[pos : pos + 4]
        sz = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        if cid == b"LIST" and data[pos + 8 : pos + 12] == b"hdrl":
            hpos, hend = pos + 12, pos + 8 + sz
            while hpos + 8 <= hend:
                hid = data[hpos : hpos + 4]
                hsz = struct.unpack("<I", data[hpos + 4 : hpos + 8])[0]
                if hid == b"avih":
                    avih = struct.unpack(
                        "<14I", data[hpos + 8 : hpos + 8 + 56]
                    )
                    break
                hpos += 8 + hsz + (hsz & 1)
            break
        pos += 8 + sz + (sz & 1)
    if avih is None:
        raise ValueError("no avih header")
    n_frames, w_hdr, h_hdr = avih[4], avih[8], avih[9]
    # --- movi pass ---
    frames: list[np.ndarray] = []
    w = h = -1
    pos = 12
    while pos + 8 <= riff_end:
        cid = data[pos : pos + 4]
        sz = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        if cid == b"LIST" and data[pos + 8 : pos + 12] == b"movi":
            mpos, mend = pos + 12, pos + 8 + sz
            while mpos + 8 <= mend:
                mid = data[mpos : mpos + 4]
                msz = struct.unpack("<I", data[mpos + 4 : mpos + 8])[0]
                if mid == b"00dc":
                    fw, fh, px = decode_jpeg(
                        data[mpos + 8 : mpos + 8 + msz]
                    )
                    if (w, h) not in ((-1, -1), (fw, fh)):
                        raise ValueError("frame dimension change mid-stream")
                    w, h = fw, fh
                    frames.append(px)
                mpos += 8 + msz + (msz & 1)  # sizes exclude the pad byte
            break
        pos += 8 + sz + (sz & 1)
    if len(frames) != n_frames:
        raise ValueError(
            f"avih declares {n_frames} frames, movi carries {len(frames)}"
        )
    if frames and (w, h) != (w_hdr, h_hdr):
        raise ValueError("avih dimensions disagree with decoded frames")
    return w, h, frames


# --- DataFrame plumbing (the codec stage) --------------------------------------


def attach_mjpeg_video(docs: "DataFrame") -> "DataFrame":
    """documents -> (doc_id, avi binary): per-doc deterministic MJPEG/AVI
    bytes through the codec stage; spread off file-count parallelism by
    the shared guard (operators/parallelize.py)."""
    return codec_stage(
        spread_for_python_stage(docs.select("doc_id")),
        lambda d: {"avi": encode_mjpeg(d)},
        "doc_id",
        "doc_id long, avi binary",
    )


def _mjpeg_pixel_rows(blob: bytes) -> dict:
    _, _, frames = decode_mjpeg(blob)
    px = np.stack(frames)  # [frame][y][x]
    f, y, x = np.indices(px.shape)
    return {
        "frame_idx": f.ravel(),
        "y": y.ravel(),
        "x": x.ravel(),
        "recon": px.ravel(),
        "dabs": np.abs(np.diff(px, axis=0, prepend=px[:1])).ravel(),  # frame 0: 0
    }


def decode_mjpeg_pixels(videos: "DataFrame") -> "DataFrame":
    """(doc_id, avi) -> long-format reconstructed pixels
    (doc_id, frame_idx, y, x, recon, dabs): the REAL decode path — RIFF
    walk, per-frame Huffman decode, exact IDCT — feeding relational frame
    statistics. ``dabs`` is the per-pixel |recon - prev_frame_recon|
    (0 for frame 0): the decoder holds consecutive frames in hand anyway,
    so emitting the motion delta here costs one vectorized subtraction —
    the alternative (a pixel-keyed self-join between frames f and f-1)
    shuffles the ENTIRE fan-out twice and forces a materialization
    between two consumers, which is exactly the shape that fell over at
    the 10x scale check (77M-row localCheckpoint + broadcast OOM). One
    consumer, one groupBy, no checkpoint. Per-doc fan-out stays bounded
    (frames x <=384 px)."""
    return codec_stage(
        videos,
        _mjpeg_pixel_rows,
        "avi",
        "doc_id long, frame_idx long, y long, x long, recon long, dabs long",
    )


# --- interleaved A/V mux/demux --------------------------------------------------
#
# The multiplexed-container shape real media pipelines demux: ONE RIFF AVI
# carrying TWO streams — stream 0 'vids'/MJPG (the baseline-JPEG frames
# above) and stream 1 'auds'/PCM-16 (the WAV sample family from
# operators/multimodal.py) — temporally interleaved chunk by chunk
# ('00dc' f0, '01wb' a0, '00dc' f1, ...), the layout that lets a player
# stream both without seeking. Chunk ids carry the STREAM INDEX in their
# first two digits; a demuxer that ignores them mixes the streams.


def av_audio_params(doc_id: int) -> tuple[int, int]:
    """Deterministic per-doc (sample_rate, n_samples) — the WAV family's
    closed form (multimodal.wav_params), so the oracle regenerates the
    audio stream without bytes."""
    return 8000 + (doc_id % 3) * 4000, doc_id % 50 + 20


def av_audio_samples(doc_id: int) -> "np.ndarray":
    """int16 PCM: s[i] = ((doc_id*31 + i*17) mod 2001) - 1000."""
    _, n = av_audio_params(doc_id)
    i = np.arange(n)
    return ((doc_id * 31 + i * 17) % 2001 - 1000).astype(np.int16)


def encode_avi_av(doc_id: int, n_frames: int = MJPEG_FRAMES) -> bytes:
    """Encode a real two-stream AVI: avih declares 2 streams, strl #0 is
    vids/MJPG, strl #1 is auds/PCM-16 (WAVEFORMATEX strf), and the movi
    LIST interleaves '00dc' JPEG frames with '01wb' contiguous PCM spans
    (span f = samples[floor(n*f/4) : floor(n*(f+1)/4)])."""
    w, h = jpeg_dims(doc_id)
    rate, n = av_audio_params(doc_id)
    samples = av_audio_samples(doc_id)
    frames = [
        encode_jpeg_gray_px(mjpeg_frame_pixels(doc_id, f))
        for f in range(n_frames)
    ]
    spans = [
        samples[n * f // n_frames : n * (f + 1) // n_frames].tobytes()
        for f in range(n_frames)
    ]
    avih = struct.pack(
        "<14I", 100000, 0, 0, 0x10, n_frames, 0, 2, 0, w, h, 0, 0, 0, 0
    )
    strh_v = (
        b"vids" + b"MJPG"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, 10, 0, n_frames,
                      max(len(fb) for fb in frames), 0, 0)
        + struct.pack("<4h", 0, 0, w, h)
    )
    strf_v = struct.pack(
        "<IiiHH4sIiiII", 40, w, h, 1, 24, b"MJPG", w * h * 3, 0, 0, 0, 0
    )
    strh_a = (
        b"auds" + b"\x00\x00\x00\x00"
        + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, rate, 0, n,
                      max(len(s) for s in spans) if spans else 0, 0, 2)
        + struct.pack("<4h", 0, 0, 0, 0)
    )
    strf_a = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    hdrl = _list(
        b"hdrl",
        _chunk(b"avih", avih)
        + _list(b"strl", _chunk(b"strh", strh_v) + _chunk(b"strf", strf_v))
        + _list(b"strl", _chunk(b"strh", strh_a) + _chunk(b"strf", strf_a)),
    )
    movi_payload = b""
    idx_entries = []
    for f in range(n_frames):
        idx_entries.append((b"00dc", 4 + len(movi_payload), len(frames[f])))
        movi_payload += _chunk(b"00dc", frames[f])
        idx_entries.append((b"01wb", 4 + len(movi_payload), len(spans[f])))
        movi_payload += _chunk(b"01wb", spans[f])
    movi = _list(b"movi", movi_payload)
    idx1 = _chunk(
        b"idx1",
        b"".join(
            cid + struct.pack("<III", 0x10, off, sz)
            for cid, off, sz in idx_entries
        ),
    )
    riff_payload = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(riff_payload)) + riff_payload


def decode_avi_av(
    data: bytes,
) -> tuple[int, int, list["np.ndarray"], int, "np.ndarray"]:
    """Full A/V demux: validate the RIFF form, read avih + BOTH stream
    headers (strl order assigns stream indices), walk movi routing chunks
    BY STREAM INDEX ('00dc' -> JPEG decode, '01wb' -> int16 PCM append,
    interleaving-agnostic), then cross-check frame count, dimensions,
    total sample count, and sample rate against the declared headers.
    Returns (width, height, frames, sample_rate, samples)."""
    if data[:4] != b"RIFF" or data[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI stream")
    riff_end = 8 + struct.unpack("<I", data[4:8])[0]
    avih = None
    streams: list[tuple[bytes, tuple]] = []  # (fccType, strh fields)
    auds_rate = None
    pos = 12
    while pos + 8 <= riff_end:
        cid = data[pos : pos + 4]
        sz = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        if cid == b"LIST" and data[pos + 8 : pos + 12] == b"hdrl":
            hpos, hend = pos + 12, pos + 8 + sz
            while hpos + 8 <= hend:
                hid = data[hpos : hpos + 4]
                hsz = struct.unpack("<I", data[hpos + 4 : hpos + 8])[0]
                if hid == b"avih":
                    avih = struct.unpack("<14I", data[hpos + 8 : hpos + 64])
                elif hid == b"LIST" and data[hpos + 8 : hpos + 12] == b"strl":
                    spos, send = hpos + 12, hpos + 8 + hsz
                    ftype = None
                    while spos + 8 <= send:
                        sid = data[spos : spos + 4]
                        ssz = struct.unpack(
                            "<I", data[spos + 4 : spos + 8]
                        )[0]
                        if sid == b"strh":
                            ftype = data[spos + 8 : spos + 12]
                            fields = struct.unpack(
                                "<IHHIIIIIIII", data[spos + 16 : spos + 56]
                            )
                            streams.append((ftype, fields))
                        elif sid == b"strf" and ftype == b"auds":
                            auds_rate = struct.unpack(
                                "<HHIIHH", data[spos + 8 : spos + 24]
                            )[2]
                        spos += 8 + ssz + (ssz & 1)
                hpos += 8 + hsz + (hsz & 1)
            break
        pos += 8 + sz + (sz & 1)
    if avih is None or len(streams) != avih[6]:
        raise ValueError("hdrl stream list disagrees with avih dwStreams")
    frames: list[np.ndarray] = []
    pcm: list[bytes] = []
    w = h = -1
    pos = 12
    while pos + 8 <= riff_end:
        cid = data[pos : pos + 4]
        sz = struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        if cid == b"LIST" and data[pos + 8 : pos + 12] == b"movi":
            mpos, mend = pos + 12, pos + 8 + sz
            while mpos + 8 <= mend:
                mid = data[mpos : mpos + 4]
                msz = struct.unpack("<I", data[mpos + 4 : mpos + 8])[0]
                if not mid[:2].isdigit():
                    # standard non-stream chunks conformant writers emit
                    # inside movi — JUNK padding, 'ix??' sub-indexes,
                    # 'rec ' LISTs — are not ##xx stream records; skip
                    # by size (decode_mjpeg's discipline) instead of
                    # crashing the stream-index parse
                    mpos += 8 + msz + (msz & 1)
                    continue
                sidx = int(mid[:2])
                styp = streams[sidx][0] if sidx < len(streams) else None
                if mid[2:4] == b"dc" and styp == b"vids":
                    fw, fh, px = decode_jpeg(data[mpos + 8 : mpos + 8 + msz])
                    if (w, h) not in ((-1, -1), (fw, fh)):
                        raise ValueError("frame dimension change mid-stream")
                    w, h = fw, fh
                    frames.append(px)
                elif mid[2:4] == b"wb" and styp == b"auds":
                    pcm.append(data[mpos + 8 : mpos + 8 + msz])
                else:
                    raise ValueError(
                        f"chunk {mid!r} routed to stream of type {styp!r}"
                    )
                mpos += 8 + msz + (msz & 1)
            break
        pos += 8 + sz + (sz & 1)
    samples = np.frombuffer(b"".join(pcm), "<i2")
    vids = next(f for t, f in streams if t == b"vids")
    auds = next(f for t, f in streams if t == b"auds")
    if len(frames) != vids[7] or len(frames) != avih[4]:
        raise ValueError("decoded frame count disagrees with headers")
    if frames and (w, h) != (avih[8], avih[9]):
        raise ValueError("avih dimensions disagree with decoded frames")
    if samples.size != auds[7]:
        raise ValueError("decoded sample count disagrees with auds strh")
    if auds_rate is None or auds[5] != auds_rate:
        raise ValueError("auds strh rate disagrees with WAVEFORMATEX")
    return w, h, frames, auds_rate, samples


def attach_av_video(docs: "DataFrame") -> "DataFrame":
    """documents -> (doc_id, avi binary): two-stream interleaved A/V
    container per doc through the codec stage, spread by the shared
    guard."""
    return codec_stage(
        spread_for_python_stage(docs.select("doc_id")),
        lambda d: {"avi": encode_avi_av(d)},
        "doc_id",
        "doc_id long, avi binary",
    )


def _demux_av_row(blob: bytes) -> dict:
    w, h, frames, rate, samples = decode_avi_av(blob)
    s64 = samples.astype(np.int64)
    return {
        "width": w,
        "height": h,
        "n_frames": len(frames),
        "video_recon_sum": int(sum(int(px.sum()) for px in frames)),
        "sample_rate": rate,
        "n_samples": int(s64.size),
        "audio_abs_sum": int(np.abs(s64).sum()),
        "audio_first": int(s64[0]),
        "audio_last": int(s64[-1]),
    }


def demux_av_features(videos: "DataFrame") -> "DataFrame":
    """(doc_id, avi) -> one feature row per doc from the REAL demux:
    video dimensions/frame count + exact-integer reconstruction sum over
    all frames, audio rate/sample count + |sample| sum and first/last
    sample (byte-order and chunk-order pins). Scalar features computed in
    the decoder (exact int64), replayed relationally by the oracle."""
    return codec_stage(
        videos,
        _demux_av_row,
        "avi",
        "doc_id long, width int, height int, n_frames int, "
        "video_recon_sum long, sample_rate int, n_samples int, "
        "audio_abs_sum long, audio_first int, audio_last int",
    )

"""Shared guard for per-row Python stages (VERDICT r11 #8).

Any Arrow-batched codec or feature stage inherits the INPUT's
partition count — and the testdata parquet tables are often a single file,
so without intervention the whole Python stage runs on ONE core (the
round-11 find: color JPEG decode 18.5 s -> 9.7 s once spread). The same
failure mode matters MORE at 100 TB: file-count skew (a few giant files,
or a coalesced upstream stage) serializes the slowest stage in the plan.

Placement rule: the codec stage (``operators/multimodal.codec_stage``)
takes no spreading parameter; an attach site that spreads passes
``spread_for_python_stage(docs.select("doc_id"))`` as the stage's input.
The heavy encoders do — JPEG, JPEG color, MJPEG and the A/V container —
and the BMP, PNG and WAV attaches do not, because spreading them is a
trade that flips with scale (local[4], medians of 5):

- sf0.01: +~0.3 s on each of those queries (``multimodal_decode_bmp``
  0.38 -> 0.73 s);
- sf0.1: the heavy decodes gain (``multimodal_png_phash`` 2.08 -> 1.15 s,
  ``multimodal_image_phash`` 1.33 -> 0.83 s) while the cheap ones lose
  (``multimodal_decode_bmp`` 0.54 -> 0.76 s, ``multimodal_decode_wav``
  0.42 -> 0.58 s).

PERF.md "One codec stage" keeps the re-run of that A/B. The repartition
only happens when the input is actually under-parallel — an already-wide
frame passes through unshuffled.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def spread_for_python_stage(df: DataFrame) -> DataFrame:
    """Ensure ``df`` has at least ``defaultParallelism`` partitions before
    a per-row Python (Arrow-batched) stage; no-op when already wide.
    Row-content-deterministic callers only — the repartition is a round
    robin that reorders rows, so every downstream aggregate must be
    order-free (all codec queries are: per-doc closed-form payloads)."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df

"""The one codec stage (``operators/multimodal.codec_stage``): every media
encode and decode runs through a single Arrow-batched mapper, whose
output is typed by the DDL it declares."""

from __future__ import annotations

import ast
import os
import re

import numpy as np
import pytest

import __spark_entry__ as entrymod
from apache_beam_challange_spark.operators import jpeg, multimodal, video
from apache_beam_challange_spark.operators.multimodal import codec_stage
from apache_beam_challange_spark.sources.driver import ddl_schemas

#: every registered query that runs a codec stage
MEDIA_QUERIES = [
    "multimodal_image_features",
    "multimodal_frame_sample",
    "multimodal_decode_bmp",
    "multimodal_decode_png",
    "multimodal_decode_wav",
    "multimodal_decode_jpeg",
    "multimodal_decode_jpeg_color",
    "multimodal_decode_mjpeg",
    "multimodal_audio_features",
    "multimodal_demux_avi",
    "multimodal_image_phash",
    "multimodal_png_phash",
    "image_phash_dup_clusters",
    "image_dct_phash",
    "image_jpeg_dct_phash",
    "audio_dominant_frequency",
]


def test_no_python_map_outside_the_codec_stage():
    pattern = re.compile(r"\.mapInPandas\(|\.mapInArrow\(")
    with open(multimodal.__file__) as f:
        stage = next(
            n
            for n in ast.parse(f.read()).body
            if isinstance(n, ast.FunctionDef) and n.name == "codec_stage"
        )
    hits = []
    for mod in (multimodal, jpeg, video):
        with open(mod.__file__) as f:
            for lineno, line in enumerate(f, 1):
                inside = stage.lineno <= lineno <= stage.end_lineno
                inside = inside and mod is multimodal
                if pattern.search(line) and not inside:
                    hits.append(f"{os.path.basename(mod.__file__)}:{lineno}")
    assert not hits, f"run media kernels through codec_stage: {hits}"


@pytest.mark.parametrize("name", MEDIA_QUERIES)
def test_media_stages_emit_their_declared_ddl(spark, sf_dir, monkeypatch, name):
    stages = []

    def recording(df, kernel, col, ddl):
        out = codec_stage(df, kernel, col, ddl)
        stages.append((out, ddl))
        return out

    for mod in (multimodal, jpeg, video):
        monkeypatch.setattr(mod, "codec_stage", recording)
    entrymod.all_queries()[name](spark, sf_dir)
    assert stages
    for out, ddl in stages:
        schema, arrow = ddl_schemas(ddl)
        assert out.schema == schema
        table = out.toArrow()
        assert table.num_rows > 0
        assert table.schema == arrow


def test_codec_stage_fans_out_and_skips_empty_batches(spark):
    docs = spark.range(0, 4, numPartitions=2).withColumnRenamed("id", "doc_id")

    def rows(d):
        return {"i": np.arange(d), "v": np.full(d, d * 10)}

    out = codec_stage(docs, rows, "doc_id", "doc_id bigint, i int, v bigint")
    got = sorted(map(tuple, out.collect()))
    assert got == [(d, i, d * 10) for d in range(4) for i in range(d)]
    empty = codec_stage(docs.limit(0), rows, "doc_id", "doc_id bigint, i int, v bigint")
    assert empty.collect() == []

"""The schema-memoized parquet reader (``sources/catalog.read_parquet``):
a repeat read of an unchanged file or committed directory runs no Spark
job, a rewritten file is re-inferred, and missing inputs still raise
Spark's own error."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException

from apache_beam_challange_spark.sources import catalog
from apache_beam_challange_spark.sources.catalog import load_table, read_parquet
from conftest import jobs_fired


@pytest.fixture()
def empty_memo(monkeypatch):
    monkeypatch.setattr(catalog, "_SCHEMAS", {})


def test_second_load_table_fires_no_job(spark, sf_dir, empty_memo):
    first = jobs_fired(spark, lambda: load_table(spark, sf_dir, "lineitem"))
    assert first >= 1, "schema inference no longer runs a job; recount"
    assert jobs_fired(spark, lambda: load_table(spark, sf_dir, "lineitem")) == 0


def test_memoized_read_matches_inferred_read(spark, sf_dir, empty_memo):
    inferred = load_table(spark, sf_dir, "orders")
    memoized = load_table(spark, sf_dir, "orders")
    assert memoized.schema == inferred.schema
    assert sorted(memoized.collect()) == sorted(inferred.collect())


def test_two_reads_self_join(spark, sf_dir, empty_memo):
    """DataFrames are not memoized: two reads carry distinct attribute
    ids, so joining a table to itself resolves."""
    a = load_table(spark, sf_dir, "nation")
    b = load_table(spark, sf_dir, "nation")
    pairs = a.join(b, a["n_regionkey"] == b["n_regionkey"]).count()
    assert pairs == 125  # 5 regions x 5 nations each, squared


def _write_file(spark, path: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), path)


def _write_dir(spark, path: str, cols: dict) -> None:
    spark.createDataFrame(pd.DataFrame(cols)).write.mode("overwrite").parquet(path)


@pytest.mark.parametrize("write", [_write_file, _write_dir], ids=["file", "dir"])
def test_rewrite_at_same_path_is_reinferred(spark, tmp_path, write, empty_memo):
    path = str(tmp_path / "t.parquet")
    write(spark, path, {"a": [1, 2, 3]})
    assert read_parquet(spark, path).columns == ["a"]
    assert read_parquet(spark, path).columns == ["a"]  # memoized
    write(spark, path, {"b": ["x", "y"], "c": [1.5, 2.5]})
    df = read_parquet(spark, path)
    assert df.columns == ["b", "c"]
    assert sorted(df.collect()) == [("x", 1.5), ("y", 2.5)]


def test_second_read_of_warehouse_dir_fires_no_job(
    spark, sf_dir, tmp_path, monkeypatch, empty_memo
):
    from apache_beam_challange_spark.plans.extensions import minhash_sigs_at_rest

    monkeypatch.setenv("SPARK_GRAFT_WAREHOUSE", str(tmp_path))
    built = minhash_sigs_at_rest(spark, sf_dir)  # materializes, then reads
    assert jobs_fired(spark, lambda: minhash_sigs_at_rest(spark, sf_dir)) == 0
    again = minhash_sigs_at_rest(spark, sf_dir)
    assert again.schema == built.schema
    assert again.count() == built.count()


def test_missing_table_still_raises_spark_error(spark, tmp_path):
    with pytest.raises(AnalysisException):
        load_table(spark, str(tmp_path), "lineitem")

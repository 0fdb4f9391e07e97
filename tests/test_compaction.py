"""Small-file compaction (sources/sinks.py:compact_parquet)."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from apache_beam_challange_spark.sources.sinks import compact_parquet
from conftest import TESTDATA_ROOT


def _parquet_files(path):
    return glob.glob(f"{path}/*.parquet")


def test_compaction_reduces_files_preserves_content(spark, sf_dir, tmp_path):
    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(64).write.parquet(src)
    assert len(_parquet_files(src)) == 64

    n = compact_parquet(spark, src, dst, target_file_bytes=8 * 1024 * 1024)
    assert len(_parquet_files(dst)) == n < 64

    before = sorted(tuple(r) for r in spark.read.parquet(src).collect())
    after = sorted(tuple(r) for r in spark.read.parquet(dst).collect())
    assert before == after


def test_compaction_with_sort_clusters_stats(spark, sf_dir, tmp_path):
    import pyarrow.parquet as pq

    src = str(tmp_path / "fragmented")
    dst = str(tmp_path / "compacted_sorted")
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    ev.repartition(16).write.parquet(src)

    import os

    total = sum(os.path.getsize(f) for f in _parquet_files(src))
    compact_parquet(
        spark, src, dst, target_file_bytes=total // 4 + 1, sort_by=["user_id"]
    )
    files = _parquet_files(dst)
    assert len(files) > 1
    # range partitioning + in-file sort -> per-FILE user_id ranges are
    # mostly disjoint, so file-level stats prune like partitions would
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = md.schema.names.index("user_id")
        mins = [md.row_group(g).column(idx).statistics.min for g in range(md.num_row_groups)]
        maxs = [md.row_group(g).column(idx).statistics.max for g in range(md.num_row_groups)]
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    overlaps = sum(
        1 for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]) if b_lo < a_hi
    )
    assert overlaps <= 1, ranges

    after = spark.read.parquet(dst)
    assert after.count() == ev.count()
    assert after.groupBy().agg(F.sum("user_id")).head()[0] == \
        ev.groupBy().agg(F.sum("user_id")).head()[0]


def test_zorder_compaction_clusters_both_dims(spark, tmp_path):
    """compact_parquet(zorder_by=...) must leave per-file min/max ranges
    narrow on BOTH key columns — the two-dimensional upgrade over
    sort_by's one clustered column."""
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from apache_beam_challange_spark.sources.sinks import compact_parquet

    src = str(tmp_path / "src")
    (
        spark.read.parquet(f"{TESTDATA_ROOT}/sf0.01/orders.parquet")
        .select(
            "o_orderkey",
            "o_custkey",
            F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
            .cast("long")
            .alias("day"),
        )
        .repartition(16)
        .write.mode("overwrite")
        .parquet(src)
    )
    zdst = str(tmp_path / "zdst")
    sdst = str(tmp_path / "sdst")
    n_z = compact_parquet(
        spark, src, zdst, target_file_bytes=16 * 1024, zorder_by=("o_custkey", "day")
    )
    compact_parquet(spark, src, sdst, target_file_bytes=16 * 1024, sort_by=["o_custkey"])
    assert n_z > 3

    def file_ranges(path, col):
        out = []
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            mn = min(
                md.row_group(i).column(idx).statistics.min
                for i in range(md.num_row_groups)
            )
            mx = max(
                md.row_group(i).column(idx).statistics.max
                for i in range(md.num_row_groups)
            )
            out.append((mn, mx))
        return out

    def avg_width(rs):
        return sum(mx - mn for mn, mx in rs) / len(rs)

    # single-column sort: day spans nearly the full domain per file
    # z-order: BOTH dims clustered — day well below the single-sort width
    assert avg_width(file_ranges(zdst, "day")) < avg_width(file_ranges(sdst, "day")) / 2
    full_cust = max(mx for _, mx in file_ranges(sdst, "o_custkey")) - min(
        mn for mn, _ in file_ranges(sdst, "o_custkey")
    )
    assert avg_width(file_ranges(zdst, "o_custkey")) < full_cust * 0.6
    # content identical to the source
    assert (
        spark.read.parquet(zdst).orderBy("o_orderkey").collect()
        == spark.read.parquet(src).orderBy("o_orderkey").collect()
    )

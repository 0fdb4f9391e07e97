"""Parquet catalog + derived reference-shaped views.

Sources in the reference are ``beam.io.ReadFromBigQuery(query=...)`` calls
(``pipelines/cycle_rides.py:43-46``, ``pipelines/total_distance.py:92-95``)
against ``bigquery-public-data.london_bicycles``. Our engine reads the
driver's parquet tables (``/root/testdata/<sf>/``) with explicit schemas from
the parquet footers — a strict upgrade over the reference's stringly-typed
row dicts (``pipelines/cycle_rides.py:13-14``).

Because the test corpus has no literal ``cycle_hire``/``cycle_stations``
tables, we *derive* their query-shapes deterministically from ``lineitem``
and ``supplier`` — with the derivation expressed twice, once as a DataFrame
transform and once as ANSI-SQL CTE text, so every canonical query has an
exact DuckDB oracle twin:

- ``stations(id, name, latitude, longitude)``: one row per supplier, lat/lon
  laid out on a deterministic London-like grid. ~100 rows at any sf — a
  classic broadcast dimension (mirrors the ~800-row ``cycle_stations``).
- ``rides(ride_id, start_station_id, end_station_id)``: one row per lineitem,
  station ids folded into the supplier key space, with a deterministic ~1-2%
  of NULL station ids to exercise the reference's ``remove_none`` null-filter
  path (``pipelines/total_distance.py:55-57,98``).
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

BASE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# The same derivations as ANSI SQL, inlined into every oracle query that
# needs them (the driver's DuckDB session registers only the base tables).
#: The CASTs are load-bearing: DuckDB types bare numeric literals as
#: DECIMAL and evaluates the whole expression exactly before one final
#: cast to double, which lands on a DIFFERENT double than Spark's
#: per-operation double arithmetic for 19 of the 20 latitude values
#: (measured). Forcing DOUBLE literals makes DuckDB perform the same
#: IEEE op sequence as the engine, so lat/lon are bit-identical and the
#: haversine chain downstream cannot drift a ROUND(...,6) across a
#: boundary at any scale factor.
STATIONS_CTE = """
stations AS (
    SELECT
        s_suppkey AS id,
        s_name    AS name,
        CAST(51.4 AS DOUBLE) + (s_suppkey % 20) * CAST(0.01 AS DOUBLE)
            AS latitude,
        CAST(-0.25 AS DOUBLE)
            + FLOOR(s_suppkey / 20.0) * CAST(0.015 AS DOUBLE) AS longitude
    FROM supplier
)
""".strip()

RIDES_CTE = """
rides AS (
    SELECT
        l_orderkey * 10 + l_linenumber AS ride_id,
        CASE WHEN l_orderkey % 97 = 0 THEN NULL ELSE l_suppkey END      AS start_station_id,
        CASE WHEN l_orderkey % 89 = 3 THEN NULL ELSE l_partkey % 100 END AS end_station_id
    FROM lineitem
)
""".strip()


# Parquet TIMESTAMP(NANOS) columns, read as nano-longs (see session.py) and
# converted here to timestamp_ntz at microsecond precision — exactly how
# DuckDB surfaces them, so oracle comparisons see identical values.
_NANO_TS_COLS = {
    "events": ("ts",),
    "lineitem": ("l_shipdate",),
    "orders": ("o_orderdate",),
}


def warehouse_path(sf_dir: str, layer: str, source_table: str) -> str:
    """Deterministic materialization path for a derived layer (rollups,
    at-rest indexes): keyed by (sf_dir, layer, source file size+mtime) so
    repeated invocations reuse the on-disk artifact and a changed source
    rebuilds it. Root overridable via SPARK_GRAFT_WAREHOUSE (default
    ./spark-warehouse, gitignored)."""
    import hashlib

    src = os.path.join(sf_dir, f"{source_table}.parquet")
    try:
        st = os.stat(src)
    except OSError as e:
        # A missing source must fail loudly: a fallback stamp would let two
        # DIFFERENT missing sources collide on one cache key and serve a
        # stale artifact built from whichever existed first.
        raise FileNotFoundError(
            f"warehouse layer {layer!r} needs source parquet {src}"
        ) from e
    stamp = f"{st.st_size}:{st.st_mtime_ns}"
    key = hashlib.md5(
        f"{os.path.abspath(sf_dir)}|{layer}|{stamp}".encode()
    ).hexdigest()[:16]
    root = os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", os.path.join(os.getcwd(), "spark-warehouse")
    )
    return os.path.join(root, layer, key)


def is_materialized(path: str, parts: tuple[str, ...] = ()) -> bool:
    # check-then-act with a concurrent builder (e.g. bench + correctness
    # runs) can double-build the layer; that is BENIGN by construction —
    # the path is keyed by source content and every build writes identical
    # bytes via mode("overwrite"), with the primary _SUCCESS committed
    # last, so a reader either sees a complete artifact or rebuilds it.
    # Multi-part artifacts (e.g. the IVFPQ codes table + its stored
    # codebooks) must list every sibling directory in ``parts``: the
    # builder commits the siblings BEFORE the primary path, and the check
    # requires _SUCCESS in ALL of them, so a crash mid-sequence can never
    # present a torn artifact as materialized.
    return all(
        os.path.exists(os.path.join(p, "_SUCCESS")) for p in (path, *parts)
    )


#: Parquet schemas already inferred, keyed by (absolute path, stat stamp,
#: nanosAsLong). Spark infers a parquet schema with a footer-reading JOB on
#: every ``spark.read.parquet``; a read whose key is here hands Spark the
#: schema instead. File listing still happens per read, so new part files
#: are seen; a rewritten file or re-committed directory changes the stamp.
_SCHEMAS: dict[tuple, StructType] = {}


def _schema_key(spark: SparkSession, path: str) -> tuple:
    """Raises OSError for a missing path, a non-local URI, or a directory
    without a ``_SUCCESS`` commit marker — all read uncached."""
    path = os.path.abspath(path)
    st = os.stat(path)
    stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    if stat.S_ISDIR(st.st_mode):
        ok = os.stat(os.path.join(path, "_SUCCESS"))
        stamp += (ok.st_ino, ok.st_size, ok.st_mtime_ns)
    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    return (path, stamp, nanos)


def _read_parquet(spark: SparkSession, path: str) -> tuple[DataFrame, StructType]:
    try:
        key = _schema_key(spark, path)
    except OSError:
        df = spark.read.parquet(path)
        return df, df.schema
    schema = _SCHEMAS.get(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path), schema
    df = spark.read.parquet(path)
    schema = _SCHEMAS[key] = df.schema
    return df, schema


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    version. DataFrames are never shared: each call is a fresh relation
    with its own attribute ids, so self-joins of two reads stay valid."""
    return _read_parquet(spark, path)[0]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one base parquet table; schema comes from the parquet footer."""
    from apache_beam_challange_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    df, schema = _read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for c in _NANO_TS_COLS.get(name, ()):
        if c in schema.names and isinstance(schema[c].dataType, LongType):
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` div 1000")).cast("timestamp_ntz")
            )
    return df


def stations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived station dimension (shape of ``cycle_stations`` as queried,
    ``pipelines/stations.py:57-59`` / ``pipelines/total_distance.py:103-106``)."""
    s = load_table(spark, sf_dir, "supplier")
    return s.select(
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        (F.lit(51.4) + (F.col("s_suppkey") % 20) * 0.01).alias("latitude"),
        (F.lit(-0.25) + F.floor(F.col("s_suppkey") / 20.0) * 0.015).alias("longitude"),
    )


def rides(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derived ride fact (shape of ``cycle_hire`` as queried,
    ``pipelines/cycle_rides.py:38-40``), with deterministic NULLs."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        (F.col("l_orderkey") * 10 + F.col("l_linenumber")).alias("ride_id"),
        F.when(F.col("l_orderkey") % 97 == 0, F.lit(None))
        .otherwise(F.col("l_suppkey"))
        .alias("start_station_id"),
        F.when(F.col("l_orderkey") % 89 == 3, F.lit(None))
        .otherwise(F.col("l_partkey") % 100)
        .alias("end_station_id"),
    )


def register_views(
    spark: SparkSession, sf_dir: str, tables: tuple[str, ...] | None = None
) -> None:
    """Register base tables plus the derived rides/stations views as temp
    views, enabling the ``spark.sql`` facade (the engine's analog of the
    reference's SQL-pushdown route, ``pipelines/sql_cycle_rides.py:35-41``).
    ``tables`` restricts registration for callers that know their footprint
    (view registration is lazy, but each one still reads a parquet footer)."""
    for name in tables if tables is not None else BASE_TABLES:
        if name == "stations":
            stations(spark, sf_dir).createOrReplaceTempView("stations")
        elif name == "rides":
            rides(spark, sf_dir).createOrReplaceTempView("rides")
        else:
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    if tables is None:
        stations(spark, sf_dir).createOrReplaceTempView("stations")
        rides(spark, sf_dir).createOrReplaceTempView("rides")

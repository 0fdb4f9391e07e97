"""The four canonical queries of the reference (SURVEY.md §3.0), on the
derived rides/stations views.

- Q1 "easy": whole query as SQL text (reference pushes it into BigQuery,
  ``pipelines/sql_cycle_rides.py:35-41``; here Catalyst plans it).
- Q2 "hard": the same result composed from engine operators (reference
  re-implements it in Beam transforms, ``pipelines/cycle_rides.py:48-63``).
  We label columns correctly — the reference's output mapping at
  ``cycle_rides.py:55`` swaps start/end vs its own CSV header at ``:63``;
  we implement the sane labeling and document the divergence here.
- Q3: all-pairs station distances (``pipelines/stations.py:62-77``),
  self-pairs and both orientations kept.
- Q4 flagship: ride counts ⟗ pair distances -> total km per pair, zero-filled
  (``pipelines/total_distance.py:85-133``); plus the stricter drop-missing
  variant from ``notebooks/development copy.ipynb`` (its ``Filter None``
  stage).

Determinism: every top-k gets full-key tie-breakers with explicit NULLS LAST
(Spark and DuckDB default null ordering differs); every floating column is
rounded to 6 decimals in both twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from apache_beam_challange_spark.functions.geo import (
    geodesic_km_udf,
    haversine_km,
    haversine_km_sql,
)
from apache_beam_challange_spark.operators.joins import all_pairs, full_outer_zero_fill
from apache_beam_challange_spark.operators.relational import (
    drop_null_rows,
    group_count,
    project,
    top_k,
)
from apache_beam_challange_spark.plans.registry import query
from apache_beam_challange_spark.sources.catalog import (
    RIDES_CTE,
    STATIONS_CTE,
    register_views,
    rides,
    stations,
)
from apache_beam_challange_spark.sources.driver import local_frame

_PAIR_COUNT_SQL = f"""
WITH {RIDES_CTE}
SELECT
    start_station_id,
    end_station_id,
    COUNT(*) AS amount_of_rides
FROM rides
GROUP BY start_station_id, end_station_id
ORDER BY amount_of_rides DESC,
         start_station_id ASC NULLS LAST,
         end_station_id ASC NULLS LAST
LIMIT 100
""".strip()


@query("q1_sql_top_pairs", oracle=_PAIR_COUNT_SQL)
def q1_sql_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 via the SQL facade — one SQL string end to end, like the reference's
    BigQuery pushdown route (``pipelines/sql_cycle_rides.py:35-41``)."""
    # the query text inlines the rides CTE over lineitem (shared verbatim
    # with the DuckDB oracle, which only knows base tables)
    register_views(spark, sf_dir, tables=("lineitem",))
    return spark.sql(_PAIR_COUNT_SQL)


@query("q2_top_pairs_ops", oracle=_PAIR_COUNT_SQL)
def q2_top_pairs_ops(
    spark: SparkSession, sf_dir: str, *, faithful: bool = False, k: int = 100
) -> DataFrame:
    """Q1's result recomputed through composed operators (project ->
    group-count -> top-k), the reference's "hard" route
    (``pipelines/cycle_rides.py:48-57``). NULL station groups are kept, as
    COUNT(*) GROUP BY does; ties broken by full key.

    ``faithful=True`` emits the reference's byte-compatible (buggy) layout:
    its rename at ``cycle_rides.py:55`` maps the pair to (end, start, count)
    while the CSV header at ``:63`` still claims (start, end, amount) — so
    the column NAMED start_station_id carries END ids. Default mode keeps
    the corrected labeling (divergence documented in the module header)."""
    r = project(rides(spark, sf_dir), "start_station_id", "end_station_id")
    counts = group_count(r, ["start_station_id", "end_station_id"])
    out = top_k(
        counts,
        k,
        order=[
            F.col("amount_of_rides").desc(),
            F.col("start_station_id").asc_nulls_last(),
            F.col("end_station_id").asc_nulls_last(),
        ],
    )
    if faithful:
        out = out.select(
            F.col("end_station_id").alias("start_station_id"),
            F.col("start_station_id").alias("end_station_id"),
            "amount_of_rides",
        )
    return out


_Q3_SQL = f"""
WITH {STATIONS_CTE}
SELECT
    s1.id   AS id_1,
    s1.name AS name_1,
    s2.id   AS id_2,
    s2.name AS name_2,
    ROUND({haversine_km_sql('s1.latitude', 's1.longitude', 's2.latitude', 's2.longitude')}, 6)
        AS distance_km
FROM stations s1
CROSS JOIN stations s2
""".strip()


@query("q3_station_distances", oracle=_Q3_SQL)
def q3_station_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3: all ordered station pairs with haversine distance
    (``pipelines/stations.py:62-77``). The reference funnels this through a
    single-key CoGroupByKey on one worker; here it is a broadcast
    nested-loop join, parallel over left partitions."""
    pairs = all_pairs(stations(spark, sf_dir))
    return pairs.select(
        F.col("id_1"),
        F.col("name_1"),
        F.col("id_2"),
        F.col("name_2"),
        F.round(
            haversine_km(
                F.col("latitude_1"), F.col("longitude_1"),
                F.col("latitude_2"), F.col("longitude_2"),
            ),
            6,
        ).alias("distance_km"),
    )


_Q3_GEODESIC_SQL = f"""
WITH {STATIONS_CTE}
SELECT
    s1.id AS id_1,
    s2.id AS id_2,
    ROUND({haversine_km_sql('s1.latitude', 's1.longitude', 's2.latitude', 's2.longitude')}, 6)
        AS haversine_km,
    TRUE AS within_bound
FROM stations s1
CROSS JOIN stations s2
""".strip()


@query("q3_station_distances_geodesic", oracle=_Q3_GEODESIC_SQL)
def q3_station_distances_geodesic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1 geodesic parity mode: WGS-84 geodesic distance per station pair
    via a vectorized pandas UDF (geopy/Karney when importable, in-repo
    Vincenty otherwise — sub-mm apart; pipelines/stations.py:18-22). The
    geodesic value itself has no SQL twin, so the oracle-checked contract
    is (a) the haversine column, bit-equal both engines, and (b)
    ``within_bound``: every pair's |geodesic − haversine| must sit inside
    the documented ≤0.8% relative envelope — a mis-implemented geodesic
    (wrong ellipsoid, degrees/radians mixups, divergent iteration) lands
    outside and hash-fails. Exact geodesic values are golden-tested in
    tests/test_operators.py against Vincenty's published test line."""
    pairs = all_pairs(stations(spark, sf_dir))
    geo = geodesic_km_udf()(
        F.col("latitude_1"), F.col("longitude_1"),
        F.col("latitude_2"), F.col("longitude_2"),
    )
    hav = haversine_km(
        F.col("latitude_1"), F.col("longitude_1"),
        F.col("latitude_2"), F.col("longitude_2"),
    )
    return pairs.select(
        F.col("id_1"),
        F.col("id_2"),
        F.round(hav, 6).alias("haversine_km"),
        (F.abs(geo - hav) <= F.greatest(hav * 0.008, F.lit(1e-6))).alias(
            "within_bound"
        ),
    )


def _q4_sql(strict: bool) -> str:
    join_kind = "JOIN" if strict else "FULL OUTER JOIN"
    return f"""
WITH {RIDES_CTE},
{STATIONS_CTE},
counts AS (
    SELECT start_station_id, end_station_id, COUNT(*) AS amount_of_rides
    FROM rides
    WHERE start_station_id IS NOT NULL AND end_station_id IS NOT NULL
    GROUP BY start_station_id, end_station_id
),
dists AS (
    SELECT
        s1.id AS start_station_id,
        s2.id AS end_station_id,
        {haversine_km_sql('s1.latitude', 's1.longitude', 's2.latitude', 's2.longitude')}
            AS distance_raw
    FROM stations s1
    CROSS JOIN stations s2
)
SELECT
    COALESCE(c.start_station_id, d.start_station_id) AS start_station_id,
    COALESCE(c.end_station_id, d.end_station_id)     AS end_station_id,
    COALESCE(c.amount_of_rides, 0)                   AS amount_of_rides,
    ROUND(COALESCE(d.distance_raw, 0), 6)            AS distance_km,
    ROUND(COALESCE(c.amount_of_rides, 0) * COALESCE(d.distance_raw, 0), 6) AS total_km
FROM counts c
{join_kind} dists d
    ON c.start_station_id = d.start_station_id
   AND c.end_station_id = d.end_station_id
""".strip()


def _q4_frame(
    spark: SparkSession, sf_dir: str, strict: bool, faithful: bool = False
) -> DataFrame:
    r = drop_null_rows(
        project(rides(spark, sf_dir), "start_station_id", "end_station_id")
    )
    counts = group_count(r, ["start_station_id", "end_station_id"])
    pairs = all_pairs(stations(spark, sf_dir))
    dists = pairs.select(
        F.col("id_1").alias("start_station_id"),
        F.col("id_2").alias("end_station_id"),
        haversine_km(
            F.col("latitude_1"), F.col("longitude_1"),
            F.col("latitude_2"), F.col("longitude_2"),
        ).alias("distance_raw"),
    )
    if strict:
        joined = counts.join(dists, ["start_station_id", "end_station_id"], "inner")
    else:
        joined = full_outer_zero_fill(
            counts, dists,
            on=["start_station_id", "end_station_id"],
            fill={"amount_of_rides": 0, "distance_raw": 0.0},
            faithful=faithful,
        )
    return joined.select(
        "start_station_id",
        "end_station_id",
        F.col("amount_of_rides").cast("long").alias("amount_of_rides"),
        F.round(F.col("distance_raw"), 6).alias("distance_km"),
        F.round(F.col("amount_of_rides") * F.col("distance_raw"), 6).alias("total_km"),
    )


@query("q4_total_distance", oracle=_q4_sql(strict=False))
def q4_total_distance(
    spark: SparkSession, sf_dir: str, *, faithful: bool = False
) -> DataFrame:
    """Q4 flagship: pair ride-counts full-outer-joined with pair distances,
    ``total_km = rides x distance``, zero-filled when a side is absent —
    the semantics of ``CalculateDistanceAllRides``
    (``pipelines/total_distance.py:14-29,121-124``).

    Default mode fills each absent column independently (a real ride count
    survives a missing distance) — an intentional, documented divergence:
    the reference DoFn zeroes BOTH ``total_rides`` and ``total_distance``
    whenever either side is missing. ``faithful=True`` reproduces that
    byte-compatibly via ``full_outer_zero_fill(..., faithful=True)``."""
    return _q4_frame(spark, sf_dir, strict=False, faithful=faithful)


@query("q4_total_distance_strict", oracle=_q4_sql(strict=True))
def q4_total_distance_strict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4's stricter mode: drop pairs missing either side (the ``Filter
    None`` post-join stage of ``notebooks/development copy.ipynb``) —
    relationally, an inner join."""
    return _q4_frame(spark, sf_dir, strict=True)


_Q4_BY_NAME_SQL = f"""
WITH {RIDES_CTE},
{STATIONS_CTE},
counts AS (
    SELECT s1.name AS start_station_name, s2.name AS end_station_name,
           COUNT(*) AS amount_of_rides
    FROM rides r
    JOIN stations s1 ON r.start_station_id = s1.id
    JOIN stations s2 ON r.end_station_id = s2.id
    GROUP BY s1.name, s2.name
),
dists AS (
    SELECT
        s1.name AS start_station_name,
        s2.name AS end_station_name,
        {haversine_km_sql('s1.latitude', 's1.longitude', 's2.latitude', 's2.longitude')}
            AS distance_raw
    FROM stations s1
    CROSS JOIN stations s2
)
SELECT
    COALESCE(c.start_station_name, d.start_station_name) AS start_station_name,
    COALESCE(c.end_station_name, d.end_station_name)     AS end_station_name,
    COALESCE(c.amount_of_rides, 0)                       AS amount_of_rides,
    ROUND(COALESCE(d.distance_raw, 0), 6)                AS distance_km,
    ROUND(COALESCE(c.amount_of_rides, 0) * COALESCE(d.distance_raw, 0), 6) AS total_km
FROM counts c
FULL OUTER JOIN dists d
    ON c.start_station_name = d.start_station_name
   AND c.end_station_name = d.end_station_name
""".strip()


@query("q4_total_distance_by_name", oracle=_Q4_BY_NAME_SQL)
def q4_total_distance_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4's name-keyed family: the reference parameterizes its key columns
    with ``--input_col`` (id vs name, ``pipelines/total_distance.py:65,
    82-83``). Here the name family resolves ids through two broadcast
    station-dim joins, then runs the identical outer-join/zero-fill plan."""
    st = stations(spark, sf_dir)
    r = drop_null_rows(
        project(rides(spark, sf_dir), "start_station_id", "end_station_id")
    )
    s1 = F.broadcast(
        st.select(F.col("id").alias("__sid"), F.col("name").alias("start_station_name"))
    )
    s2 = F.broadcast(
        st.select(F.col("id").alias("__eid"), F.col("name").alias("end_station_name"))
    )
    named = (
        r.join(s1, r.start_station_id == F.col("__sid"))
        .join(s2, r.end_station_id == F.col("__eid"))
        .select("start_station_name", "end_station_name")
    )
    counts = group_count(named, ["start_station_name", "end_station_name"])
    pairs = all_pairs(st)
    dists = pairs.select(
        F.col("name_1").alias("start_station_name"),
        F.col("name_2").alias("end_station_name"),
        haversine_km(
            F.col("latitude_1"), F.col("longitude_1"),
            F.col("latitude_2"), F.col("longitude_2"),
        ).alias("distance_raw"),
    )
    joined = full_outer_zero_fill(
        counts, dists,
        on=["start_station_name", "end_station_name"],
        fill={"amount_of_rides": 0, "distance_raw": 0.0},
    )
    return joined.select(
        "start_station_name",
        "end_station_name",
        F.col("amount_of_rides").cast("long").alias("amount_of_rides"),
        F.round(F.col("distance_raw"), 6).alias("distance_km"),
        F.round(F.col("amount_of_rides") * F.col("distance_raw"), 6).alias("total_km"),
    )


# Golden micro-fixture rows from the reference notebook
# (notebooks/development.ipynb:305-317, cell 3) — the S2 ``beam.Create``
# in-memory source surface, oracle-twinned via a VALUES table.
_FIXTURE_RIDES = [
    ("Harper Road, The Borough", "Harper Road, The Borough"),
    ("Harper Road, The Borough", "Wellington Arch, Hyde Park"),
    ("Golden Square, Soho", "Albert Gate, Hyde Park"),
    ("Golden Square, Soho", "Albert Gate, Hyde Park"),
    ("Embankment (Savoy), Strand", "Albert Gate, Hyde Park"),
    ("Green Park Station, Mayfair", "Chepstow Villas, Notting Hill"),
    ("Green Park Station, Mayfair", "Chepstow Villas, Notting Hill"),
    ("Green Park Station, Mayfair", "Chepstow Villas, Notting Hill"),
]

_FIXTURE_VALUES = ",\n        ".join(
    "('" + a.replace("'", "''") + "', '" + b.replace("'", "''") + "')"
    for a, b in _FIXTURE_RIDES
)


@query(
    "create_fixture_counts",
    oracle=f"""
WITH fixture(start_station_name, end_station_name) AS (
    VALUES {_FIXTURE_VALUES}
)
SELECT start_station_name, end_station_name, COUNT(*) AS amount_of_rides
FROM fixture
GROUP BY start_station_name, end_station_name
""".strip(),
)
def create_fixture_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 in-memory bounded source (``beam.Create`` of the notebook's 8-row
    fixture) -> group-count: the interactive development path as a query."""
    df = local_frame(
        spark, _FIXTURE_RIDES, "start_station_name string, end_station_name string"
    )
    return group_count(df, ["start_station_name", "end_station_name"])

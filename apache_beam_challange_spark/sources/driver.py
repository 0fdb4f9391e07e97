"""The driver <-> Spark row hand-off, in both directions, over Arrow.

Rows the driver holds — solver results, constant tables, fixtures (the
reference's ``beam.Create`` sources) — enter a plan through
:func:`local_frame`: a typed ``pyarrow.Table`` that Spark turns into a
local relation, so no pickled Python RDD and no Python worker is
involved. Driver-side solves read their parameter-bounded statistics
back through :func:`collect_bounded`, which caps the rows that can
reach the driver before the collect runs and fetches them in one Arrow
job. Nothing else in the package builds a frame from driver rows or
collects a multi-row result into pandas (tests/test_driver_boundary.py
scans for it). :func:`ddl_schemas` is the one DDL -> Spark/Arrow schema
mapping, shared with the Arrow-batched codec stage
(``operators/multimodal.codec_stage``).
"""

from __future__ import annotations

from collections.abc import Iterable

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DataType, StructType


class CollectCapExceeded(RuntimeError):
    """A bounded collect found more rows than its declared cap."""


def ddl_schemas(ddl: str) -> tuple[StructType, pa.Schema]:
    """The Spark schema of the DDL string ``ddl`` and its Arrow twin under
    Spark's own type mapping."""
    schema = DataType.fromDDL(ddl)
    return schema, to_arrow_schema(schema)


def local_frame(
    spark: SparkSession, rows: Iterable[tuple], ddl: str
) -> DataFrame:
    """``rows`` (tuples in ``ddl`` column order; ``None`` is NULL) as a
    DataFrame over a local relation typed by the DDL string ``ddl``."""
    schema, arrow = ddl_schemas(ddl)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.table(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def collect_bounded(df: DataFrame, cap: int) -> list[tuple]:
    """All rows of ``df`` as tuples in column order (NULL is ``None``),
    raising :class:`CollectCapExceeded` when there are more than ``cap``.
    ``limit(cap + 1)`` bounds what the driver receives, and the Arrow
    collect runs one job where ``limit(n).collect()`` escalates through
    several."""
    table = df.limit(cap + 1).toArrow()
    if table.num_rows > cap:
        raise CollectCapExceeded(f"collect exceeds its bound of {cap} rows")
    return list(zip(*(c.to_pylist() for c in table.columns)))

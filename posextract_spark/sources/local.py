"""Literal frames built from Python rows."""

from __future__ import annotations

from typing import Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _parse_datatype_string


def local_frame(spark: SparkSession, rows: Sequence[Sequence], ddl: str) -> DataFrame:
    """The frame of ``rows`` (tuples in ``ddl`` column order). Built from
    an Arrow table, so it plans as a LocalTableScan whatever the Arrow
    conf; ``createDataFrame`` of Python rows, or of pandas with Arrow off,
    plans as ``Scan ExistingRDD``, and every action over it (a broadcast
    included) then runs a Python job. ``createDataFrame`` takes a
    ``pyarrow.Table`` from PySpark 4.0 on (pyproject.toml pins it)."""
    schema = _parse_datatype_string(ddl)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) if rows else [()] * len(schema.fields)
    table = pa.Table.from_arrays(
        [pa.array(list(c), type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table)

"""Keboola base-type bridge.

The reference down-maps staged DuckDB types to Keboola base types in
``convert_base_types`` (reference:
``components/ex-iceberg/src/component.py:110-136``). This module is the
Spark-native equivalent: a pure function from a Spark ``DataType`` to the
same base-type vocabulary, used by the ``meta_describe`` operator and the
CSV export path.

Mapping parity (reference line → here):

- TINYINT/SMALLINT/INTEGER/BIGINT/HUGEINT (+unsigned) → INTEGER  (:112-124)
- REAL, DECIMAL → NUMERIC                                        (:125-126)
- DOUBLE → FLOAT                                                 (:127-128)
- BOOLEAN → BOOLEAN                                              (:129-130)
- TIMESTAMP[_TZ] → TIMESTAMP                                     (:131-132)
- DATE → DATE                                                    (:133-134)
- everything else (strings, UUID, intervals, nested) → STRING    (:135-136)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

BASE_INTEGER = "INTEGER"
BASE_NUMERIC = "NUMERIC"
BASE_FLOAT = "FLOAT"
BASE_BOOLEAN = "BOOLEAN"
BASE_TIMESTAMP = "TIMESTAMP"
BASE_DATE = "DATE"
BASE_STRING = "STRING"


def keboola_base_type(dt: T.DataType) -> str:
    """Map a Spark type to the Keboola base-type vocabulary."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return BASE_INTEGER
    if isinstance(dt, T.DecimalType):
        # HUGEINT parity: pyiceberg surfaces int128 as decimal(38,0) → INTEGER
        if dt.scale == 0 and dt.precision >= 38:
            return BASE_INTEGER
        return BASE_NUMERIC
    if isinstance(dt, T.FloatType):
        return BASE_NUMERIC
    if isinstance(dt, T.DoubleType):
        return BASE_FLOAT
    if isinstance(dt, T.BooleanType):
        return BASE_BOOLEAN
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return BASE_TIMESTAMP
    if isinstance(dt, T.DateType):
        return BASE_DATE
    return BASE_STRING


def describe(df: DataFrame) -> list[tuple[str, str, str]]:
    """(column, spark_type, keboola_base_type) triples — the Spark-native
    ``DESCRIBE out_table`` (reference: ``ex-iceberg/src/component.py:57-66``)."""
    return [
        (f.name, f.dataType.simpleString(), keboola_base_type(f.dataType))
        for f in df.schema.fields
    ]


class UserDataError(ValueError):
    """A value failed coercion to its declared type — surfaced as a user
    error, matching the reference's ``duckdb.ConversionException`` →
    ``UserException`` mapping (``ex-iceberg/src/component.py:83-84``)."""


def stringify_complex(df: DataFrame) -> DataFrame:
    """CSV-path collapse of nested types to STRING via ``to_json``.

    Parity with the reference where arrays/maps/structs reach the CSV sink
    only as strings (``ex-iceberg/src/component.py:135-136``); Parquet path
    keeps them native.
    """
    cols = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType)):
            cols.append(F.to_json(F.col(f.name)).alias(f.name))
        else:
            cols.append(F.col(f.name))
    return df.select(*cols)

"""JVM-fast literal DataFrames.

``SparkSession.createDataFrame(list_of_tuples)`` ships the rows as a
PICKLED Python RDD: every downstream job that scans the frame — a noop
force, a broadcast-exchange build, a union leg — launches Python
workers just to unpickle a handful of literal rows. Measured on
local[32]: forcing a 20-row literal frame costs ~0.45 s per scan;
three such legs under one union cost ~3 s. The pandas + Arrow path
instead lands the rows JVM-side (one Arrow batch, no Python workers at
scan time): ~0.06 s for the same frame.

:func:`local_df` routes through pandas + Arrow when every value is a
plain scalar (str/int/float/bool/None) and no float is NaN:

- None survives an OBJECT-dtype pandas frame unchanged, so NULLs reach
  Arrow as nulls (a typed float64 pandas column would silently turn
  None into NaN — a NULL-vs-NaN semantics change this engine treats as
  distinct);
- literal NaN is excluded the other way around (object-column NaN may
  arrow-convert to null), falling back to the classic path;
- datetimes / arrays / Decimals fall back too — their classic
  conversion semantics are the pinned ones.

The Arrow conversion itself is gated on
``spark.sql.execution.arrow.pyspark.enabled`` — set by
session.get_spark and at the driver-contract import — with PySpark's
own fallback to the classic path (and a ``UserWarning``) if a type is
not Arrow-convertible. Values are unchanged either way: both paths
build the same rows under the same explicit schema; only the physical
scan of the literal data differs. A value the schema cannot hold (an
int past the column's range, a string or bool in an int column) raises
PySpark's type or value error on either path, once.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_SCALARS = (str, int, float, bool, type(None))


def _schema_of(schema) -> StructType:
    if isinstance(schema, StructType):
        return schema
    from pyspark.sql.types import _parse_datatype_string

    return _parse_datatype_string(schema)


def _arrow_safe(rows) -> bool:
    for r in rows:
        for v in r:
            if not isinstance(v, _SCALARS):
                return False
            if isinstance(v, float) and math.isnan(v):
                return False
    return True


def empty_df(spark: SparkSession, schema) -> DataFrame:
    """An empty frame over ``schema`` that never touches the Python-RDD
    path: one Range row of typed NULL casts under a literal-false
    filter, which the optimizer's PruneFilters folds to an empty
    LocalRelation, so collecting it runs no job (an empty
    ``createDataFrame([])`` still parallelizes an empty pickled RDD
    whose every empty partition launches a Python worker — ~0.5 s per
    scan on local[32] — and a bare ``Range(0)`` still runs one
    zero-partition job)."""
    from pyspark.sql import functions as F

    st = _schema_of(schema)
    return (
        spark.range(1)
        .select(*[F.lit(None).cast(f.dataType).alias(f.name) for f in st.fields])
        .where(F.lit(False))
    )


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """A literal DataFrame over ``rows`` with ``schema`` (DDL string or
    StructType), scanned JVM-side when possible (module contract)."""
    rows = rows if isinstance(rows, list) else list(rows)
    st = _schema_of(schema)
    if not rows:
        return empty_df(spark, st)
    if _arrow_safe(rows):
        import pandas as pd

        pdf = pd.DataFrame(
            rows, columns=[f.name for f in st.fields], dtype=object
        )
        return spark.createDataFrame(pdf, st)
    return spark.createDataFrame(rows, st)

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


def release_checkpoint(df: DataFrame) -> None:
    """Free the stored rows of a ``localCheckpoint``'d frame.

    ``DataFrame.unpersist`` only drops what the cache manager holds
    (``cache``/``persist``). A local checkpoint's rows are the blocks of
    the RDD under the frame's ``LogicalRDD`` plan, and ``unpersist``
    leaves them in storage: they stay listed in ``getRDDStorageInfo``
    after it and after a driver GC. This unpersists that RDD (without
    blocking, like ``unpersist``). Call it on the checkpointed frame
    itself, not on a frame derived from it."""
    df._jdf.queryExecution().analyzed().rdd().unpersist(False)


def stored_bytes(df: DataFrame) -> int | None:
    """Bytes a ``localCheckpoint``'d frame holds in storage (memory plus
    disk, from ``getRDDStorageInfo``), or None while it is not a
    checkpoint whose every partition is stored: a frame of any other
    plan, or a lazy checkpoint no job has filled yet. Reading it runs no
    job; it first waits for the listener bus, which carries the block
    updates the storage info is built from."""
    from py4j.java_gateway import is_instance_of

    spark = df.sparkSession
    plan = df._jdf.queryExecution().analyzed()
    if not is_instance_of(
        spark.sparkContext._gateway,
        plan,
        "org.apache.spark.sql.execution.LogicalRDD",
    ):
        return None
    sc = spark.sparkContext._jsc.sc()
    try:
        sc.listenerBus().waitUntilEmpty()
    except Exception:
        return None
    rdd = plan.rdd().id()
    for info in sc.getRDDStorageInfo():
        if info.id() == rdd and info.numCachedPartitions() == info.numPartitions():
            return int(info.memSize()) + int(info.diskSize())
    return None


def size_estimate(df: DataFrame) -> int:
    """The optimizer's size estimate of ``df`` in bytes (no job)."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def conf_bytes(spark: SparkSession, key: str) -> int:
    """A byte-size conf (``"4m"``, ``"4194304"``) in bytes, parsed the
    way Spark parses it."""
    return int(
        spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get(key)
        )
    )


def one_task_bytes(spark: SparkSession) -> int:
    """``spark.sql.files.openCostInBytes`` (4 MiB by default): the size
    up to which a stage gathers its input into one task rather than
    shuffle it. Spark's file scan charges this cost for opening a file,
    so smaller files share a scan task, and on two or more cores one
    larger file splits into two or more scan tasks."""
    return conf_bytes(spark, "spark.sql.files.openCostInBytes")


# plan nodes that keep a frame from running in the task that scans it:
# an exchange (adaptive plans wrap every plan that has one), or a node
# whose RDD is built by running jobs first (a cached relation's plan,
# and subqueries below)
_NOT_IN_PLACE = (
    "org.apache.spark.sql.execution.exchange.Exchange",
    "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec",
    "org.apache.spark.sql.execution.columnar.InMemoryTableScanExec",
)


def one_task(df: DataFrame) -> bool:
    """Whether ``df`` can run whole in one task where it is scanned, so
    ``df.coalesce(1)`` plans no exchange and is ``SinglePartition``:

    1. its physical plan holds no exchange (and no node whose RDD would
       run jobs to be built, so this decision runs none);
    2. its size estimate is at most ``one_task_bytes``, or Spark plans
       it as exactly one partition anyway.

    Below ``openCostInBytes`` Spark still scans each file as a task of
    its own (100 k synth turns in two files, a 2.2 MB estimate: 2
    tasks), and a stage after that scan would shuffle what one task
    can hold. Gathering it gives up that scan parallelism.
    The cap was measured with one ``run_validation`` (a violation sink
    and a checkpoint manifest, 40% of the turns in one conversation,
    two scan files, ``local[2]``, 16 shuffle partitions, 4-vCPU host;
    medians of 7 alternating warm runs after 2 warm-up rounds, the
    other route forced by moving this cap for the window and the stats
    probe only). Just under it, 183 k turns at a 3.85 MiB estimate:
    2.42 s in place against 3.36 s via the exchanges. Just over it,
    205 k turns at 4.28 MiB: 2.86 s via the exchanges against 2.16 s
    forced in place. So the cap costs nothing where it gathers, and
    errs toward the exchange past it."""
    from py4j.java_gateway import is_instance_of

    spark = df.sparkSession
    gateway = spark.sparkContext._gateway
    plan = df._jdf.queryExecution().executedPlan()
    nodes = [plan]
    while nodes:
        node = nodes.pop()
        if not node.subqueries().isEmpty() or any(
            is_instance_of(gateway, node, c) for c in _NOT_IN_PLACE
        ):
            return False
        children = node.children()
        nodes += [children.apply(i) for i in range(children.size())]
    if size_estimate(df) <= one_task_bytes(spark):
        return True
    return plan.execute().getNumPartitions() == 1


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

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


def observed(obs) -> dict | None:
    """The metrics the ``Observation`` ``obs`` collected during the
    action that ran over its frame, as ``Observation.get`` returns them,
    or None when that action reported an empty metrics row.

    Spark completes the observation of every CollectMetrics node in the
    action's analyzed plan, so reading waits for no more than the
    action's end event. A node that leaves the plan before it runs
    reports an empty row: when AQE proves an exchange empty at run time
    it replaces the plan above it with an empty relation, dropping a
    CollectMetrics node below that exchange (the input observation on a
    zero-row micro-batch), and the optimizer's PruneFilters drops one
    under a literal-false filter. ``Observation.get`` cannot convert
    that row (``PythonSQLUtils.toPyRow`` asserts on it), so the JVM
    row's length is read first."""
    if obs._jo.getRow().length() == 0:
        return None
    return obs.get


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


_ADAPTIVE = "org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec"
_RDD_SCAN = "org.apache.spark.sql.execution.RDDScanExec"
_SHUFFLE_DEP = "org.apache.spark.ShuffleDependency"
# plan nodes that keep a frame from running in the task that scans it:
# an exchange, or a node whose RDD is built by running jobs first (a
# cached relation's plan, and the adaptive plans of subqueries)
_NOT_IN_PLACE = (
    "org.apache.spark.sql.execution.exchange.Exchange",
    _ADAPTIVE,
    "org.apache.spark.sql.execution.columnar.InMemoryTableScanExec",
)


def _shuffles(gateway, rdd) -> bool:
    """Whether computing ``rdd`` runs a shuffle: a ``ShuffleDependency``
    in its lineage (a filled local checkpoint's lineage ends at its
    stored blocks)."""
    from py4j.java_gateway import is_instance_of

    seen, todo = set(), [rdd]
    while todo:
        rdd = todo.pop()
        if rdd.id() in seen:
            continue
        seen.add(rdd.id())
        deps = rdd.dependencies()
        for i in range(deps.size()):
            dep = deps.apply(i)
            if is_instance_of(gateway, dep, _SHUFFLE_DEP):
                return True
            todo.append(dep.rdd())
    return False


def one_task(df: DataFrame) -> bool:
    """Whether ``df`` is gathered into one task: ``df.coalesce(1)`` then
    plans no exchange and is ``SinglePartition``, which satisfies a
    window's and an aggregate's distribution. This is the one rule for
    every such step: the stats probe (``stats.bucketed_probe_stats``),
    the conversation window (``violations.window_route``), and the
    verdict's aggregate and lazy bucket grid (``verdict.verdicts``, of
    the violation rows and of the input). Deciding runs no job.

    ``df`` is one task when both hold:

    1. No exchange in what that task would run. The physical plan has
       no exchange, no cached scan and no subquery (whose plans run jobs
       to be built); an adaptive plan is read through to its initial
       plan, where the exchanges are already inserted. A frame backed
       by an RDD (a local checkpoint, a foreachBatch micro-batch) also
       needs an RDD lineage with no shuffle, unless every block of it
       is already stored.
    2. Small enough. The size is the stored bytes when every block of
       ``df`` is stored (``stored_bytes``, exact), else the optimizer's
       estimate. It is at most ``spark.sql.files.openCostInBytes`` and
       at most ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, the
       most AQE gives one reducer (an ``openCostInBytes`` of 0 or an
       advisory size of ``1b`` forces every exchange).

    Why openCostInBytes: Spark's file scan charges it for opening a
    file, so below it files share a scan task and on two or more cores
    one larger file splits into two or more. Below it Spark still scans
    each file as a task of its own (100 k synth turns in two files, a
    2.2 MB estimate: 2 tasks), and a stage after that scan would
    shuffle what one task can hold. Gathering gives up that scan
    parallelism, and on the reduce side
    ``spark.sql.adaptive.coalescePartitions.parallelismFirst`` (the
    default) keeps ``defaultParallelism`` reducers once a shuffle
    passes ``minPartitionSize`` (1 MiB; the 2.1 MB window shuffle of
    that input ran as 2 tasks). Measured with one ``run_validation``
    (a violation sink and a checkpoint manifest, 40% of the turns in
    one conversation, two scan files, ``local[2]``, 16 shuffle
    partitions, 4-vCPU host; medians of 7 alternating warm runs after
    2 warm-up rounds, the other route forced for the window and the
    stats probe only): just under the cap, 183 k turns at a 3.85 MiB
    estimate, 2.42 s in place against 3.36 s via the exchanges; just
    over it, 205 k turns at 4.28 MiB, 2.86 s via the exchanges against
    2.16 s forced in place. So the cap costs nothing where it gathers,
    and errs toward the exchange past it. Past it the gathered stats
    probe's cost follows the number of conversations: via the
    exchanges level 1 combines map-side, so its shuffle carries at
    most one row per conversation and scan task (18 KB on those
    100 k turns, read by one reducer; the level-2 exchange then moves
    18 KB in and 1.8 KB out in a job of one task), while gathered
    the scan, both levels and their merge run in one task. Medians of
    5 alternating collects (``local[2]``, 16 shuffle partitions) of a
    probe that gathered only level 1's output: one-turn conversations
    at a 4.8 MB estimate, 0.72 s gathered against 0.75 s via the
    exchange; 20 turns per conversation at 38 MB, 0.75 s on both;
    one-turn conversations at 57 MB, 5.28 s against 3.84 s.

    Why no exception for a frame Spark plans as one partition: its scan
    is one task on either route, but the reduce side is not. Below the
    cap such a frame gathers like any other (a 3.4 MB file of 170 k
    turns, ``local[2]``: a write of the suite's violations took 1.09 s
    with the window in place against 1.15 s via its exchange). Past it,
    measured
    on a one-partition synth input (20 turns per conversation,
    ``local[2]``, 16 shuffle partitions, 4-vCPU host; medians and
    quartiles of 11 alternating pairs after 2 warm-up rounds, the
    other route forced for that step only). The stats probe's collect:
    at a 23.8 MiB estimate (500 k turns) 0.496 s (0.464-0.520)
    gathered against 0.330 s (0.280-0.389) via the exchanges, at
    57.2 MiB (1.2 M turns) 0.957 s (0.831-0.973) against 0.535 s
    (0.526-0.693), the exchanges faster in 22 of 22 pairs; with
    one-turn conversations, medians of 11 pairs, 0.98 s against 0.80 s
    and 1.88 s against 1.79 s. A write of the suite's
    violations: 2.582 s (2.318-2.631) in place against 2.447 s
    (2.286-2.581), and 5.211 s (4.637-5.568) against 4.989 s
    (4.665-5.339), in place faster in 7 of 22 pairs. So such a frame
    takes the exchanges past ``openCostInBytes`` like any other.

    Why stored bytes: they are exact, where a lazy frame's estimate
    can be far from the rows it yields. A lazy frame is gathered only
    when computing it runs no exchange, as for the violation rows of a
    window in place, which one task computes anyway: the verdict
    aggregate then rides that task, one job instead of a map stage's
    job and the reduce job. A checkpoint that no job has filled yet is
    judged by the lineage it would run: the runner builds the verdict
    over the unfilled checkpoint of a window in place and has it ride
    the sink write that fills it (``runner._ride``), so a run with a
    sink is that one job."""
    from py4j.java_gateway import is_instance_of

    spark = df.sparkSession
    gateway = spark.sparkContext._gateway
    plan = df._jdf.queryExecution().executedPlan()
    if is_instance_of(gateway, plan, _ADAPTIVE):
        plan = plan.initialPlan()
    rdds, nodes = [], [plan]
    while nodes:
        node = nodes.pop()
        if not node.subqueries().isEmpty() or any(
            is_instance_of(gateway, node, c) for c in _NOT_IN_PLACE
        ):
            return False
        if is_instance_of(gateway, node, _RDD_SCAN):
            rdds.append(node.rdd())
        children = node.children()
        nodes += [children.apply(i) for i in range(children.size())]
    stored = stored_bytes(df)
    if stored is None and any(_shuffles(gateway, r) for r in rdds):
        return False
    size = size_estimate(df) if stored is None else stored
    return size <= min(
        conf_bytes(spark, "spark.sql.files.openCostInBytes"),
        conf_bytes(spark, "spark.sql.adaptive.advisoryPartitionSizeInBytes"),
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

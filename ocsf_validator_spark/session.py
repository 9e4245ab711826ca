"""SparkSession factory tuned for the validation workload.

Local mode is the test/bench harness. When spark-submit starts the
JVM (it runs the script, or PySpark launches it from
``PYSPARK_SUBMIT_ARGS`` as ``bin/pyspark`` and notebooks do), the
submit's master and ``--conf`` values win, and the settings below fill
only the keys it leaves unset:

- AQE on (shuffle coalescing + skew-join splitting) so a 10^12-turn
  table with a few pathological conversations doesn't strand tasks.
- shuffle partitions sized to cores locally. AQE only coalesces down
  from this initial count, so on a cluster pass
  ``--conf spark.sql.shuffle.partitions`` sized to the data.
- Arrow enabled for pandas interchange: ``localframe.local_df``
  builds literal frames through pandas + Arrow, and the remaining
  ``mapInPandas`` / ``applyInPandas`` legs exchange Arrow batches (no
  per-row Python anywhere in the engine — BASELINE.json input_hint).
- ``spark.sql.optimizer.windowGroupLimitThreshold`` at the int maximum:
  per-group top-k (``row_number() <= k``) keeps its ``WindowGroupLimit``
  Partial stage before the exchange only while k is at most the
  threshold (default 1000), and ``--max-violation-rows`` is user-set,
  so any finite value leaves a cliff (every row of a hot group crossing
  the exchange to one reducer) right above it.
- ``spark.io.compression.codec=zstd`` for every shuffle, spill and
  broadcast block: the fused window's exchange carries most of a run's
  shuffle bytes, much of it free text (the Unique tie column), and zstd
  writes about half of what lz4 does (perfbench ``batch_skew`` 7.88 ->
  4.10 MiB per pass on a 4-vCPU host). The cost is native memory and
  CPU. Each open zstd stream holds about 0.7 MiB outside the heap, and
  Spark's bypass-merge shuffle writer (which it picks at <= 200 reduce
  partitions with no map-side combine, as on the window exchange)
  keeps one open per reduce partition in every running map task. Peak
  RSS against lz4, default heap setup: +3.4% on perfbench
  ``batch_skew`` (4 partitions); at 8 M turns on ``local[4]``, +14%
  with 16 partitions (executor time +15%) and +27% with 200
  (4230-4287 -> 5299-5577 MiB). Spark's own rule picks the writer.
- ``spark.buffer.pageSize`` of 4 MiB - 16 B: the page is the
  allocation unit of every Tungsten memory consumer (the window's
  sorter, hash aggregates' maps, sort-aggregate and window spill
  buffers, the sort-based shuffle writer), and each one takes a whole
  page on its first row. Spark sizes the page from the heap and the
  cores, not the data (32 MiB on ``local[2]`` with a 2 GiB heap,
  64 MiB on ``local[4]`` with 8 GiB), and an on-heap page is a
  zero-filled ``long[]``, so it enters RSS in full even when the task
  holds 40 rows. A record larger than a page gets a page of its own
  size, so no record limit follows. About 4 MiB and not less because
  the task's page table has 8,192 entries: such pages still address
  32 GiB per task, 1 MiB pages would cap a task at 8 GiB. 16 B less
  than 4 MiB because that is a ``long[]``'s header: the page's array
  is then exactly 4 MiB and fills whole G1 regions (four at a 2 GiB
  heap, one at 8 GiB), where a 4 MiB page's header spills into one
  more region that the rest of the humongous object leaves unused. On
  a 4-vCPU host, one perfbench-shaped ``run_validation`` (100 k turns,
  16 partitions, 2 GiB heap) records 1,286 -> 170 MiB of peak
  execution memory summed over its stages (window stage 515 -> 67,
  verdict map stage 577 -> 73), and perfbench ``batch_skew`` peak RSS
  fell from a median of 1109 to 1004 MiB over 12 pairs. At 8 M turns
  on ``local[4]`` (8 GiB heap) warm wall and executor time stayed within
  run-to-run noise at 16 and 200 partitions, and VmHWM did not
  measurably fall: heap growth dominates at that scale.
- session timezone pinned to UTC so results are reproducible and
  comparable against the DuckDB oracle (duckdb timestamps are
  UTC-naive).
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ocsf-validator-spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls local parallelism; defaults to $SPARK_GRAFT_CPUS
    or all cores. When spark-submit starts the JVM (it ran this script,
    so PySpark exports ``PYSPARK_GATEWAY_PORT``, or
    ``PYSPARK_SUBMIT_ARGS`` is set), the master is the submit's and the
    values below apply only to keys the submit did not set.
    ``extra_conf`` wins over both.

    - ``spark.io.compression.codec=zstd``: about half the shuffle bytes
      of lz4 (perfbench ``batch_skew`` 7.88 -> 4.10 MiB), for 3.4-27%
      more peak RSS as the reduce partitions go from 4 to 200; see the
      module docstring.
    - ``spark.buffer.pageSize`` of 4 MiB - 16 B: a task's execution
      memory then follows its rows, not the heap; 8,192 page-table
      entries still address 32 GiB per task, and the page's ``long[]``
      fills whole G1 regions. One perfbench-shaped ``run_validation``
      (100 k turns, 16 partitions) records 1,286 -> 170 MiB of peak
      execution memory summed over its stages, and ``batch_skew`` peak
      RSS falls from 1109 to 1004 MiB; at 8 M turns time and VmHWM
      stay within noise. See the module docstring.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    conf = {
        "spark.master": f"local[{cores}]",
        "spark.app.name": app_name,
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(max(cores, 4)),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.optimizer.windowGroupLimitThreshold": "2147483647",
        "spark.io.compression.codec": "zstd",
        # 4 MiB less a long[]'s 16-byte header, so an on-heap page fills
        # whole G1 regions (module docstring)
        "spark.buffer.pageSize": str(4 * 2**20 - 16),
        # per-call call-site capture costs two extra py4j round trips
        # per DataFrame/Column call — ~40% of suite plan-construction
        # time (driver-side tooling only; results unchanged)
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        "spark.sql.files.maxPartitionBytes": "134217728",
        "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
    }
    builder = SparkSession.builder
    if "PYSPARK_GATEWAY_PORT" in os.environ or os.environ.get("PYSPARK_SUBMIT_ARGS"):
        # spark-submit starts the JVM: it ran this script (and exported
        # the gateway port), or PySpark launches it here from
        # PYSPARK_SUBMIT_ARGS with these values as --conf ahead of the
        # submit's arguments, which win. Its SparkConf then holds the
        # master and every --conf, and a builder value would overwrite
        # them.
        SparkContext._ensure_initialized(
            conf=SparkConf(loadDefaults=False).setAll(conf.items())
        )
        submitted = SparkConf()
        conf = {k: v for k, v in conf.items() if not submitted.contains(k)}
    for k, v in {**conf, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

"""SparkSession factory tuned for the validation workload.

Local mode is the test/bench harness; the same settings are what we'd
submit to a real cluster via ``spark-submit --py-files``:

- AQE on (shuffle coalescing + skew-join splitting) so a 10^12-turn
  table with a few pathological conversations doesn't strand tasks.
- shuffle partitions sized to cores locally; on a cluster this is
  superseded by AQE's target post-shuffle partition size.
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
- session timezone pinned to UTC so results are reproducible and
  comparable against the DuckDB oracle (duckdb timestamps are
  UTC-naive).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "ocsf-validator-spark",
    cores: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` controls local parallelism; defaults to $SPARK_GRAFT_CPUS
    or all cores. On a real cluster the master is supplied by
    spark-submit and this falls through untouched.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cores, 4)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.optimizer.windowGroupLimitThreshold", "2147483647")
        # per-call call-site capture costs two extra py4j round trips
        # per DataFrame/Column call — ~40% of suite plan-construction
        # time (driver-side tooling only; results unchanged)
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if not os.environ.get("SPARK_SUBMIT_DEPLOY_MODE"):
        builder = builder.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

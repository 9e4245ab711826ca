from __future__ import annotations

import uuid

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQuery

from ocsf_validator_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("ocsf-validator-spark-tests", cores=4)
    yield s


def _group_jobs(sc, fn):
    """Run fn under a fresh job group; return (fn(), job ids). When fn
    returns a StreamingQuery (or a tuple of them), each is awaited and
    its jobs are included: micro-batches run under the query's own job
    group (its runId), not the caller's."""
    group = f"pin-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    groups = [group]
    for q in out if isinstance(out, tuple) else (out,):
        if isinstance(q, StreamingQuery):
            q.awaitTermination()
            groups.append(str(q.runId))
    tracker = sc.statusTracker()
    return out, [j for g in groups for j in tracker.getJobIdsForGroup(g)]


@pytest.fixture()
def jobs_of(spark):
    """``jobs_of(fn) -> (fn(), jobs)``: run fn under a fresh job group
    and count the Spark jobs it launched (a returned StreamingQuery's
    jobs included)."""
    sc = spark.sparkContext

    def run(fn):
        out, jobs = _group_jobs(sc, fn)
        return out, len(jobs)

    return run


def _stage_sum(sc, fn, metric):
    """Run fn under a fresh job group; return (fn(), the sum of
    metric(stage data) over its jobs' stages), read from the status
    store as perfbench's harness does (skipped stages count zero)."""
    jsc = sc._jsc.sc()
    out, jobs = _group_jobs(sc, fn)
    jsc.listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), jsc.statusStore()
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}

    def value(s):
        try:
            return metric(store.lastStageAttempt(s))
        except Py4JJavaError as e:
            # past spark.ui.retainedStages the store evicts skipped stages
            # first (their completion time is -1), and it may do so
            # between the job's end and this read
            name = e.java_exception.getClass().getName()
            if name != "java.util.NoSuchElementException":
                raise
            return 0

    return out, sum(value(s) for s in stages)


@pytest.fixture()
def shuffle_bytes_of(spark):
    """``shuffle_bytes_of(fn) -> (fn(), bytes)``: run fn under a fresh
    job group and sum the shuffle bytes its jobs' stages wrote."""
    sc = spark.sparkContext
    return lambda fn: _stage_sum(sc, fn, lambda st: st.shuffleWriteBytes())


@pytest.fixture()
def peak_exec_memory_of(spark):
    """``peak_exec_memory_of(fn) -> (fn(), bytes)``: run fn under a fresh
    job group and sum its jobs' stages' peak execution memory (each
    stage's figure is the sum of its tasks' peaks)."""
    sc = spark.sparkContext
    return lambda fn: _stage_sum(sc, fn, lambda st: st.peakExecutionMemory())


@pytest.fixture()
def transcripts(spark):
    """Tiny hand-built fixture mirroring the reference's DictReader test
    style (reference tests/test_validators.py): one row per defect
    scenario from FIXTURES.md §4, plus clean rows."""
    rows = [
        # conv_id, turn_idx, role, text, tool, ts
        ("c001", 0, "user", "hello", None, "2026-01-01 00:00:00"),
        ("c001", 1, "assistant", "hi there", None, "2026-01-01 00:00:01"),
        ("c001", 2, "tool", "ok", "search", "2026-01-01 00:00:02"),
        ("c001", 3, None, "missing role", None, "2026-01-01 00:00:03"),  # 1
        ("c002", 0, "user", "q", None, "2026-01-01 00:01:00"),
        ("c002", 1, "supervisor", "bad role", None, "2026-01-01 00:01:01"),  # 3
        ("c003", 0, "user", "q", None, "2026-01-01 00:02:00"),
        ("c003", 1, "tool", "t", "telnet", "2026-01-01 00:02:01"),  # 3 tool
        ("c004", 0, "user", "first", None, "2026-01-01 00:03:00"),
        ("c004", 1, "user", "dup A", None, "2026-01-01 00:03:01"),
        ("c004", 1, "user", "dup B", None, "2026-01-01 00:03:02"),  # 5 dup key
        ("c005", 0, "user", "y" * 70000, None, "2026-01-01 00:04:00"),  # 9 max_len
        ("c006", 0, "function", "deprecated role", None, "2026-01-01 00:05:00"),  # 10
        ("c007", 0, "user", "a", None, "2026-01-01 00:06:00"),
        ("c007", 1, "user", "b", None, "2026-01-01 00:06:01"),
        ("c007", 3, "user", "gap", None, "2026-01-01 00:06:03"),  # 12 gap
        ("c008", 0, "user", "t0", None, "2026-01-01 00:07:02"),
        ("c008", 1, "user", "ts goes backwards", None, "2026-01-01 00:07:01"),  # mono
        ("c009", 0, "tool", "tool role without tool", None, "2026-01-01 00:08:00"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    )
    return df.withColumn("ts", df.ts.cast("timestamp"))

"""The benchmark workloads.

Each workload makes its inputs from the seed, runs *passes* (two batch
validations, or one streaming drain) made of *operations* (one
``run_validation``, one micro-batch), checks every operation's output
against an independent reference once the timed window is over, and,
when traced, decomposes one pass into calls to each layer's public
functions. Every operation records its wall time and the CPU time of
the driver's process tree (driver, JVM, Python workers) it took.
"""

from __future__ import annotations

import contextlib
import glob
import io
import os
import re
import shutil
import time

from ocsf_validator_spark.spec import transcript_suite

import reference
from harness import jit_cpu_s, jvm_pid, median, tree_cpu_s

# the runner's routing report (printed unless quiet)
ROUTED = re.compile(
    r"skew: routing (\d+) conversations >= (\d+) rows \((\d+) rows\)"
    r".*?\((\d+) partitions\)"
)


class Workload:
    name = ""
    conf: dict[str, str] = {}
    warm_ops = 1  # leading operations of a run that op_cpu_s leaves out

    def __init__(self, spark, work: str, seed: int, tracer, status, traced: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tracer = tracer
        self.status = status
        self.traced = traced
        self.jvm = jvm_pid(spark)
        self.suite = transcript_suite()
        self.input = None
        self._n = 0

    def scratch(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}-{self._n}")

    def prepare(self, dest: str) -> None:
        raise NotImplementedError

    def run_pass(self, traced: bool) -> tuple[float, list[dict]]:
        """Run one pass; returns its wall time and its operations, each
        ``{"s", "cpu", "jit", "turns", "out", "error"}`` (plus ``"c"``,
        the status-store counters, when traced). ``cpu`` is the process
        tree's CPU time and ``jit`` the part of it spent in the JVM's JIT
        compiler threads."""
        raise NotImplementedError

    def check(self, ops: list[dict]) -> None:
        """Set ``ok`` on every operation."""
        raise NotImplementedError

    def layers(self, ops: list[dict]) -> dict:
        """Per-layer metrics, after the traced passes ``ops``."""
        return {}

    def _timed(self, label: str, traced: bool, fn):
        """Run ``fn`` as one operation (in a span and a status scope when
        traced)."""
        rec = {"error": None, "out": None, "turns": 0}
        t0, cpu0, jit0 = time.perf_counter(), tree_cpu_s(), jit_cpu_s(self.jvm)
        try:
            if traced:
                self.tracer.begin_op()
                with self.tracer.span(label), self.status.scope(label) as c:
                    rec["out"], rec["turns"] = fn()
                rec["c"] = c
            else:
                rec["out"], rec["turns"] = fn()
        except Exception as e:  # an operation that raised counts as failed
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        rec["s"] = time.perf_counter() - t0
        rec["cpu"] = tree_cpu_s() - cpu0
        rec["jit"] = jit_cpu_s(self.jvm) - jit0
        return rec


# ---------------------------------------------------------------------------
# batch: runner.run_validation over a parquet directory
# ---------------------------------------------------------------------------


class Batch(Workload):
    n_turns = 100_000
    pass_ops = 2  # validations per pass, each with fresh checkpoint and sink dirs
    skew_frac = None  # None: the generator's default 5% conversation
    routing = None  # (convs, threshold rows, routed rows, partitions) of the last run
    shuffle_partitions = 16
    conf = {"spark.sql.shuffle.partitions": str(shuffle_partitions)}

    @property
    def skew_min_rows(self) -> int:
        # below every routing threshold the runner derives at this size, so
        # routing is decided by 4 * n_rows / shuffle_partitions alone
        return self.n_turns // 20

    def prepare(self, dest):
        from ocsf_validator_spark.synth import synth_transcripts

        skew = int(self.n_turns * self.skew_frac) if self.skew_frac else None
        synth_transcripts(
            self.spark, n_turns=self.n_turns, seed=self.seed, skew_turns=skew
        ).write.parquet(dest)

    def _validate(self, detect_skew: bool = True):
        from ocsf_validator_spark.runner import run_validation
        from ocsf_validator_spark.sources import load_table

        h = load_table(self.spark, self.input)
        said = io.StringIO()
        with contextlib.redirect_stdout(said):
            r = run_validation(
                self.spark,
                h.df,
                self.suite,
                snapshot_id=h.snapshot_id,
                checkpoint_dir=self.scratch("ckpt"),
                violations_out=self.scratch("viol"),
                detect_skew=detect_skew,
                skew_min_rows=self.skew_min_rows,
            )
        if detect_skew:
            m = ROUTED.search(said.getvalue())
            self.routing = tuple(int(g) for g in m.groups()) if m else None
        table = {
            s["constraint_id"]: (int(s["violation_count"]), bool(s["pass"]))
            for s in r.summary_rows
        }
        return (table, r.exit_code), r.n_rows

    def run_pass(self, traced):
        ops, t0 = [], time.perf_counter()
        for _ in range(self.pass_ops):
            ops.append(self._timed("runner.run_validation", traced, self._validate))
            self._clean()
        return time.perf_counter() - t0, ops

    def _clean(self):
        for d in glob.glob(os.path.join(self.work, "ckpt-*")) + glob.glob(
            os.path.join(self.work, "viol-*")
        ):
            shutil.rmtree(d, ignore_errors=True)

    def check(self, ops):
        table, code = reference.batch_expected(os.path.join(self.input, "*.parquet"))
        unrouted = None
        if self.skew_frac and self.traced:
            # the window constraints must agree with the run that keeps the
            # skewed conversation on the fused window (no ordered.py route);
            # traced runs only, as it costs one more validation
            (t, _), _ = self._validate(detect_skew=False)
            self._clean()
            unrouted = {c: t.get(c) for c in reference.WINDOW_RULES}
        for op in ops:
            ok = op["error"] is None and op["out"] == (table, code)
            if ok and unrouted is not None:
                ok = all(op["out"][0].get(c) == v for c, v in unrouted.items())
            op["ok"] = ok
            if not ok and op["error"] is None:
                op["error"] = f"output differs: got {op['out']}, want {(table, code)}"

    def layers(self, ops):
        """One batch validation decomposed into the layers' public calls,
        in the runner's order and with the arguments the runner passes."""
        from pyspark.sql import functions as F

        from ocsf_validator_spark import checkpoint as ckpt
        from ocsf_validator_spark.sources import load_table
        from ocsf_validator_spark.spec import EnumCoverage, MetricBound
        from ocsf_validator_spark.stats import DEFAULT_BUCKETS, bucketed_probe_stats
        from ocsf_validator_spark.verdict import verdicts
        from ocsf_validator_spark.violations import all_violations, dataset_findings

        sp, tr, st, out = self.spark, self.tracer, self.status, {}
        with tr.span("sources.load_table"):
            t0 = time.perf_counter()
            h = load_table(sp, self.input)
            out["sources.load_s"] = time.perf_counter() - t0
        df = h.df
        with tr.span("violations.dataset_findings"):
            t0 = time.perf_counter()
            dataset_findings(df.limit(0), self.suite, include_coverage=False).collect()
            out["violations.audit_s"] = time.perf_counter() - t0

        # the runner's coverage flags ride the stats scan; MetricBound
        # aggregates would too, but the transcript suite declares none
        if any(isinstance(c, MetricBound) for c in self.suite.dataset_level()):
            raise RuntimeError("the stats probe does not mirror MetricBound aggregates")
        cov = [
            c for c in self.suite.dataset_level()
            if isinstance(c, EnumCoverage) and c.column in df.columns
        ]
        flags = {
            f"_cov{i}_{j}": F.max(F.when(F.col(c.column) == F.lit(v), F.lit(1)).otherwise(F.lit(0)))
            for i, c in enumerate(cov)
            for j, v in enumerate(c.values)
        }
        with tr.span("stats.bucketed_probe_stats"), st.scope("stats") as c:
            t0 = time.perf_counter()
            sdf = bucketed_probe_stats(
                df, max_aggs=flags, probe_floor=self.skew_min_rows, merge_aggs={}
            )
            t1 = time.perf_counter()
            bucket_rows = sdf.collect()
            t2 = time.perf_counter()
        out.update(_layer("stats", c, t1 - t0, t2 - t1))
        n_rows = sum(r.n_rows for r in bucket_rows)
        observed_enums = {
            c.column: {
                v for j, v in enumerate(c.values)
                if any(r[f"_cov{i}_{j}"] == 1 for r in bucket_rows)
            }
            for i, c in enumerate(cov)
        }

        # route the conversations the traced runs routed: their threshold
        # and partition count, applied to this probe's candidates
        skewed, parts = [], None
        if self.routing:
            n_convs, cut, n_big, parts = self.routing
            big = [(s.conv, int(s.n)) for r in bucket_rows for s in (r._skew or [])
                   if s.conv is not None and s.n >= cut]
            if (len(big), sum(n for _, n in big)) != (n_convs, n_big):
                raise RuntimeError(
                    f"probe routes {big}; run_validation routed {self.routing}"
                )
            skewed = [conv for conv, _ in big]

        routed = []
        with tr.span("violations.all_violations"), st.scope("violations") as c:
            with st.scope("violations-build") as cb, _recording(
                "ocsf_validator_spark.ordered", "scalable_group_violations", routed
            ):
                t0 = time.perf_counter()
                viol = all_violations(
                    df, self.suite,
                    observed_enums=observed_enums,
                    observed_metrics={"__n_rows": n_rows},
                    skewed_convs=skewed,
                    ordered_partitions=parts,
                ).cache()
                t1 = time.perf_counter()
            n_viol = viol.count()
            t2 = time.perf_counter()
        out.update(_layer("violations", c, t1 - t0, t2 - t1))
        out["violations.eager_jobs"] = cb["jobs"]
        out["violations.spill_bytes"] = c["spill_bytes"]
        out["violations.task_skew"] = c["task_skew"]
        out["violations.rows_out"] = n_viol * 1e6 / max(n_rows, 1)

        with tr.span("verdict.verdicts"), st.scope("verdict") as c:
            t0 = time.perf_counter()
            vd_rows = verdicts(
                df, viol, self.suite, observed_buckets=[int(r.bucket) for r in bucket_rows]
            ).collect()
            out["verdict.exec_s"] = time.perf_counter() - t0
        out["verdict.jobs"] = c["jobs"]
        viol.unpersist()

        # the skew route again, alone, with the arguments all_violations
        # handed it above
        for fn, args, kwargs in routed[:1]:
            with tr.span("ordered.scalable_group_violations"), st.scope("ordered") as c:
                t0 = time.perf_counter()
                fn(*args, **kwargs).write.format("noop").mode("overwrite").save()
                out["ordered.exec_s"] = time.perf_counter() - t0
            for k in ("jobs", "stages", "executor_run_ms"):
                out[f"ordered.{k}"] = c[k]

        ck = self.scratch("ckpt")
        with tr.span("checkpoint.record_run"):
            t0 = time.perf_counter()
            ckpt.record_run(
                ck, vd_rows, self.suite.version(), h.snapshot_id,
                partition_spec=f"pmod(xxhash64(conv_id), {DEFAULT_BUCKETS})",
                bucket_rows=bucket_rows, wall_sec=0.0,
            )
            out["checkpoint.record_s"] = time.perf_counter() - t0
        with tr.span("checkpoint.resume"):
            t0 = time.perf_counter()
            done = ckpt.completed_buckets(ck, self.suite.version(), h.snapshot_id)
            ckpt.filter_pending(df, done)
            out["checkpoint.resume_s"] = time.perf_counter() - t0
        self._clean()
        return out


class BatchClean(Batch):
    name = "batch_clean"


class BatchSkew(Batch):
    name = "batch_skew"
    skew_frac = 0.4


@contextlib.contextmanager
def _recording(module: str, name: str, calls: list):
    """Append ``(function, args, kwargs)`` for every call made to
    ``module.name`` while the block runs; nothing if it does not exist."""
    try:
        mod = __import__(module, fromlist=[name])
    except ImportError:
        mod = None
    real = getattr(mod, name, None)
    if real is None:
        yield
        return

    def spy(*args, **kwargs):
        calls.append((real, args, kwargs))
        return real(*args, **kwargs)

    setattr(mod, name, spy)
    try:
        yield
    finally:
        setattr(mod, name, real)


def _layer(prefix: str, c: dict, build_s: float, exec_s: float) -> dict:
    return {
        f"{prefix}.build_s": build_s,
        f"{prefix}.exec_s": exec_s,
        f"{prefix}.jobs": c["jobs"],
        f"{prefix}.stages": c["stages"],
        f"{prefix}.shuffle_write_bytes": c["shuffle_write_bytes"],
        f"{prefix}.executor_run_ms": c["executor_run_ms"],
    }


# ---------------------------------------------------------------------------
# stream_drain: streaming.validate_stream over landed parquet files
# ---------------------------------------------------------------------------


class StreamDrain(Workload):
    name = "stream_drain"
    n_turns = 64_000
    n_files = 8
    warm_ops = 2

    def prepare(self, dest):
        from ocsf_validator_spark.synth import synth_transcripts

        # one contiguous id range per partition, so one file per partition
        synth_transcripts(
            self.spark, n_turns=self.n_turns, seed=self.seed, partitions=self.n_files
        ).write.parquet(dest)

    def run_pass(self, traced):
        from pyspark.sql.streaming import StreamingQueryListener

        from ocsf_validator_spark.streaming import TRANSCRIPT_DDL, validate_stream

        jvm = self.jvm
        cpu_at: dict[int, tuple] = {}  # batch id -> (tree CPU, JIT CPU) when it ended

        class Progress(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                cpu_at[event.progress.batchId] = (tree_cpu_s(), jit_cpu_s(jvm))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        listener = Progress()
        self.spark.streams.addListener(listener)
        sink, ck = self.scratch("sink"), self.scratch("sck")
        t0, cpu0 = time.perf_counter(), (tree_cpu_s(), jit_cpu_s(jvm))
        error, progress = None, []
        self.tracer.begin_op()
        try:
            with self.tracer.span("streaming.validate_stream"):
                sdf = (
                    self.spark.readStream.schema(TRANSCRIPT_DDL)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(self.input)
                )
                q = validate_stream(sdf, sink, ck, suite=self.suite)
                q.awaitTermination()
            wall = time.perf_counter() - t0
            # progress events reach the listener asynchronously
            self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            self.status.adopt(str(q.runId))
            if q.exception() is not None:
                error = str(q.exception())[:300]
            progress = list(q.recentProgress)
        except Exception as e:
            wall = time.perf_counter() - t0
            error = f"{type(e).__name__}: {str(e)[:300]}"
        finally:
            self.spark.streams.removeListener(listener)
        ops, prev = [], cpu0
        for p in progress:
            # a batch's CPU runs from the previous batch's end (the first:
            # from the query's start) to its own end
            cpu = cpu_at.get(p["batchId"])
            if cpu is None:
                error = error or f"no progress event for batch {p['batchId']}"
                cpu = prev
            if p["numInputRows"] > 0:
                ops.append({
                    "s": p["durationMs"]["triggerExecution"] / 1000.0,
                    "cpu": cpu[0] - prev[0],
                    "jit": cpu[1] - prev[1],
                    "turns": int(p["numInputRows"]),
                    "dur": p["durationMs"],
                    "out": sink,
                    "error": error,
                })
            prev = cpu
        ops = ops or [{"s": wall, "cpu": tree_cpu_s() - cpu0[0], "jit": 0.0, "turns": 0,
                       "dur": {}, "out": sink, "error": error or "no batches"}]
        shutil.rmtree(ck, ignore_errors=True)
        return wall, ops

    def check(self, ops):
        from ocsf_validator_spark.streaming import read_violations

        want = reference.stream_expected(os.path.join(self.input, "*.parquet"))
        by_sink: dict[str, bool] = {}
        for op in ops:
            sink = op["out"]
            if sink not in by_sink:
                parts = glob.glob(os.path.join(sink, "batch_id=*"))
                got = {
                    r[0]: r[1]
                    for r in read_violations(self.spark, sink)
                    .groupBy("constraint_id").count().collect()
                } if parts else {}
                by_sink[sink] = len(parts) == self.n_files and got == want
                if not by_sink[sink] and op["error"] is None:
                    op["error"] = f"sink {len(parts)} batches {got}, want {want}"
            op["ok"] = op["error"] is None and by_sink[sink]
        for sink in by_sink:
            shutil.rmtree(sink, ignore_errors=True)

    def layers(self, ops):
        from ocsf_validator_spark.violations import all_violations

        one = sorted(glob.glob(os.path.join(self.input, "*.parquet")))[0]
        batch = self.spark.read.parquet(one)
        builds = []
        for _ in range(3):
            with self.tracer.span("violations.all_violations"):
                t0 = time.perf_counter()
                all_violations(batch, self.suite, include_coverage=False)
                builds.append(time.perf_counter() - t0)

        def med(key):
            return median([op["dur"].get(key, 0) for op in ops if op["dur"]])

        return {
            "streaming.batch_build_s": median(builds),
            "streaming.add_batch_ms": med("addBatch"),
            "streaming.query_planning_ms": med("queryPlanning"),
            "streaming.wal_commit_ms": med("walCommit"),
            "streaming.commit_offsets_ms": med("commitOffsets"),
        }


WORKLOADS = {w.name: w for w in (BatchClean, BatchSkew, StreamDrain)}

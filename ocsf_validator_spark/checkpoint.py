"""Checkpoint manifest + resume (north rule: "resumable from checkpoint
with per-partition lineage + metrics").

Unit of work = one conv-hash bucket (the same bucket key as the stats
and verdict passes). After a run completes a set of buckets, one
manifest part-file is written ATOMICALLY (temp file + rename) holding a
JSON line per bucket:

    {run_id, bucket, status, suite_version, snapshot_id, partition_spec,
     n_rows, n_violations, wall_sec, finished_at}

Resume = read all manifest lines, keep buckets whose (suite_version,
snapshot_id) match the current run — a changed constraint set or a new
table snapshot invalidates the checkpoint, mirroring how the reference
re-runs everything when inputs change — and anti-filter the input to
pending buckets only.

On a real cluster the manifest directory lives on the shared store
(e.g. alongside the Iceberg table, keyed by its snapshot_id); the
rename-based commit is the same protocol Spark's own file committers
use. Local-FS rename is atomic; object stores would use a
put-if-absent or an Iceberg append instead.
"""

from __future__ import annotations

import json
import os
import tempfile
import time
import uuid
from dataclasses import asdict, dataclass
from typing import Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ocsf_validator_spark.stats import bucket_col


@dataclass
class ManifestEntry:
    run_id: str
    bucket: int
    status: str  # "complete" | "failed"
    suite_version: str
    snapshot_id: str
    partition_spec: str
    n_rows: int
    n_violations: int
    wall_sec: float
    finished_at: float


def write_entries(manifest_dir: str, entries: Iterable[ManifestEntry]) -> str:
    """Atomically append a manifest part-file (temp + rename)."""
    os.makedirs(manifest_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=manifest_dir, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        for e in entries:
            f.write(json.dumps(asdict(e)) + "\n")
    final = os.path.join(manifest_dir, f"manifest-{uuid.uuid4().hex}.jsonl")
    os.rename(tmp, final)
    return final


def read_entries(manifest_dir: str) -> list[ManifestEntry]:
    out: list[ManifestEntry] = []
    if not os.path.isdir(manifest_dir):
        return out
    for name in sorted(os.listdir(manifest_dir)):
        if not name.endswith(".jsonl"):
            continue
        with open(os.path.join(manifest_dir, name)) as f:
            for line in f:
                if line.strip():
                    out.append(ManifestEntry(**json.loads(line)))
    return out


def completed_buckets(
    manifest_dir: str, suite_version: str, snapshot_id: str
) -> set[int]:
    """Buckets already validated for THIS constraint set and THIS table
    snapshot (lineage match — stale lineage never short-circuits work)."""
    return {
        e.bucket
        for e in read_entries(manifest_dir)
        if e.status == "complete"
        and e.suite_version == suite_version
        and e.snapshot_id == snapshot_id
    }


def filter_pending(
    df: DataFrame,
    done: set[int],
    conv_col: str = "conv_id",
    num_buckets: int = 64,
) -> DataFrame:
    """Drop rows in already-completed buckets. The completed set is at
    most ``num_buckets`` ints → an isin literal filter, pushed into the
    scan (no join, no shuffle)."""
    if not done:
        return df
    return df.filter(~bucket_col(conv_col, num_buckets).isin(*sorted(done)))


def snapshot_of_path(path: str) -> str:
    """Cheap snapshot id for parquet-dir inputs: name + max mtime + file
    count. Iceberg tables would pass their real snapshot_id instead."""
    if not os.path.exists(path):
        return f"path:{path}"
    mt, n = 0.0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n += 1
            mt = max(mt, os.path.getmtime(os.path.join(root, f)))
    if os.path.isfile(path):
        mt, n = os.path.getmtime(path), 1
    return f"path:{os.path.abspath(path)}:files={n}:mtime={int(mt)}"


def ledger_lines(manifest_dir: str, names: "list[str] | None" = None):
    """The JSON lines of the file-ledger part-files ``names`` (default:
    all of them), in commit order: their names sort in commit order."""
    if names is None:
        names = (
            sorted(n for n in os.listdir(manifest_dir) if n.endswith(".files"))
            if os.path.isdir(manifest_dir)
            else []
        )
    for name in names:
        with open(os.path.join(manifest_dir, name)) as f:
            yield from (json.loads(line) for line in f if line.strip())


def seen_files(manifest_dir: str) -> set[str]:
    """Paths already validated by previous incremental runs (the
    parquet-dir analogue of Iceberg's last-validated snapshot id).
    Stored as ``*.files`` part-files so ``read_entries`` never confuses
    them with bucket manifests."""
    return {d["path"] for d in ledger_lines(manifest_dir) if "path" in d}


def record_files(
    manifest_dir: str,
    files: list[dict],
    state_dir: str | None = None,
    fd_state: "dict[str, str] | None" = None,
    schema: "dict[str, str] | None" = None,
    name: str | None = None,
) -> str:
    """Atomically commit the file set an incremental run validated
    ({path, bytes} rows, temp + rename). Called AFTER the run's bucket
    manifest is written: a crash in between re-validates the increment
    (at-least-once), it never skips data.

    ``state_dir`` (incremental runs with conversation-state carry) is
    committed in the SAME rename as a trailing ``{"conv_state": dir}``
    line — the ledger and the carried state can never disagree, which
    matters because stale state would fabricate turn-gap reports for
    turns a committed-but-unstated increment already delivered. Part
    files are time-ordered by name so the newest pointer wins.

    ``name`` replaces that name: a stream's state commit
    (``convstate.publish``) names its part-file by batch id, so a
    replayed batch replaces its own."""
    os.makedirs(manifest_dir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=manifest_dir, suffix=".tmp")
    with os.fdopen(fd, "w") as f:
        for e in files:
            f.write(json.dumps({"path": e["path"], "bytes": e["bytes"]}) + "\n")
        if state_dir is not None:
            f.write(json.dumps({"conv_state": state_dir}) + "\n")
        if fd_state:
            # FD group-state snapshots commit in the same rename, for
            # the same reason as conv_state: ledger and carried state
            # must never disagree
            f.write(json.dumps({"fd_state": fd_state}) + "\n")
        if schema:
            # the increment's input schema ({column: simple type}) —
            # the next run diffs against it to surface upstream schema
            # changes before any constraint sees the renamed column
            f.write(json.dumps({"schema": schema}) + "\n")
    final = os.path.join(
        manifest_dir,
        name or f"files-{time.time_ns():020d}-{uuid.uuid4().hex}.files",
    )
    os.replace(tmp, final)
    return final


def last_snapshot(manifest_dir: str) -> str | None:
    """snapshot_id of the most recently completed run — the Iceberg
    incremental route's starting point."""
    entries = read_entries(manifest_dir)
    if not entries:
        return None
    return max(entries, key=lambda e: e.finished_at).snapshot_id


def record_run(
    manifest_dir: str,
    verdict_rows,
    suite_version: str,
    snapshot_id: str,
    partition_spec: str,
    bucket_rows,
    wall_sec: float,
) -> list[ManifestEntry]:
    """Write one manifest entry per bucket that this run processed.
    Both inputs are ALREADY-COLLECTED rows (the runner holds the tiny
    verdict table and per-bucket stats in hand), so recording the
    manifest costs zero Spark jobs."""
    run_id = uuid.uuid4().hex[:12]
    vcounts: dict[int, int] = {}
    for r in verdict_rows:
        if r.bucket is not None and r.bucket >= 0:
            vcounts[int(r.bucket)] = vcounts.get(int(r.bucket), 0) + int(
                r.violation_count
            )
    now = time.time()
    entries = [
        ManifestEntry(
            run_id=run_id,
            bucket=int(r.bucket),
            status="complete",
            suite_version=suite_version,
            snapshot_id=snapshot_id,
            partition_spec=partition_spec,
            n_rows=int(r.n_rows),
            n_violations=vcounts.get(int(r.bucket), 0),
            wall_sec=wall_sec,
            finished_at=now,
        )
        for r in bucket_rows
        if r.bucket is not None and r.bucket >= 0
    ]
    if entries:
        write_entries(manifest_dir, entries)
    return entries


def last_schema(manifest_dir: str) -> "dict[str, str] | None":
    """The most recently committed increment's input schema
    ({column: simple type}), from the newest ledger part-file carrying
    a ``schema`` line — None before the first schema-recording run."""
    best = None
    for d in ledger_lines(manifest_dir):
        best = d.get("schema", best)
    return best


def compact(manifest_dir: str) -> "tuple[int, int]":
    """Compact the checkpoint directory: fold every bucket-manifest
    part-file into one and every file-ledger part-file into one,
    preserving exactly what the readers derive — the manifest entry
    list, the seen-file set (union), the conv_state pointer (newest),
    the fd_state map (per-key newest), and the schema (newest). At one
    part-file per increment, 10^5 increments mean 10^5 opens per run;
    compaction makes resume O(1) files again.

    Crash-safe by idempotence: the compacted files are renamed into
    place BEFORE the originals are deleted, and every reader tolerates
    duplicate lines (set union / newest-wins / per-key update), so a
    crash between the two steps only leaves redundancy, never loss.
    Returns (manifest_files_folded, ledger_files_folded)."""
    if not os.path.isdir(manifest_dir):
        return (0, 0)
    names = sorted(os.listdir(manifest_dir))
    jsonls = [n for n in names if n.endswith(".jsonl")]
    ledgers = [n for n in names if n.endswith(".files")]
    folded_m = folded_l = 0
    if len(jsonls) > 1:
        entries = read_entries(manifest_dir)
        write_entries(manifest_dir, entries)
        for n in jsonls:
            os.remove(os.path.join(manifest_dir, n))
        folded_m = len(jsonls)
    if len(ledgers) > 1:
        files: list[dict] = []
        seen: set[str] = set()
        conv_state = None
        fd_state: dict[str, str] = {}
        schema = None
        for d in ledger_lines(manifest_dir, ledgers):
            if "path" in d:
                if d["path"] not in seen:
                    seen.add(d["path"])
                    files.append(d)
            conv_state = d.get("conv_state", conv_state)
            fd_state.update(d.get("fd_state", {}))
            schema = d.get("schema", schema)
        record_files(
            manifest_dir,
            files,
            state_dir=conv_state,
            fd_state=fd_state or None,
            schema=schema,
        )
        for n in ledgers:
            os.remove(os.path.join(manifest_dir, n))
        folded_l = len(ledgers)
    return (folded_m, folded_l)

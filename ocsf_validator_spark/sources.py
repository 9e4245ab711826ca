"""Table sources — Iceberg-first with parquet fallback.

The north rule targets Iceberg tables of transcripts. This sandbox has
no Iceberg runtime jar, so the loader probes for one and degrades to
parquet transparently; all downstream phases only see (DataFrame,
snapshot_id), and the checkpoint manifest records whichever lineage id
the source provides:

- Iceberg: the table's current snapshot_id (time-travel-stable — a
  resume against a moved snapshot correctly invalidates, and a
  ``VERSION AS OF`` read of the recorded snapshot reproduces the run).
- Parquet dir: content fingerprint (file count + max mtime) from
  checkpoint.snapshot_of_path — same invalidation semantics, weaker
  reproducibility (no time travel).

Mirrors the reference's single eager source (FileReader._walk,
reference reader.py:205-227) where a parse failure is FATAL: here an
unreadable table raises, and the runner maps that to exit 2.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ocsf_validator_spark.checkpoint import snapshot_of_path


@dataclass(frozen=True)
class TableHandle:
    df: DataFrame
    snapshot_id: str
    format: str  # "iceberg" | "table" | "parquet"


def iceberg_available(spark: SparkSession) -> bool:
    """True when the Iceberg runtime is on the classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.source.IcebergSource"
        )
        return True
    except Exception:
        return False


_IDENT_RE = re.compile(r"^[A-Za-z0-9_]+(\.[A-Za-z0-9_]+)*$")


def _quoted_table(location: str) -> str:
    """Backtick-quoted multipart Iceberg identifier. Raises on anything
    that is not a plain dotted identifier — table names are NEVER
    interpolated raw into SQL."""
    if not _IDENT_RE.match(location):
        raise ValueError(f"not a valid Iceberg table identifier: {location!r}")
    return ".".join(f"`{part}`" for part in location.split("."))


def _fs_exists(spark: SparkSession, location: str) -> bool:
    """True when ``location`` exists on the default Hadoop filesystem —
    the cheap probe that routes bare relative directory names (e.g.
    'data') to the filesystem path instead of an Iceberg SQL error."""
    try:
        jvm = spark._jvm
        path = jvm.org.apache.hadoop.fs.Path(location)
        fs = path.getFileSystem(spark._jsc.hadoopConfiguration())
        return bool(fs.exists(path))
    except Exception:
        return False


def _iceberg_snapshot_id(spark: SparkSession, table: str) -> str:
    row = spark.sql(
        f"SELECT snapshot_id FROM {_quoted_table(table)}.snapshots "
        "ORDER BY committed_at DESC LIMIT 1"
    ).collect()
    return f"iceberg:{row[0].snapshot_id}" if row else "iceberg:empty"


def _route_to_iceberg(spark: SparkSession, location: str) -> bool:
    """Iceberg route iff the location is a well-formed table identifier,
    the runtime is present, AND nothing by that name exists on the
    filesystem (filesystem wins: a bare relative dir like 'data' is a
    path, not a table)."""
    return (
        _IDENT_RE.match(location) is not None
        and not location.endswith(".parquet")
        and not _fs_exists(spark, location)
        and iceberg_available(spark)
    )


def _catalog_table_exists(spark: SparkSession, location: str) -> bool:
    if not _IDENT_RE.match(location):
        return False
    try:
        return bool(spark.catalog.tableExists(location))
    except Exception:
        return False


def _describe_extended(spark: SparkSession, table: str) -> dict[str, str]:
    """col_name -> data_type map of ``DESCRIBE TABLE EXTENDED`` — where
    the session catalog exposes the physical layout (Num Buckets /
    Bucket Columns / Sort Columns / Location)."""
    return {
        r.col_name: r.data_type
        for r in spark.sql(
            f"DESCRIBE TABLE EXTENDED {_quoted_table(table)}"
        ).collect()
        if r.col_name
    }


def bucket_spec(
    spark: SparkSession, table: str
) -> tuple[int, list[str], list[str]] | None:
    """(num_buckets, bucket_cols, sort_cols) of a catalog table, or None
    when the table is unbucketed. This is what the runner probes to
    announce the zero-exchange plan: a table bucketed by conv_id
    satisfies the fused suite's HashPartitioning requirement at the
    scan, so the one shuffle the flat-file plan pays disappears
    (pinned by tests/test_violations.py::
    test_fused_suite_zero_exchange_on_bucketed_table)."""
    info = _describe_extended(spark, table)
    if "Num Buckets" not in info:
        return None

    def cols(key: str) -> list[str]:
        raw = info.get(key, "").strip().strip("[]")
        return [c.strip().strip("`") for c in raw.split(",") if c.strip()]

    return int(info["Num Buckets"]), cols("Bucket Columns"), cols("Sort Columns")


def write_bucketed(
    df: DataFrame,
    table: str,
    num_buckets: int,
    bucket_cols: tuple[str, ...] = ("conv_id",),
    sort_cols: tuple[str, ...] = ("conv_id", "turn_idx"),
    mode: str = "overwrite",
) -> None:
    """The layout ETL step that buys zero-exchange validation: persist
    transcripts bucketed by conversation (and sorted by turn within
    each bucket file) so every subsequent validation run's
    conv-windowed suite plans with NO Exchange and NO per-partition
    sort of pre-sorted files. At the 100 TB design point this is the
    difference between re-shuffling the full table per run and a pure
    scan — pay the shuffle once at ingest, validate for free forever.
    Size ``num_buckets`` so a bucket's rows fit one task's memory
    (≈ total_rows / target_rows_per_task).

    The pre-repartition on the bucket columns uses the SAME Murmur3
    HashPartitioning as bucketBy, so each write task holds exactly one
    bucket — one file per bucket instead of up to
    input_partitions × num_buckets splinter files (a 32-partition
    input bucketed 32 ways would otherwise scatter ~1,000 tiny files
    whose footer reads dominate every later scan)."""
    df = df.repartition(num_buckets, *[df[c] for c in bucket_cols])
    w = df.write.bucketBy(num_buckets, *bucket_cols).format("parquet")
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.mode(mode).saveAsTable(table)


# Spark's glob characters (SparkHadoopUtil.isGlobPath)
_GLOB_CHARS = frozenset("{}[]*?\\")
_SUMMARY_FILES = ("_common_metadata", "_metadata")
# directory entries read_parquet lists on the driver before it leaves
# the schema to Spark's job: each entry costs a few py4j calls, and a
# listing of 1,002 entries (500 files with their .crc files) took
# 0.15-0.22 s, about what spark.read.parquet's schema job took there
_LIST_CAP = 1024


def _listed(name: str) -> bool:
    """False for the names Spark's file index leaves out
    (HadoopFSUtils.shouldFilterOutPathName): ``.`` names, ``_`` names
    without ``=``, ``._COPYING_`` files, except parquet summary files."""
    hidden = (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )
    return not hidden or name.startswith(_SUMMARY_FILES)


def _footer_schema(spark: SparkSession, paths: list[str]) -> StructType | None:
    """The data schema ``spark.read.parquet(*paths)`` would infer, read
    from one footer on the driver; None where this cannot mirror
    Spark. Spark's own inference
    (``ParquetUtils.inferSchema`` without ``mergeSchema``) lists the
    leaf files the way its file index does, sorts them by path, and
    reads the footer of ``_common_metadata``, else ``_metadata``, else
    the first data file, in a job of one task. Here the same listing
    rules, the same footer reader and converter run on the driver."""
    conf = spark.conf
    sql_conf = spark._jsparkSession.sessionState().conf()
    if (
        any(_GLOB_CHARS.intersection(p) for p in paths)
        or conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true"
        or conf.get("spark.sql.files.ignoreCorruptFiles", "false").lower() == "true"
        # the converter Spark's inference builds keeps these three at
        # their defaults; one built from the session conf would not
        or sql_conf.caseSensitiveAnalysis()
        or sql_conf.parquetFieldIdReadEnabled()
        or sql_conf.parquetIgnoreVariantAnnotation()
    ):
        return None
    jvm = spark._jvm
    hconf = spark._jsparkSession.sessionState().newHadoopConf()
    try:
        roots = []
        for p in paths:
            jp = jvm.org.apache.hadoop.fs.Path(p)
            fs = jp.getFileSystem(hconf)
            roots.append((fs, fs.getFileStatus(jp)))
    except Exception:
        return None  # a missing path: Spark raises its own error
    if len(roots) > 1 and any(st.isDirectory() for _, st in roots):
        return None  # several roots: leave partition discovery to Spark
    leaves, part_cols, listed = {}, set(), 0
    for fs, root in roots:
        sink_log = root.getPath().toString() + "/_spark_metadata"
        todo = list(fs.listStatus(root.getPath())) if root.isDirectory() else [root]
        while todo:
            listed += 1
            if listed > _LIST_CAP:
                return None  # a large listing: the schema job costs less
            st = todo.pop()
            path = st.getPath().toString()
            name = path.rsplit("/", 1)[-1]
            if path == sink_log:
                return None  # a streaming sink: Spark reads its committed files
            if not _listed(name):
                continue
            if st.isDirectory():
                if "=" in name:
                    part_cols.add(name.split("=", 1)[0].lower())
                todo += list(fs.listStatus(st.getPath()))
            else:
                leaves[path] = st
    order = sorted(leaves)
    names = [p.rsplit("/", 1)[-1] for p in order]
    data = [p for p, n in zip(order, names) if n not in _SUMMARY_FILES]
    if not data:
        return None  # nothing to infer from: Spark raises its own error
    pick = next(
        (p for s in _SUMMARY_FILES for p, n in zip(order, names) if n == s),
        data[0],
    )
    parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    fmt = getattr(parquet, "ParquetFileFormat$").__getattr__("MODULE$")
    try:
        files = jvm.scala.jdk.javaapi.CollectionConverters.asScala(
            jvm.java.util.Collections.singletonList(leaves[pick])
        ).toList()
        footer = fmt.readParquetFootersInParallel(hconf, files, False).head()
        jschema = fmt.readSchemaFromFooter(
            footer,
            parquet.ParquetToSparkSchemaConverter(sql_conf),
        )
    except Exception:
        return None  # an unreadable footer: Spark raises its own error
    schema = StructType.fromJson(json.loads(jschema.json()))
    if any(f.lower() in part_cols for f in schema.fieldNames()):
        return None  # a partition column stored in the files too
    return schema


def read_parquet(spark: SparkSession, path_or_paths) -> DataFrame:
    """``spark.read.parquet(path_or_paths)`` without the schema job.

    Spark infers a parquet schema in a job of one task that reads one
    footer. This reads that footer on the driver instead (see
    ``_footer_schema``: the same file choice, listing rules, footer
    reader and converter) and opens the paths with
    ``spark.read.schema(...)``, which applies the same ``asNullable``
    and partition discovery, so the frame's schema is the one
    ``spark.read.parquet`` gives, and opening it runs no job. A glob,
    several roots of which one is a directory, a streaming sink's
    directory (Spark reads only the files its ``_spark_metadata`` log
    committed), more than ``_LIST_CAP`` directory entries,
    ``mergeSchema`` or ``ignoreCorruptFiles`` set, a conf under which
    the session's schema converter differs from the one Spark's
    inference builds (``spark.sql.caseSensitive``, parquet field-id
    reads, ignored variant annotations), no data file, an unreadable
    footer, or a partition column that the files store too fall back to
    ``spark.read.parquet``, whose errors then are Spark's own."""
    paths = (
        [path_or_paths] if isinstance(path_or_paths, str) else list(path_or_paths)
    )
    schema = _footer_schema(spark, paths)
    if schema is None:
        return spark.read.parquet(*paths)
    return spark.read.schema(schema).parquet(*paths)


def load_table(
    spark: SparkSession,
    location: str,
    snapshot_id: int | None = None,
) -> TableHandle:
    """Load transcripts from an Iceberg table name (when the runtime is
    present and ``location`` is not a filesystem path), a session-
    catalog table (e.g. one persisted by ``write_bucketed`` — its
    bucketed layout then flows into the validation plan), or a parquet
    path. ``snapshot_id`` pins an Iceberg time-travel read (resume
    against the exact snapshot a manifest recorded)."""
    if _route_to_iceberg(spark, location):
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
            snap = f"iceberg:{snapshot_id}"
        else:
            snap = _iceberg_snapshot_id(spark, location)
        return TableHandle(reader.load(location), snap, "iceberg")
    if _catalog_table_exists(spark, location):
        if snapshot_id is not None:
            raise ValueError(
                "snapshot_id time travel requires an Iceberg table; "
                f"{location!r} is a non-Iceberg catalog table"
            )
        loc = _describe_extended(spark, location).get("Location", "")
        path = loc.removeprefix("file:")
        snap = (
            snapshot_of_path(path)
            if path.startswith("/")
            else f"table:{location}"
        )
        return TableHandle(spark.table(location), snap, "table")
    return TableHandle(
        read_parquet(spark, location), snapshot_of_path(location), "parquet"
    )


def load_increment(
    spark: SparkSession,
    location: str,
    seen: set[str] | None = None,
    since_snapshot: str | None = None,
) -> tuple[TableHandle, list[dict]] | None:
    """Load only the data appended since the last validated state — the
    periodic-append deployment shape at the 100 TB design point: a
    day's landing of transcripts is a sliver of the table, so the
    nightly validation must scan the sliver, not the table.

    - Iceberg route: an incremental append scan between the last
      validated snapshot (``since_snapshot``, recorded in the manifest
      by the previous run) and the current one — Iceberg's own changelog
      does the file pruning. Returns no file list (snapshot lineage is
      the ledger).
    - Parquet route: the manifest's file ledger (``seen``) diffed
      against the directory listing; only unseen files are read, and the
      new file set is returned for the runner to commit AFTER a
      successful run (at-least-once, never skip).

    Returns None when nothing new landed. A conversation straddling
    increments is checked across the boundary by the runner, which
    seeds the increment's window checks with the per-conversation
    state earlier increments committed (``convstate``; the same carry
    ``--stream --stateful-ordering`` runs per micro-batch)."""
    if _route_to_iceberg(spark, location):
        cur = _iceberg_snapshot_id(spark, location)
        if since_snapshot == cur or cur == "iceberg:empty":
            return None
        reader = spark.read.format("iceberg").option(
            "end-snapshot-id", cur.split(":", 1)[1]
        )
        if since_snapshot and since_snapshot.startswith("iceberg:"):
            reader = reader.option(
                "start-snapshot-id", since_snapshot.split(":", 1)[1]
            )
        snap = f"{cur}:inc-from:{since_snapshot or 'origin'}"
        return TableHandle(reader.load(location), snap, "iceberg"), []
    import hashlib

    files = list_partitions(spark, location)
    new = sorted(
        (f for f in files if f["path"] not in (seen or set())),
        key=lambda f: f["path"],
    )
    if not new:
        return None
    digest = hashlib.md5(
        "\n".join(f"{f['path']}:{f['bytes']}" for f in new).encode()
    ).hexdigest()[:12]
    df = read_parquet(spark, [f["path"] for f in new])
    return TableHandle(df, f"inc:{digest}:files={len(new)}", "parquet"), new


def list_partitions(spark: SparkSession, location: str) -> list[dict]:
    """Source partition/file listing (reference FileReader._walk,
    reader.py:205-227 walks the schema directory tree): for an Iceberg
    table, the partitions metadata table; for a parquet location, the
    concrete files with sizes via the Hadoop FS API (no data read).
    Returns [{path, bytes}] (parquet) or the partition rows (Iceberg)."""
    if _route_to_iceberg(spark, location):
        return [
            r.asDict()
            for r in spark.sql(
                f"SELECT * FROM {_quoted_table(location)}.partitions"
            ).collect()
        ]
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(location)
    fs = path.getFileSystem(conf)
    out = []
    it = fs.listFiles(path, True)
    while it.hasNext():
        st = it.next()
        p = st.getPath().toString()
        if p.endswith(".parquet"):
            out.append({"path": p, "bytes": int(st.getLen())})
    return out


def parse_json_column(
    df: DataFrame,
    column: str,
    schema: str = "map<string,string>",
    mode: str = "PERMISSIVE",
    parsed_col: str = "_parsed",
) -> DataFrame:
    """Parse a JSON string column the way the reference parses documents
    (reference reader.py:205-227): FAILFAST raises on the first
    malformed payload (the runner maps that to exit 2, the reference's
    [FATAL] JSONDecodeError path), PERMISSIVE keeps going and flags the
    corrupt rows instead — adds ``parsed_col`` (NULL on corrupt rows)
    and ``{parsed_col}_corrupt`` (true where the payload was non-null
    but unparseable), so a ``parse.json`` violation leg can emit them."""
    from pyspark.sql import functions as F

    parsed = F.from_json(F.col(column), schema, {"mode": mode})
    out = df.withColumn(parsed_col, parsed)
    if mode.upper() == "FAILFAST":
        return out
    return out.withColumn(
        f"{parsed_col}_corrupt",
        F.col(column).isNotNull() & F.col(parsed_col).isNull(),
    )


def corrupt_json_violations(
    df: DataFrame,
    column: str,
    keys=("conv_id", "turn_idx"),
    constraint_id: str = "parse.json",
    severity: str = "ERROR",
    schema: str = "map<string,string>",
) -> DataFrame:
    """(constraint_id, keys..., reason, severity) rows for payloads that
    fail to parse under PERMISSIVE mode — the non-fatal leg of the
    reference's parse handling (SURVEY S2)."""
    from pyspark.sql import functions as F

    staged = parse_json_column(df, column, schema, "PERMISSIVE")
    return staged.filter(F.col("_parsed_corrupt")).select(
        F.lit(constraint_id).alias("constraint_id"),
        *keys,
        F.concat(
            F.lit(f"{column} is not parseable JSON: "),
            F.substring(F.col(column), 1, 64),
        ).alias("reason"),
        F.lit(severity).alias("severity"),
    )


def write_violations(
    violations: DataFrame, location: str, fmt: str = "parquet"
) -> None:
    """Violation sink. Iceberg appends are atomic snapshot commits;
    parquet append relies on Spark's file committer."""
    if fmt == "iceberg":
        violations.writeTo(location).append()
    else:
        violations.write.mode("append").parquet(location)

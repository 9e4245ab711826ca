"""sources.read_parquet: the schema spark.read.parquet infers, read from
one footer on the driver, with no job."""

from __future__ import annotations

import glob
import os
import shutil

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from ocsf_validator_spark.sources import read_parquet
from ocsf_validator_spark.synth import synth_transcripts


def _same_as_spark(spark, jobs_of, paths):
    """read_parquet's frame against spark.read.parquet's over ``paths``:
    equal schemas, and read_parquet ran no job."""
    want = spark.read.parquet(*([paths] if isinstance(paths, str) else paths))
    got, n = jobs_of(lambda: read_parquet(spark, paths))
    assert n == 0
    assert got.schema == want.schema
    return got, want


def test_read_parquet_matches_spark_with_no_job(spark, tmp_path, jobs_of):
    """Four layouts: a written directory with its _SUCCESS and .crc
    files; a batch_id=N sink holding a _staging-* directory (whose files
    would sort first, and hold another schema); files whose schemas
    differ, where the first by path wins, as in Spark; a file list."""
    df = synth_transcripts(spark, n_turns=300, seed=5)
    synth = str(tmp_path / "synth")
    df.write.parquet(synth)
    names = os.listdir(synth)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    got, want = _same_as_spark(spark, jobs_of, synth)
    assert sorted(got.collect()) == sorted(want.collect())

    sink = str(tmp_path / "sink")
    df.withColumn("batch_id", F.lit(3)).write.partitionBy("batch_id").parquet(sink)
    df.select("conv_id").write.parquet(os.path.join(sink, "_staging-0a1b"))
    got, _ = _same_as_spark(spark, jobs_of, sink)
    assert got.columns[-1] == "batch_id" and "text" in got.columns

    mixed = tmp_path / "mixed"
    mixed.mkdir()
    for name, cols in (("p0", ["conv_id", "turn_idx"]), ("p1", ["conv_id"])):
        stage = str(tmp_path / f"stage-{name}")
        df.select(*cols).coalesce(1).write.parquet(stage)
        part = glob.glob(os.path.join(stage, "part-*.parquet"))[0]
        shutil.copy(part, mixed / f"{name}.parquet")
    got, _ = _same_as_spark(spark, jobs_of, str(mixed))
    assert got.columns == ["conv_id", "turn_idx"]

    files = sorted(glob.glob(os.path.join(synth, "part-*.parquet")))
    got, want = _same_as_spark(spark, jobs_of, files)
    assert got.count() == want.count() == 300


def test_read_parquet_falls_back_to_spark(
    spark, tmp_path, jobs_of, monkeypatch
):
    """Where the driver read cannot mirror Spark, read_parquet is
    spark.read.parquet, schema job included: a glob, two directory
    roots, a streaming sink's directory (Spark reads the files its log
    committed), a listing past the cap, mergeSchema, ignoreCorruptFiles
    or caseSensitive set. With no data file Spark raises its own
    error."""
    import ocsf_validator_spark.sources as sources

    df = synth_transcripts(spark, n_turns=100, seed=6)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    df.write.parquet(a)
    df.select("conv_id", "text").write.parquet(b)
    sink = str(tmp_path / "sink")
    spark.readStream.schema(df.schema).parquet(a).writeStream.format(
        "parquet"
    ).option("path", sink).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start().awaitTermination()
    for paths in (os.path.join(a, "*.parquet"), [a, b], sink):
        got, n = jobs_of(lambda: read_parquet(spark, paths))
        assert n == 1
        want = spark.read.parquet(*([paths] if isinstance(paths, str) else paths))
        assert got.schema == want.schema
    monkeypatch.setattr(sources, "_LIST_CAP", 2)
    got, n = jobs_of(lambda: read_parquet(spark, a))
    assert n == 1 and got.schema == spark.read.parquet(a).schema
    monkeypatch.undo()
    for key in (
        "spark.sql.parquet.mergeSchema",
        "spark.sql.files.ignoreCorruptFiles",
        "spark.sql.caseSensitive",
    ):
        spark.conf.set(key, "true")
        try:
            got, n = jobs_of(lambda: read_parquet(spark, a))
        finally:
            spark.conf.unset(key)
        assert n == 1
        assert got.schema == spark.read.parquet(a).schema
    empty = tmp_path / "empty"
    empty.mkdir()
    (empty / "_SUCCESS").write_text("")
    with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
        read_parquet(spark, str(empty))

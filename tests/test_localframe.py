from __future__ import annotations

import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError
from pyspark.sql import functions as F

from ocsf_validator_spark.localframe import local_df, release_checkpoint


@pytest.mark.parametrize("value", [2**40, "x", True])
def test_local_df_unholdable_value_raises_once(spark, monkeypatch, value):
    """A value the schema cannot hold raises PySpark's own error, and the
    frame is built once: no second createDataFrame on the classic path
    that would only raise the same error again."""
    calls = []
    create = spark.createDataFrame

    def spy(*args, **kwargs):
        calls.append(args)
        return create(*args, **kwargs)

    monkeypatch.setattr(spark, "createDataFrame", spy)
    with pytest.raises((PySparkTypeError, PySparkValueError)):
        local_df(spark, [(value,)], "a int")
    assert len(calls) == 1


def test_release_checkpoint_frees_what_unpersist_leaves(spark, persisted_rdds):
    """DataFrame.unpersist leaves a local checkpoint's rows stored;
    release_checkpoint frees them."""
    before = persisted_rdds()
    df = spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()
    df = df.localCheckpoint(eager=False)
    assert df.count() == 7
    held = persisted_rdds() - before
    assert len(held) == 1
    df.unpersist()
    assert persisted_rdds() - before == held
    release_checkpoint(df)
    assert persisted_rdds() - before == set()

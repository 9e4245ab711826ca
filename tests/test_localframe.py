from __future__ import annotations

import pytest
from pyspark.errors import PySparkTypeError, PySparkValueError

from ocsf_validator_spark.localframe import local_df


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

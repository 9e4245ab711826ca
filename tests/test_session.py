from __future__ import annotations

import json
import os
import subprocess
import sys

import pyspark
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_SCRIPT = """
import json
from ocsf_validator_spark.session import get_spark

s = get_spark(cores=2, extra_conf={"spark.sql.session.timeZone": "Asia/Tokyo"})
c = s.sparkContext.getConf()
print("SESSION " + json.dumps({
    "master": s.sparkContext.master,
    "partitions": s.conf.get("spark.sql.shuffle.partitions"),
    "tz": s.conf.get("spark.sql.session.timeZone"),
    "codec": c.get("spark.io.compression.codec"),
    "page": c.get("spark.buffer.pageSize"),
}))
"""


@pytest.mark.parametrize(
    "launch,codec",
    [("spark-submit", "lz4"), ("spark-submit", None), ("PYSPARK_SUBMIT_ARGS", None)],
)
def test_get_spark_keeps_spark_submit_settings(tmp_path, launch, codec):
    """When spark-submit starts the JVM (it runs the script, or PySpark
    launches it from PYSPARK_SUBMIT_ARGS), the submit's master and
    --conf values win; get_spark fills only the keys the submit left
    unset (here the codec and page size when no --conf names them), and
    extra_conf wins over both."""
    script = tmp_path / "probe.py"
    script.write_text(_SCRIPT)
    submit_args = [
        "--master", "local[3]",
        "--conf", "spark.sql.shuffle.partitions=777",
        "--conf", "spark.sql.session.timeZone=America/New_York",
    ]
    if codec:
        submit_args += [
            "--conf", f"spark.io.compression.codec={codec}",
            "--conf", "spark.buffer.pageSize=8m",
        ]
    env = {k: v for k, v in os.environ.items() if k != "SPARK_HOME"}
    env.update(
        PYTHONPATH=REPO,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    if launch == "spark-submit":
        bin_dir = os.path.join(os.path.dirname(pyspark.__file__), "bin")
        cmd = [os.path.join(bin_dir, "spark-submit"), *submit_args, str(script)]
    else:
        env["PYSPARK_SUBMIT_ARGS"] = " ".join([*submit_args, "pyspark-shell"])
        cmd = [sys.executable, str(script)]
    out = subprocess.run(cmd, env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-2000:]
    line = next(x for x in out.stdout.splitlines() if x.startswith("SESSION "))
    got = json.loads(line[len("SESSION "):])
    assert got == {
        "master": "local[3]",
        "partitions": "777",
        "tz": "Asia/Tokyo",
        "codec": codec or "zstd",
        "page": "8m" if codec else str(4 * 2**20 - 16),
    }

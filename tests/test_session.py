"""``session.get_spark`` from a driver whose working directory is not the
repository root: the Python workers must still import the package.  The
same driver checks that a first scan read after an ``Observation`` logs
no listener error, and that its JVM runs the engine's JIT policy with the
caller's own driver options appended."""

from __future__ import annotations

import json
import os
import subprocess
import sys

from .conftest import REPO_ROOT, SF_SMOKE

SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import Observation, functions as F
from state_economics_end_to_end_data_pipeline_spark.io.readers import read_parquet_table
from state_economics_end_to_end_data_pipeline_spark.plans import load_all
from state_economics_end_to_end_data_pipeline_spark.session import get_spark

spark = get_spark(
    app_name="worker-path", shuffle_partitions=2,
    extra_conf={"spark.driver.extraJavaOptions": "-XX:-UsePerfData"},
)
mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
print("jvm_args", json.dumps(list(mf.getRuntimeMXBean().getInputArguments())))
qs = load_all()
for name in ("pyds_synthetic_events", "multimodal_pixels"):
    print(name, len(qs[name].fn(spark, sys.argv[2]).collect()))
obs = Observation()
spark.range(3).observe(obs, F.count(F.lit(1)).alias("n")).collect()
print("fresh_scan", read_parquet_table(spark, sys.argv[2], "region").count())
spark.stop()  # drains the listener bus before the process exits
"""


def test_workers_import_the_package_from_another_directory(tmp_path):
    """The repo is only on the driver's ``sys.path`` (not on ``PYTHONPATH``,
    not the working directory); a Python data source and a pandas UDF entry
    must still run.  After an ``Observation``, the first read of a scan
    path must not log ``Listener ... threw an exception`` (a failed
    analysis of the missing scan view used to).  The driver JVM runs two JIT
    compiler threads, and the caller's ``spark.driver.extraJavaOptions``
    still reach it, after the engine's."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", SCRIPT, str(REPO_ROOT), SF_SMOKE],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert "ModuleNotFoundError" not in out.stderr, out.stderr[-3000:]
    assert out.returncode == 0, out.stderr[-3000:]
    assert "threw an exception" not in out.stderr, out.stderr[-3000:]
    rows = dict(line.split(maxsplit=1) for line in out.stdout.splitlines())
    args = json.loads(rows.pop("jvm_args"))
    for flag in ("-XX:CICompilerCount=2", "-XX:-UsePerfData"):
        assert flag in args, args
    assert args.index("-XX:CICompilerCount=2") < args.index("-XX:-UsePerfData"), args
    assert set(rows) == {"pyds_synthetic_events", "multimodal_pixels", "fresh_scan"}
    assert all(int(n) > 0 for n in rows.values()), rows

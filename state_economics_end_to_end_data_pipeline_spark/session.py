"""SparkSession factory tuned for this engine.

Local test posture is ``local[N]`` (single JVM), but every default here is
chosen to also be the right default on a 1000-executor cluster:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting, dynamic
  broadcast) -- at 100 TB the static ``shuffle.partitions`` number is always
  wrong, AQE fixes it per-stage.
- Arrow on for any pandas interchange (the slow path, used only by the Excel
  ingest shim and multimodal UDFs).
- UTC session timezone so timestamp semantics match the DuckDB oracle and are
  stable across clusters.
- The package's parent directory on the Python workers' ``PYTHONPATH``, so
  UDFs and Python data sources import the package from any working
  directory.
- One driver JVM policy, ``DRIVER_JVM_OPTIONS``: two JIT compiler threads
  (one C1, one C2) in place of the JVM's count for the host.  In a cold
  local pass HotSpot's C2 compiler threads burn more CPU than the tasks do
  (``docs/COLD_PREMIUM.md``).  It is ``spark.driver.defaultJavaOptions``,
  which the launcher puts before any ``spark.driver.extraJavaOptions``, so a
  caller's options are appended and win on a clash.  Executors on a cluster
  keep the JVM defaults, and under ``spark-submit`` the driver JVM is up
  before ``get_spark`` runs, so there the submitter's options decide.
"""

from __future__ import annotations

import os
from pathlib import Path

from pyspark.sql import SparkSession

# local task slots: $SPARK_GRAFT_CPUS, else the CPUs this process may run on
LOCAL_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

# the directory the package is imported from, for the workers' sys.path
PACKAGE_ROOT = str(Path(__file__).resolve().parent.parent)
WORKER_PYTHONPATH = "spark.executorEnv.PYTHONPATH"

# the driver JVM's JIT policy; C1-only (TieredStopAtLevel=1) is cheaper
# cold but never lets task code reach C2, and adding the parallel collector
# saved less than run-to-run spread (docs/COLD_PREMIUM.md)
DRIVER_JVM_OPTIONS = "-XX:CICompilerCount=2"


def get_spark(
    app_name: str = "state-econ-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[LOCAL_CPUS]`` locally; on a real
    cluster callers pass ``None`` and let spark-submit decide.
    """
    master = master or f"local[{LOCAL_CPUS}]"
    shuffle_partitions = shuffle_partitions or LOCAL_CPUS
    extra_conf = dict(extra_conf or {})
    extra_conf[WORKER_PYTHONPATH] = os.pathsep.join(
        p for p in (PACKAGE_ROOT, extra_conf.get(WORKER_PYTHONPATH)) if p
    )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.driver.defaultJavaOptions", DRIVER_JVM_OPTIONS)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # full JVM charset set for legacy-encoded CSVs (e.g. windows-1252)
        .config("spark.sql.legacy.javaCharsets", "true")
        # read INT64 TIMESTAMP(NANOS) parquet columns as long instead of
        # failing; io.readers.read_parquet_table converts them back to
        # microsecond timestamps losslessly
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # parquet timestamps with isAdjustedToUTC=false scan as TIMESTAMP
        # (session-local, = UTC here), not TIMESTAMP_NTZ: watermarks,
        # window(), and unix_micros all require TIMESTAMP, and with a UTC
        # session the micros are identical either way -- this keeps the
        # engine agnostic to which flavor the upstream writer produced
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

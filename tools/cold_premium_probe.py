"""Split the CPU of a cold pass by driver JVM thread group, against warm
passes of the same work in the same session.

Workloads:

- ``catalog``: the 10 iterative entries of perfbench's ``catalog_loops`` on
  its seeded tables, each drained with ``toPandas()``.
- ``refresh``: ``EconomicsETL.run(validate=True)`` and ``publish`` on the
  seeded reference-shaped fixtures.
- ``suite``: every catalog entry once at ``--sf-dir``, drained with
  ``collect()`` after ``bench.py``'s untimed warm-up (``bench.py``'s entry
  loop, first pass).

Pass 1 runs in a fresh JVM; later passes are warm.  Each pass prints one
JSON line: wall seconds, process-tree CPU seconds (driver, JVM, Python
workers), the JVM's CPU per thread group (``probekit.jvm_thread_cpu``,
sampled every second so threads that exit mid-pass keep their group), the
rest of the tree (``python_s``), and the CPU divided by perfbench's host
speed probe chunk over the pass (``cpu_in_probes``, as perfbench's
``op_cpu_in_probes``), which cancels a shared host's speed swings.  ``--java-options`` replaces the
engine's driver JVM policy (``session.DRIVER_JVM_OPTIONS``) for an A/B;
``--java-options=`` (empty) runs the JVM's defaults.  ``docs/COLD_PREMIUM.md``
is built from this output.

Usage:
    python tools/cold_premium_probe.py --workload catalog|refresh|suite
        [--passes 3] [--seed 6] [--sf-dir <testdata>/sf0.1 (suite only)]
        [--java-options=-XX:+UseParallelGC]
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
import threading
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.probekit import GROUPS, jvm_thread_cpu, label, tree_cpu_s  # noqa: E402

from measure import SpeedProbe  # noqa: E402 -- on sys.path through probekit


def _workload(args, spark, work: Path):
    """The pass to repeat, as a function of no arguments."""
    if args.workload == "catalog":
        import catalog_data
        from run import CATALOG_ENTRIES

        from state_economics_end_to_end_data_pipeline_spark.plans import load_all

        data, qs = catalog_data.generate(work / "data", args.seed), load_all()
        return lambda: [qs[n].fn(spark, data).toPandas() for n in CATALOG_ENTRIES]
    if args.workload == "refresh":
        from state_economics_end_to_end_data_pipeline_spark.pipelines.economics import (
            EconomicsETL,
        )
        from tests.fixtures_gen import generate_all

        paths = generate_all(work / "raw", seed=args.seed)

        def refresh():
            tables = EconomicsETL(spark=spark, **paths).run(validate=True)
            EconomicsETL.publish(tables, str(work / "published"))

        return refresh
    from state_economics_end_to_end_data_pipeline_spark.plans import load_all

    qs = load_all()
    spark.read.parquet(f"{args.sf_dir}/lineitem.parquet").count()
    spark.range(32).mapInPandas(lambda it: it, schema="id long").count()

    def suite():
        for name in sorted(qs):
            try:
                qs[name].fn(spark, args.sf_dir).collect()
            except Exception as e:  # noqa: BLE001 -- one entry, not the pass
                print(f"# {name} failed: {e}", file=sys.stderr)

    return suite


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=("catalog", "refresh", "suite"), required=True)
    ap.add_argument("--passes", type=int, default=3)
    ap.add_argument("--seed", type=int, default=6)
    ap.add_argument("--sf-dir")
    ap.add_argument("--java-options", default=None)
    args = ap.parse_args()
    if args.workload == "suite" and not args.sf_dir:
        ap.error("--workload suite needs --sf-dir")

    from state_economics_end_to_end_data_pipeline_spark.session import get_spark

    extra = {}
    if args.java_options is not None:
        extra["spark.driver.defaultJavaOptions"] = args.java_options
    with tempfile.TemporaryDirectory(prefix="cold-premium-") as tmp:
        spark = get_spark(app_name="cold-premium-probe", extra_conf=extra)
        java_options = spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions", "")
        work = _workload(args, spark, Path(tmp))

        seen: dict = {}
        lock, stop = threading.Lock(), threading.Event()

        def snapshot() -> dict[str, float]:
            with lock:  # the sampler and the pass boundaries share ``seen``
                return jvm_thread_cpu(spark, seen)

        def sample():
            while not stop.wait(1.0):
                snapshot()

        sampler = threading.Thread(target=sample, daemon=True)
        sampler.start()
        speed = SpeedProbe(str(Path(tmp) / "speed.txt"))
        others = frozenset({speed.proc.pid})
        try:
            for i in range(1, args.passes + 1):
                j0, c0, m0 = snapshot(), tree_cpu_s(others), time.monotonic()
                work()
                m1 = time.monotonic()
                cpu, j1 = tree_cpu_s(others) - c0, snapshot()
                chunk_s = speed.mean_chunk_s(m0, m1)
                jvm = {g: round(j1[g] - j0[g], 2) for g in GROUPS}
                print(json.dumps({
                    "workload": args.workload, "master": label(spark),
                    "java_options": java_options, "seed": args.seed, "pass": i,
                    "wall_s": round(m1 - m0, 2), "cpu_s": round(cpu, 2),
                    "probe_chunk_ms": round(chunk_s * 1e3, 2),
                    "cpu_in_probes": round(cpu / chunk_s), "jvm": jvm,
                    "python_s": round(cpu - sum(jvm.values()), 2),
                }), flush=True)
        finally:
            speed.stop()
            stop.set()
            sampler.join()
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Time catalog entries in isolation with the bench's method (build the
DataFrame, drain it with ``collect()``, min-of-N) and print one JSON line
per entry: best and first seconds, rows, and the first run's jobs,
stages, shuffle bytes (read + write) and spill.

Why not bench.py: a full 287-entry pass carries suite-position noise (JIT
warmth, GC debt); optimizing one operator needs a tight loop over the
entry alone.  With no names, every catalog entry is run once in turn --
``docs/SHUFFLE_REPORT.jsonl`` is that output at ``--n 1``.  Before the
first timed entry the probe runs bench.py's warm-up and one untimed
``WARM_UP_ENTRY``, so ``first_s`` does not depend on which entry is named
first (for ``WARM_UP_ENTRY`` itself it is a second run).

Usage:
    python tools/opt_probe.py [--sf-dir /root/testdata/sf0.1] [--n 3]
        [--plan-tag before|after] [--plan-dir r15] [names...]

``--plan-tag X`` also writes ``plans/<plan-dir>/<name>_X.txt`` with the
formatted plan of the entry's final DataFrame.  For iterative entries this
is the post-loop plan over checkpoints; ``tools/loop_plan_dump.py`` dumps
the round bodies.
"""

from __future__ import annotations

import argparse
import json
import sys
from dataclasses import asdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from state_economics_end_to_end_data_pipeline_spark.plans import load_all  # noqa: E402
from state_economics_end_to_end_data_pipeline_spark.session import get_spark  # noqa: E402
from tools.probekit import label, timed  # noqa: E402

WARM_UP_ENTRY = "pagerank_parts_3iter"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--n", type=int, default=3)
    ap.add_argument("--plan-tag", default=None)
    ap.add_argument("--plan-dir", default="r15")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()
    if args.n < 1:
        print("--n must be >= 1", file=sys.stderr)
        return 2

    spark = get_spark(app_name="opt-probe")
    qs = load_all()
    names = args.names or sorted(qs)
    unknown = [n for n in names if n not in qs]
    if unknown:
        print(f"unknown entries: {unknown}", file=sys.stderr)
        return 2
    # same warm-up as bench.py: parquet footers + codegen + Python workers
    spark.read.parquet(f"{args.sf_dir}/lineitem.parquet").count()
    spark.range(32).mapInPandas(lambda it: it, schema="id long").count()
    # plus one untimed iterative entry (joins, aggregates, loop checkpoints,
    # 19 jobs, ~7 s at sf0.1), so the first entry named does not pay the
    # JIT warm-up alone (docs/COLD_PREMIUM.md)
    qs[WARM_UP_ENTRY].fn(spark, args.sf_dir).collect()

    master = label(spark)
    for name in names:
        t = timed(lambda: qs[name].fn(spark, args.sf_dir), args.n)
        print(json.dumps({"entry": name, "master": master, **{
            k: round(v, 3) if isinstance(v, float) else v
            for k, v in asdict(t).items()
        }}), flush=True)
        if args.plan_tag:
            out = REPO / "plans" / args.plan_dir / f"{name}_{args.plan_tag}.txt"
            out.parent.mkdir(parents=True, exist_ok=True)
            df = qs[name].fn(spark, args.sf_dir)
            out.write_text(df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            ))
            print(f"# plan -> {out.relative_to(REPO)}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The repository's benchmark: the economics refresh, its HTTP serving and
the iterative catalog entries, each in a fresh Spark session.

    python3 perfbench/run.py --workload refresh_ref --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, the per-layer ones
with ``--trace 1``). perfbench/README.md explains the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = ROOT / ".bench_work"
# requests each refresh's serving batch answers (80% get_data)
SERVE_REQUESTS = 100
# One entry per iterative loop shape ROADMAP items 3-5 rewrite (min-label
# components, h-index peeling, label propagation, truss peeling, SCC
# closure, densest peeling, Luby MIS, modularity with its known cache leak,
# PageRank, dedup clustering). BFS, harmonic, k-core and the two PPR
# variants repeat shapes already here and would add ~12 s per cold pass.
CATALOG_ENTRIES = (
    "graph_connected_components",
    "coreness_hindex",
    "lpa_communities_3iter",
    "truss_edges_k3",
    "scc_event_types",
    "densest_subgraph_peel",
    "mis_parts_luby",
    "graph_modularity_brands",
    "pagerank_parts_3iter",
    "dedup_cluster_survivors",
)
WORKLOADS = ("refresh_ref", "catalog_loops")


@dataclass
class Run:
    """State shared by a workload and the metrics computed from it."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    cores: int
    work: Path
    spark: object = None
    stats: object = None
    tracer: object = None
    probe: object = None  # measure.SpeedProbe
    setup_t0: float = 0.0  # when the session came up
    setup_s: float = 0.0
    session_s: float = 0.0
    trace_id: str = ""
    latencies: list = field(default_factory=list)  # client get_data seconds
    samples: list = field(default_factory=list)  # measure.Sample per op
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    layer: dict = field(default_factory=dict)  # per-layer metrics (trace)
    exclude: frozenset = frozenset()  # client and probe processes, not the system

    def fail(self, problem: str) -> None:
        self.failed += 1
        if len(self.problems) < 20:
            self.problems.append(problem)


def prepare_environment(workload: str, cores: int) -> Path:
    """One reused work directory per workload (overwritten run over run),
    with Spark's and Python's scratch space inside it; the repository root
    on the Python workers' path whatever the working directory is."""
    work = WORK / workload
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the short JVM spark-submit runs to build the real JVM's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    return work


def start_session(run: Run) -> None:
    from measure import SparkStats, Tracer

    from state_economics_end_to_end_data_pipeline_spark.session import get_spark

    t0 = time.perf_counter()
    run.spark = get_spark(
        app_name=f"perfbench-{run.workload}",
        master=f"local[{run.cores}]",
        shuffle_partitions=run.cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # JVM scratch inside the checkout; no hsperfdata file in /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.work / 'tmp'} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(run.work / "warehouse"),
        },
    )
    run.session_s = time.perf_counter() - t0
    run.stats = SparkStats(run.spark)
    run.tracer = Tracer(run.trace, run.stats)


def stop_session(spark) -> None:
    """Stop Spark, then the JVM, and wait until every process it started
    (the JVM and its Python workers) has exited."""
    from measure import alive, tree_pids
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_tree = tree_pids(root=gateway.proc.pid)
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    # a later session in this process (the self-test) launches a new JVM
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.time() + 30
    while time.time() < deadline and any(alive(p) for p in jvm_tree):
        time.sleep(0.1)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _sum_ms(spans) -> float:
    return sum((s.end - s.start) * 1e3 for s in spans)


# ------------------------------------------------------------ refresh_ref

# EconomicsETL methods timed in a traced refresh, by layer
ETL_LAYERS = {
    "load_unemployment": "extract", "load_gdp": "extract",
    "load_school": "extract", "load_min_wage": "extract",
    "unemployment_tables": "transform", "gdp_tables": "transform",
    "location_table": "transform", "school_tables": "transform",
    "min_wage_tables": "transform", "validate_outputs": "validate",
}


def _traced_etl(etl, tracer) -> None:
    """Wrap the instance's layer methods in spans; ``run()`` still drives."""
    def wrap(fn, name):
        def call(*args, **kwargs):
            with tracer.span(name, tag_jobs=True):
                return fn(*args, **kwargs)
        return call

    for meth, layer in ETL_LAYERS.items():
        setattr(etl, meth, wrap(getattr(etl, meth), f"{layer}.{meth}"))


def _traced_service(run: Run):
    from state_economics_end_to_end_data_pipeline_spark.serving import DataService

    class TracedService(DataService):
        def get_data(self, table, limit=10):
            with run.tracer.span("serving.get_data", trace_id=run.trace_id, tag_jobs=True):
                return super().get_data(table, limit)

    return TracedService(run.spark)


def refresh_ref(run: Run) -> None:
    """Closed loop of full refreshes on the reference-shaped fixtures:
    extract -> transform -> PK/FK validate -> publish, then the published
    tables are registered with the serving layer and answer a fixed batch
    of HTTP requests from closed-loop clients in a separate process."""
    import subprocess

    import checks
    from measure import sampled

    from state_economics_end_to_end_data_pipeline_spark.pipelines.economics import EconomicsETL
    from state_economics_end_to_end_data_pipeline_spark.serving import DataServer, DataService
    from tests.fixtures_gen import generate_all

    paths = generate_all(run.work / "raw", seed=run.seed)
    expected = checks.expected_content(paths)
    pub = run.work / "published"
    tr = run.tracer
    service = _traced_service(run) if run.trace else DataService(run.spark)
    with DataServer(service) as server:
        host, port = server.address
        client = subprocess.Popen(
            [sys.executable, str(BENCH / "serve_client.py")],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        run.exclude |= {client.pid}

        def batch(seed: str) -> list:
            client.stdin.write(json.dumps([seed, SERVE_REQUESTS]) + "\n")
            client.stdin.flush()
            return json.loads(client.stdout.readline())

        try:
            client.stdin.write(json.dumps(
                {"base": f"http://{host}:{port}", "expected": checks.SERVED}
            ) + "\n")
            run.setup_s = run.session_s + time.perf_counter() - run.setup_t0
            t_end = time.perf_counter() + run.seconds
            i = 0
            while i == 0 or time.perf_counter() < t_end:
                run.attempted += 1
                run.trace_id = f"refresh-{i}"
                results = []
                try:
                    with sampled(run.samples, run.exclude), tr.span("refresh", run.trace_id):
                        etl = EconomicsETL(spark=run.spark, **paths)
                        if run.trace:
                            _traced_etl(etl, tr)
                        tables = etl.run(validate=True)
                        with tr.span("publish", tag_jobs=True):
                            published = EconomicsETL.publish(tables, str(pub))
                        with tr.span("serve"):
                            for name, path in published.items():
                                service.register_parquet(name, path)
                            results = batch(f"{run.seed}:{i}")
                    problems = checks.check_publish(pub, expected)
                except Exception:  # noqa: BLE001 -- a failed refresh is counted, not fatal
                    problems = [traceback.format_exc(limit=3)]
                if problems:
                    run.fail(f"refresh {i}: {problems}")
                for _, _, problem in results:
                    run.attempted += 1
                    if problem:
                        run.fail(problem)
                run.latencies += [r[1] for r in results if r[0] == "get_data"]
                i += 1
        finally:
            client.stdin.close()
            try:
                client.wait(timeout=30)
            except subprocess.TimeoutExpired:
                client.kill()
                client.wait()
    if run.trace:
        _refresh_layers(run, pub)


def _refresh_layers(run: Run, pub: Path) -> None:
    import checks

    tr, n = run.tracer, len(run.samples)

    def spans(prefix):
        return [s for s in tr.spans if s.name.startswith(prefix)]

    build = run.stats.read([s.group for s in spans("extract.") + spans("transform.")])
    val = run.stats.read([s.group for s in spans("validate.")])
    pubs = run.stats.read([s.group for s in tr.named("publish")])
    gets = tr.named("serving.get_data")
    serve = run.stats.read([s.group for s in gets])
    inside = _median([(s.end - s.start) * 1e3 for s in gets])
    files = list(pub.rglob("*.parquet"))
    rows = sum(checks.EXPECTED_ROWS.values())
    run.layer.update({
        "pipelines.extract_ms": _sum_ms(spans("extract.")) / n,
        "pipelines.transform_ms": _sum_ms(spans("transform.")) / n,
        "pipelines.build_jobs": build.jobs / n,
        "refresh.self_ms": tr.self_times_ms().get("refresh", 0.0) / n,
        "validate.ms": _sum_ms(spans("validate.")) / n,
        "validate.jobs": val.jobs / n,
        "validate.stages": val.stages / n,
        "validate.executor_ms": val.executor_ms / n,
        "validate.shuffle_bytes": val.shuffle_bytes / n,
        "publish.ms": _sum_ms(tr.named("publish")) / n,
        "publish.jobs": pubs.jobs / n,
        "publish.stages": pubs.stages / n,
        "publish.files": len(files),
        "publish.bytes_per_row": sum(p.stat().st_size for p in files) / rows,
        "serving.batch_ms": _sum_ms(tr.named("serve")) / n,
        "serving.get_data_ms": inside,
        "serving.http_ms": _median(run.latencies) * 1e3 - inside,
        "serving.client_p50_ms": _median(run.latencies) * 1e3,
        "serving.jobs_per_request": serve.jobs / max(len(gets), 1),
    })
    total = build
    for part in (val, pubs, serve):
        total += part
    _engine_layers(run, total)


# ---------------------------------------------------------- catalog_loops


def catalog_loops(run: Run) -> None:
    """Closed loop of passes over the iterative catalog entries (build with
    ``fn()``, drain with ``toPandas()``) on generated TPC-H-shaped data."""
    import catalog_data
    import checks
    from measure import sampled
    from oracle_check import compare

    from state_economics_end_to_end_data_pipeline_spark.plans import graph_analytics, load_all

    data = catalog_data.generate(run.work / "data", run.seed)
    queries = load_all()
    con = checks.oracle_connection(data, catalog_data.TABLES)
    cache = run.spark._jsparkSession.sharedState().cacheManager()
    tr = run.tracer
    run.setup_s = run.session_s + time.perf_counter() - run.setup_t0
    oracles = {}  # entry -> its DuckDB oracle's result, computed once
    t_end = time.perf_counter() + run.seconds
    i = 0
    while i == 0 or time.perf_counter() < t_end:
        frames = {}
        with sampled(run.samples, run.exclude):
            for name in CATALOG_ENTRIES:
                run.attempted += 1
                graph_analytics.LAST_ROUNDS.clear()
                try:
                    with tr.span("entry", trace_id=f"{name}-{i}") as entry:
                        with tr.span("plans.build", tag_jobs=True):
                            df = queries[name].fn(run.spark, data)
                        with tr.span("plans.drain", tag_jobs=True):
                            frames[name] = df.toPandas()
                except Exception:  # noqa: BLE001 -- a failed entry is counted, not fatal
                    run.fail(f"{name}: {traceback.format_exc(limit=3)}")
                if run.trace:
                    entry.attrs["rounds"] = sum(graph_analytics.LAST_ROUNDS.values())
                    entry.attrs["leaked_cache"] = not cache.isEmpty()
                run.spark.catalog.clearCache()
        for name, pdf in frames.items():
            if name not in oracles:
                oracles[name] = con.sql(queries[name].oracle).df()
            problems = compare(name, pdf, oracles[name])
            if problems:
                run.fail(f"{name} pass {i}: {problems}")
        i += 1
    con.close()
    if run.trace:
        n, entries = len(run.samples), tr.named("entry")
        build = run.stats.read([s.group for s in tr.named("plans.build")])
        drain = run.stats.read([s.group for s in tr.named("plans.drain")])
        total = build
        total += drain
        run.layer.update({
            "plans.build_s": _sum_ms(tr.named("plans.build")) / 1e3 / n,
            "plans.drain_s": _sum_ms(tr.named("plans.drain")) / 1e3 / n,
            "plans.jobs": total.jobs / n,
            "plans.stages": total.stages / n,
            "plans.rounds": sum(e.attrs.get("rounds", 0) for e in entries) / n,
            "plans.shuffle_bytes": total.shuffle_bytes / n,
            "plans.leaked_caches": sum(e.attrs.get("leaked_cache", 0) for e in entries) / n,
        })
        _engine_layers(run, total)


# ---------------------------------------------------------------- metrics


def _engine_layers(run: Run, total) -> None:
    """Spark engine totals of the timed phase, per operation."""
    per = len(run.samples)
    wall_s = sum(s.wall_s for s in run.samples)
    run.layer.update({
        "spark.jobs": total.jobs / per,
        "spark.stages": total.stages / per,
        "spark.tasks": total.tasks / per,
        "spark.executor_busy_ratio": total.executor_ms / (wall_s * 1e3 * run.cores),
        "spark.gc_ms": total.gc_ms / per,
        "spark.spill_bytes": total.spill_bytes / per,
    })


def op_wall_ms(run: Run) -> float:
    return _median([s.wall_s * 1e3 for s in run.samples])


def op_cpu_ms(run: Run) -> float:
    return _median([s.cpu_s * 1e3 for s in run.samples])


def probe_chunk_ms(run: Run) -> float:
    return _median([run.probe.mean_chunk_s(s.start, s.end) * 1e3 for s in run.samples])


def end_to_end(run: Run) -> dict[str, float]:
    return {
        "op_cpu_in_probes": _median(
            [s.cpu_s / run.probe.mean_chunk_s(s.start, s.end) for s in run.samples]
        ),
        "setup_s": run.setup_s,
    }


def per_layer(run: Run, e2e: dict[str, float], names: list[str]) -> dict[str, float]:
    """Every per-layer metric; a layer the workload never calls reads 0."""
    from measure import tree_peak_rss_mb

    values = dict.fromkeys(names, 0.0)
    values.update(run.layer)
    values.update({
        "session.start_s": run.session_s,
        "spark.cores": run.cores,
        # Peak RSS moves with when G1 grows the heap: 0.20-0.32 quartile
        # spread across runs, too wide to bound, so it is recorded only
        "process.peak_rss_mb": tree_peak_rss_mb(run.exclude),
        "host.steal_s": sum(s.steal_s for s in run.samples),
        "host.load_1m": _median([s.load_1m for s in run.samples]),
        "trace.op_ms": op_wall_ms(run),
        "trace.op_cpu_ms": op_cpu_ms(run),
        "trace.op_cpu_in_probes": e2e["op_cpu_in_probes"],
        "host.probe_chunk_ms": probe_chunk_ms(run),
    })
    unknown = set(values) - set(names)
    if unknown:
        raise KeyError(f"metrics missing from BENCHMARK.json: {sorted(unknown)}")
    return values


def benchmark_spec() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def with_units(values: dict[str, float], spec_metrics: list[dict]) -> dict:
    units = {m["name"]: m["unit"] for m in spec_metrics}
    return {k: {"value": v, "unit": units[k]} for k, v in values.items()}


def execute(workload: str, seed: int, seconds: float, trace: bool) -> tuple[Run, dict, dict]:
    """Run one workload in a fresh session. Returns the run, the result
    object the benchmark prints, and the end-to-end values."""
    cores = len(os.sched_getaffinity(0))
    work = prepare_environment(workload, cores)
    run = Run(workload, seed, seconds, trace, cores, work)
    spec = benchmark_spec()
    from measure import SpeedProbe

    run.probe = SpeedProbe(str(work / "probe.txt"))
    run.exclude = frozenset({run.probe.proc.pid})
    try:
        start_session(run)
    except BaseException:
        run.probe.stop()
        raise
    run.setup_t0 = time.perf_counter()
    try:
        {"refresh_ref": refresh_ref, "catalog_loops": catalog_loops}[workload](run)
        e2e = end_to_end(run)
        if trace:
            metrics = with_units(
                per_layer(run, e2e, [m["name"] for m in spec["per_layer"]]), spec["per_layer"]
            )
            run.tracer.write(str(work / "spans.jsonl"))
            print(json.dumps({"self_ms": run.tracer.self_times_ms()}), file=sys.stderr)
        else:
            metrics = with_units(e2e, spec["end_to_end"])
    finally:
        stop_session(run.spark)
        run.probe.stop()
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }
    return run, result, e2e


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true",
                    help="one short traced run per workload, plus corrupted-output checks")
    args = ap.parse_args()
    # the package, the oracle compare in tools/, and this directory
    for p in (ROOT, ROOT / "tools", BENCH):
        sys.path.insert(0, str(p))
    if args.selftest:
        import selftest

        return selftest.main()
    if not args.workload:
        ap.error("--workload is required")
    run, result, _ = execute(args.workload, args.seed, args.seconds, bool(args.trace))
    for p in run.problems:
        print(f"FAILED: {p}", file=sys.stderr)
    print(f"# {args.workload} seed={args.seed} local[{run.cores}] ops={len(run.samples)} "
          f"wall_ms={op_wall_ms(run):.1f} cpu_ms={op_cpu_ms(run):.1f} "
          f"probe_chunk_ms={probe_chunk_ms(run):.3f} attempted={run.attempted} failed={run.failed}")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

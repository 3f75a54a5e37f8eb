"""Self-test of the benchmark itself (``python3 perfbench/run.py --selftest``).

One traced run of every workload, one operation each, must finish with no
failures and produce every metric of BENCHMARK.json with its unit. Then a
published table with one value changed, one with a row dropped, and a
served response with one row missing must each be reported as wrong, so
that they count as failed.
Exits non-zero on the first broken expectation.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq

import run as bench


def _expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"selftest ok: {what}")


def _names_and_units(metrics: dict, spec_metrics: list[dict], what: str) -> None:
    want = {m["name"]: m["unit"] for m in spec_metrics}
    got = {k: v.get("unit") for k, v in metrics.items()}
    _expect(got == want, f"{what}: every metric printed with its unit")


def _largest_part(table_dir):
    return max(table_dir.rglob("*.parquet"), key=lambda p: pq.read_metadata(p).num_rows)


def _drop_one_row(table_dir) -> None:
    part = _largest_part(table_dir)
    t = pq.read_table(part)
    pq.write_table(t.slice(0, t.num_rows - 1), part)


def _change_one_value(table_dir, column: str) -> None:
    """Add 1 to the first non-null ``column`` value; shape stays the same."""
    part = _largest_part(table_dir)
    t = pq.read_table(part)
    values = t.column(column).to_pylist()
    i = next(i for i, v in enumerate(values) if v is not None)
    values[i] += 1
    pq.write_table(t.set_column(t.schema.get_field_index(column), column,
                                pa.array(values, t.schema.field(column).type)), part)


def main() -> int:
    import checks
    from serve_client import check_response

    from tests.fixtures_gen import generate_all

    spec = bench.benchmark_spec()
    for workload in bench.WORKLOADS:
        run, result, e2e = bench.execute(workload, seed=1, seconds=0, trace=True)
        _expect(result["failed"] == 0 and result["correct"], f"{workload}: no failures")
        _names_and_units(result["metrics"], spec["per_layer"], f"{workload} --trace 1")
        e2e_out = bench.with_units(e2e, spec["end_to_end"])
        _names_and_units(e2e_out, spec["end_to_end"], f"{workload} --trace 0")
        _expect(all(v["value"] > 0 for v in e2e_out.values()), f"{workload}: end-to-end metrics are not 0")

    # the seed-1 refresh above published from these same raw files
    raw = generate_all(bench.WORK / "refresh_ref" / "raw", seed=1)
    pub = bench.WORK / "refresh_ref" / "published"
    content = checks.expected_content(raw)
    _expect(not checks.check_publish(pub, content), "intact publish passes")
    _change_one_value(pub / "table_gdp", "GDP")
    problems = checks.check_publish(pub, content)
    _expect(problems == ["table_gdp: content differs from the raw files in 2 rows"],
            f"publish with one value changed fails: {problems}")
    _drop_one_row(pub / "table_industry")
    problems = checks.check_publish(pub, content)
    _expect(any("table_industry" in p for p in problems), f"publish with one row dropped fails: {problems}")

    expected = checks.SERVED

    t = "table_industry"
    good = {"columns": expected["columns"][t], "rows": [{}] * expected["rows"][t]}
    _expect(check_response("get_data", t, 100, good, expected) is None, "correct response passes")
    short = dict(good, rows=good["rows"][:-1])
    problem = check_response("get_data", t, 100, short, expected)
    _expect(problem is not None, f"response one row short fails: {problem}")
    print("selftest: all checks passed")
    return 0

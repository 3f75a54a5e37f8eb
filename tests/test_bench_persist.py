"""Unit tests for bench.py's record persistence: the min-merge contract
(r8), the sf-mismatch guard (r11), and the first_pass cold-cost ledger
(r12 verdict ask #1 -- the quiet record must stay an honest cold-cost
ledger for session-memoized entries, so first_pass min-merges across
runs exactly like the timings and never takes a failed pass).

No SparkSession: _persist_full_bench is a pure function of the payload
and the files under the injected repo root.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))

from bench import _persist_full_bench  # noqa: E402


def _setup(tmp_path: Path, rnd: int = 4) -> Path:
    (tmp_path / "docs").mkdir()
    # round inference: max BENCH_r*.json + 1
    for r in range(1, rnd):
        (tmp_path / f"BENCH_r{r:02d}.json").write_text("{}")
    return tmp_path / "docs" / f"BENCH_LOCAL_r{rnd:02d}.json"


def _payload(queries, first_pass, sf=0.1):
    return {
        "metric": "catalog_suite_wall",
        "value": round(sum(v for v in queries.values() if v >= 0), 3),
        "unit": "sec",
        "queries": dict(queries),
        "first_pass": dict(first_pass),
        "sf": sf,
    }


def test_first_pass_persists_and_min_merges(tmp_path):
    out = _setup(tmp_path)
    _persist_full_bench(
        _payload({"a": 1.0, "b": 5.0}, {"a": 9.0, "b": 6.0}), tmp_path
    )
    rec = json.loads(out.read_text())
    assert rec["first_pass"] == {"a": 9.0, "b": 6.0}

    # second run: a's first pass improves (quieter host), b's regresses;
    # min-merge keeps the best COLD observation per entry
    _persist_full_bench(
        _payload({"a": 0.8, "b": 7.0}, {"a": 2.0, "b": 8.0}), tmp_path
    )
    rec = json.loads(out.read_text())
    assert rec["first_pass"] == {"a": 2.0, "b": 6.0}
    assert rec["queries"] == {"a": 0.8, "b": 5.0}
    assert rec["merged_runs"] == 2
    assert rec["value"] == 5.8


def test_first_pass_new_entry_and_failure_handling(tmp_path):
    out = _setup(tmp_path)
    _persist_full_bench(_payload({"a": 1.0}, {"a": 1.2}), tmp_path)
    # next run adds a new entry and fails 'a' (timing -1, no first_pass)
    _persist_full_bench(
        _payload({"a": -1.0, "c": 2.0}, {"c": 2.5}), tmp_path
    )
    rec = json.loads(out.read_text())
    # failed run never overwrites a passing time; new entry takes its own
    assert rec["queries"] == {"a": 1.0, "c": 2.0}
    assert rec["first_pass"] == {"a": 1.2, "c": 2.5}
    assert rec["failed_now"] == ["a"]


def test_load_runs_accumulate_across_merges(tmp_path):
    """r13 verdict ask #5: every merged run appends its load envelope so
    the record shows the noise floor of EACH contributing pass."""
    out = _setup(tmp_path)
    p1 = _payload({"a": 1.0}, {"a": 1.0})
    p1["load_runs"] = [
        {"load_1m_min": 0.5, "load_1m_mean": 1.0, "load_1m_max": 2.0}
    ]
    _persist_full_bench(p1, tmp_path)
    rec = json.loads(out.read_text())
    assert rec["load_runs"] == p1["load_runs"]

    p2 = _payload({"a": 0.9}, {"a": 0.9})
    p2["load_runs"] = [
        {"load_1m_min": 3.0, "load_1m_mean": 9.0, "load_1m_max": 25.0}
    ]
    _persist_full_bench(p2, tmp_path)
    rec = json.loads(out.read_text())
    assert rec["load_runs"] == p1["load_runs"] + p2["load_runs"]
    assert rec["queries"] == {"a": 0.9}


def test_sf_mismatch_writes_suffixed_record(tmp_path):
    out = _setup(tmp_path)
    _persist_full_bench(_payload({"a": 1.0}, {"a": 1.0}, sf=0.1), tmp_path)
    _persist_full_bench(_payload({"a": 0.1}, {"a": 0.1}, sf=0.001), tmp_path)
    rec = json.loads(out.read_text())
    assert rec["sf"] == 0.1 and rec["queries"] == {"a": 1.0}
    side = json.loads(
        (out.parent / f"{out.stem}_sf0.001{out.suffix}").read_text()
    )
    assert side["sf"] == 0.001 and side["queries"] == {"a": 0.1}


def test_cpus_stamp_is_the_local_core_count_used(tmp_path):
    """The record's ``cpus`` is the local[N] the session ran on --
    $SPARK_GRAFT_CPUS when set, else the CPUs this process may use -- not
    the host's ``os.cpu_count()``. Each case imports bench in a fresh
    interpreter, since the session module reads the variable once."""

    def stamped(cpus_env):
        root = tmp_path / f"cpus_{cpus_env}"
        root.mkdir()
        _setup(root)
        env = {k: v for k, v in os.environ.items() if k != "SPARK_GRAFT_CPUS"}
        if cpus_env:
            env["SPARK_GRAFT_CPUS"] = cpus_env
        subprocess.run(
            [sys.executable, "-c",
             "import json, sys; from pathlib import Path; import bench; "
             "bench._persist_full_bench(json.loads(sys.argv[1]), Path(sys.argv[2]))",
             json.dumps(_payload({"a": 1.0}, {"a": 1.0})), str(root)],
            cwd=REPO_ROOT, env=env, check=True,
        )
        return json.loads((root / "docs" / "BENCH_LOCAL_r04.json").read_text())["cpus"]

    assert stamped("3") == 3
    assert stamped("") == len(os.sched_getaffinity(0))

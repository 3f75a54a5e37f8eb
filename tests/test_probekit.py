"""``tools/probekit.py``: the one ``docs/SCALEUP.md`` writer and the one
timed loop, plus an import check of every tool (the tools have no other
coverage, so a package change could break one silently)."""

from __future__ import annotations

import importlib.util
import shutil
import sys

import pytest

from .conftest import REPO_ROOT

from tools import probekit  # conftest puts the repo root on sys.path

MAIN = "# Measured 10x scale-up (sf0.1 -> synthetic sf1)"
GRAPH = "## Graph-depth probe: rounds-to-fixpoint vs graph depth"
HUNDRED = "## 100x probe: heavy-family candidate growth"


def sections(text: str) -> dict[str, str]:
    """Header line -> the section's text: the header through the line before
    the next ``## `` header, less the blank lines that separate the two."""
    out, header, buf = {}, None, []
    for line in text.splitlines(keepends=True):
        if line.startswith("## ") or header is None:
            if header is not None:
                out[header] = "".join(buf).rstrip("\n")
            header, buf = line.rstrip("\n"), []
        buf.append(line)
    out[header] = "".join(buf).rstrip("\n")
    return out


@pytest.fixture
def scaleup(tmp_path):
    path = tmp_path / "SCALEUP.md"
    shutil.copy(REPO_ROOT / "docs" / "SCALEUP.md", path)
    return path


def assert_others_unchanged(before: str, after: str, *owned: str) -> None:
    b, a = sections(before), sections(after)
    assert list(a)[: len(b)] == list(b)  # order kept, appended ones last
    for header, text in b.items():
        if header not in owned:
            assert a[header] == text, header


def test_replaces_the_leading_and_a_middle_section(scaleup):
    before = scaleup.read_text()
    assert MAIN in sections(before) and GRAPH in sections(before)
    main = ["", "main body", "| query | a |", "|---|---|", "| x | 1 |"]
    probekit.write_section(MAIN, main, path=scaleup)
    probekit.write_section(GRAPH, ["", "graph body"], path=scaleup)
    after = scaleup.read_text()
    assert after.startswith("\n".join([MAIN, *main, "", "## "]))
    assert sections(after)[GRAPH] == GRAPH + "\n\ngraph body"
    assert_others_unchanged(before, after, MAIN, GRAPH)


def test_appends_a_new_section(scaleup):
    before = scaleup.read_text()
    header = "## a probe not yet in the file"
    body = ["", "| query | sec |", "|---|---|", "| q | 1.0 |"]
    probekit.write_section(header, body, path=scaleup)
    after = scaleup.read_text()
    assert after == before.rstrip("\n") + "\n\n" + "\n".join([header, *body]) + "\n"
    assert_others_unchanged(before, after)
    # a second write replaces it in place
    probekit.write_section(header, ["", "again"], path=scaleup)
    assert scaleup.read_text() == before.rstrip("\n") + "\n\n" + header + "\n\nagain\n"


def test_merges_one_row_of_a_subset_run(scaleup):
    before = scaleup.read_text()
    old = sections(before)[HUNDRED].splitlines()
    row = next(l for l in old if l.startswith("| mis_parts_luby |"))
    new_row = "| mis_parts_luby | 1.0 | 2.0 | 2.0x | 3 | 3 | 1.0x | 1 -> 2 | n |"
    added = "| brand_new_entry | 1 | 1 | 1.0x | - | - | - | 1 -> 1 | |"
    probekit.write_section(
        HUNDRED, ["", "a full-run body the merge must not write"],
        merge_rows={"mis_parts_luby": new_row, "brand_new_entry": added}, path=scaleup,
    )
    after = scaleup.read_text()
    merged = sections(after)[HUNDRED].splitlines()
    last = max(i for i, l in enumerate(old) if l.startswith("|"))
    at = old.index(row)
    assert merged == old[:at] + [new_row] + old[at + 1: last + 1] + [added] + old[last + 1:]
    assert_others_unchanged(before, after, HUNDRED)
    # the leading section's first table takes a merge the same way
    q1 = "| q1_pricing_summary | 9 | 9 | 1.0x |"
    probekit.write_section(MAIN, [], merge_rows={"q1_pricing_summary": q1}, path=scaleup)
    main = sections(scaleup.read_text())[MAIN]
    assert q1 + "\n" in main
    assert main.count("\n") == sections(before)[MAIN].count("\n")
    assert_others_unchanged(before, scaleup.read_text(), HUNDRED, MAIN)


def test_timed_counts_rows_and_jobs_without_the_ui(spark):
    assert spark.conf.get("spark.ui.enabled") == "false"
    df = spark.range(10)
    t = probekit.timed(lambda: df.groupBy((df.id % 3).alias("k")).count(), 2)
    assert t.rows == 3
    assert t.jobs >= 1 and t.stages >= 1
    assert t.shuffle_bytes > 0
    assert 0 < t.best_s <= t.first_s
    assert probekit.label(spark) == spark.sparkContext.master


def test_jvm_thread_cpu_splits_the_process_total(spark):
    """Every group is there, and ``exited`` (the process total less what
    the live and the seen threads hold) is not negative beyond a tick's
    rounding; a second call with the same ``seen`` only grows."""
    df = spark.range(1000)
    df.groupBy((df.id % 7).alias("k")).count().collect()
    seen: dict = {}
    cpu = probekit.jvm_thread_cpu(spark, seen)
    assert tuple(cpu) == probekit.GROUPS
    assert cpu["exited"] >= -0.05 and cpu["c2"] > 0, cpu
    assert {g for g, _ in seen.values()} <= set(probekit.GROUPS)
    again = probekit.jvm_thread_cpu(spark, seen)
    assert all(again[g] >= cpu[g] for g in probekit.GROUPS if g != "exited"), (cpu, again)


@pytest.mark.parametrize(
    "path", sorted((REPO_ROOT / "tools").glob("*.py")), ids=lambda p: p.name
)
def test_every_tool_imports(path):
    name = f"_tool_{path.stem}"
    spec = importlib.util.spec_from_file_location(name, path)
    module = sys.modules[name] = importlib.util.module_from_spec(spec)
    try:
        spec.loader.exec_module(module)
    finally:
        del sys.modules[name]

"""The parts every probe under ``tools/`` shares.

- ``timed(build, reps)`` runs ``build().collect()`` ``reps`` times and keeps
  the best and the first wall time, the row count, and what the first run
  did in Spark (jobs, stages, shuffle bytes, spill) as the status store
  recorded it for that run's job group.  The store is on with or without
  the web UI, so no REST call or sleep is needed.
- ``write_section(header, lines, merge_rows)`` is the one writer of
  ``docs/SCALEUP.md``: it replaces the section under ``header``, appends it
  when absent, or merges table rows into it for a run over a subset.
- ``label(spark)`` is the master the session really runs on (``local[N]``).
- ``star_ring(spark, n)`` is the skew-bomb graph both skew-bomb probes use.
- ``jvm_thread_cpu(spark)`` is the driver JVM's CPU so far, by thread group
  (JIT compilers, GC, executor tasks, py4j), read from ``/proc``.

Each probe keeps its own replica builder, its counters and its table format.
"""

from __future__ import annotations

import os
import sys
import time
import uuid
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

REPO = Path(__file__).resolve().parent.parent
sys.path.append(str(REPO / "perfbench"))

from measure import CLK_TCK, SparkStats, tree_cpu_s  # noqa: E402,F401 -- tree_cpu_s for the ETL and cold-premium probes

SCALEUP = REPO / "docs" / "SCALEUP.md"


@dataclass
class Timing:
    best_s: float
    first_s: float
    rows: int
    jobs: int
    stages: int
    shuffle_bytes: float
    spill_bytes: float


def timed(build: Callable, reps: int = 1) -> Timing:
    """Min-of-``reps`` wall time of ``build().collect()``.  ``build`` runs
    inside the timed region and inside the job group, so an entry that runs
    jobs while it builds (the iterative ones) is timed and counted whole.
    The counts are the first run's: a later run may hit a memo."""
    from pyspark.sql import SparkSession

    stats = SparkStats(SparkSession.active())
    times, rows, first = [], 0, None
    for _ in range(reps):
        group = f"probekit-{uuid.uuid4().hex}"
        with stats.group(group):
            t0 = time.perf_counter()
            rows = len(build().collect())
            times.append(time.perf_counter() - t0)
        if first is None:
            first = stats.read([group])
    return Timing(
        best_s=min(times), first_s=times[0], rows=rows, jobs=first.jobs,
        stages=first.stages, shuffle_bytes=first.shuffle_bytes,
        spill_bytes=first.spill_bytes,
    )


def label(spark) -> str:
    """The master the session runs on, e.g. ``local[4]``."""
    return spark.sparkContext.master


def _bounds(lines: list[str], header: str) -> tuple[int, int] | None:
    """[start, end) of the section whose header line is ``header``; a
    section runs to the next ``## `` header or the end of the file."""
    if header not in lines:
        return None
    start = lines.index(header)
    end = next(
        (i for i in range(start + 1, len(lines)) if lines[i].startswith("## ")),
        len(lines),
    )
    return start, end


def _merge(section: list[str], rows: dict[str, str]) -> list[str]:
    """Replace the rows of the section's first table whose first cell names
    a key of ``rows``; append the others after that table's last row."""
    first = next((i for i, l in enumerate(section) if l.startswith("|")), None)
    if first is None:
        raise SystemExit(f"{section[0]!r} has no table to merge into")
    last = first
    while last + 1 < len(section) and section[last + 1].startswith("|"):
        last += 1
    rows = dict(rows)
    out = list(section)
    for i in range(first + 2, last + 1):  # past the header and |---| rows
        name = out[i].split("|")[1].strip().strip("`")
        if name in rows:
            out[i] = rows.pop(name)
    return out[: last + 1] + list(rows.values()) + out[last + 1:]


def write_section(
    header: str,
    lines: list[str],
    merge_rows: dict[str, str] | None = None,
    path: Path = SCALEUP,
) -> None:
    """Write one section of ``path``: ``header`` then ``lines``.

    With ``merge_rows`` (first cell -> table row) and the section already
    there, only those rows change, in the section's first table; the prose
    stays.  Otherwise the section is replaced, or appended at the end when
    absent.  Every other section is left byte for byte."""
    text = path.read_text() if path.exists() else ""
    old = text.splitlines()
    at = _bounds(old, header)
    if at is None:
        while old and not old[-1]:
            old.pop()
        new = old + [""] * bool(old) + [header, *lines]
    else:
        start, end = at
        if merge_rows:
            body = _merge(old[start:end], merge_rows)
        else:
            body = [header, *lines] + ([""] if end < len(old) else [])
        new = old[:start] + body + old[end:]
    path.write_text("\n".join(new) + "\n")
    print(f"# wrote {header!r} in {path.name}", file=sys.stderr)


def star_ring(spark, n: int):
    """Undirected star (hub 0, spokes 1..n) plus a ring over the spokes,
    both directions, as a DataFrame(src, dst): one node of degree n, every
    other node of degree 3, coreness 3 everywhere."""
    from pyspark.sql import functions as F

    spokes = spark.range(1, n + 1).select(F.col("id").alias("i"))
    star = spokes.select(F.lit(0).cast("bigint").alias("src"), F.col("i").alias("dst"))
    ring = spokes.select(
        F.col("i").alias("src"),
        (F.col("i") % F.lit(n) + F.lit(1)).cast("bigint").alias("dst"),
    )
    half = star.unionByName(ring)
    return half.unionByName(
        half.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).repartition(32)


# (thread name prefix, group); /proc cuts a thread's name to 15 characters
JVM_THREAD_GROUPS = (
    ("C2 CompilerThre", "c2"),
    ("C1 CompilerThre", "c1"),
    ("G1 ", "gc"),
    ("GC Thread", "gc"),
    ("Executor task l", "tasks"),
    # unnamed threads: py4j's gateway connections, where the Python
    # driver's calls run (analysis, planning, codegen compile)
    ("Thread-", "py4j"),
)
GROUPS = ("c2", "c1", "gc", "tasks", "py4j", "other", "exited")


def _ticks(stat_path: str) -> int:
    """utime + stime of one /proc stat file (no reaped children)."""
    with open(stat_path) as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return int(fields[11]) + int(fields[12])


def jvm_thread_cpu(spark, seen: dict | None = None) -> dict[str, float]:
    """CPU seconds the driver JVM has used so far, by thread group (see
    ``GROUPS``).  Threads come and go (HotSpot stops idle dynamic compiler
    threads; the executor's task pool lets idle workers exit), so the
    process total is read too: ``exited`` is what it holds beyond the live
    threads.  A caller that samples repeatedly passes the same ``seen``
    dict (thread id -> group, ticks), which credits a thread that has
    exited to its group at its last sampled CPU instead."""
    pid = spark.sparkContext._gateway.proc.pid
    groups = dict.fromkeys(GROUPS, 0)
    live = set()
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                name = f.read().strip()
            ticks = _ticks(f"/proc/{pid}/task/{tid}/stat")
        except OSError:  # exited between the listing and the read
            continue
        group = next((g for p, g in JVM_THREAD_GROUPS if name.startswith(p)), "other")
        groups[group] += ticks
        live.add(tid)
        if seen is not None:
            seen[tid] = (group, ticks)
    for tid, (group, ticks) in (seen or {}).items():
        if tid not in live:
            groups[group] += ticks
    groups["exited"] = _ticks(f"/proc/{pid}/stat") - sum(groups.values())
    return {g: t / CLK_TCK for g, t in groups.items()}

"""Local replica of the driver's correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB over the
same parquet, compare row count + schema + order-insensitive values.

Usage: python tools/oracle_check.py [--sf-dir /root/testdata/sf0.01] [names...]

Exit 0 iff every checked query matches. Prints one line per query and a
mismatch diagnosis (first differing rows, max float delta) on failure.
"""

from __future__ import annotations

import argparse
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize cell values, sort rows."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        s = df[c]
        if s.dtype == object:
            df[c] = s.map(
                lambda v: tuple(v) if isinstance(v, (list, np.ndarray)) else v
            )
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def driver_compat(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    """Replicate what the DRIVER's canonicalizer is sensitive to, beyond
    plain value equality (CORRECTNESS_r01 showed it pandas-sorts then
    value-hashes, so it crashes on unhashable cells and flags equal values
    held in different dtypes, e.g. Spark int64 vs DuckDB HUGEINT/object):

    1. unhashable cells (list/ndarray/dict/set) crash its sort+hash;
    2. dtype divergence between engines (int64 vs object, float64 vs
       object-Decimal) hashes differently even when values are equal;
    3. within object columns, differing element Python types.
    """
    problems: list[str] = []
    for side, df in (("spark", spark_df), ("oracle", oracle_df)):
        for c in df.columns:
            if df[c].dtype == object:
                bad = df[c].map(
                    lambda v: isinstance(v, (list, np.ndarray, dict, set))
                )
                if bad.any():
                    problems.append(
                        f"DRIVER-CRASH col {c} ({side}): {int(bad.sum())} unhashable "
                        f"cells (type {type(df[c][bad.idxmax()]).__name__}) -- "
                        "driver's pandas sort/hash raises on these"
                    )
    for c in set(spark_df.columns) & set(oracle_df.columns):
        a, b = spark_df[c], oracle_df[c]
        if a.dtype.kind != b.dtype.kind and not (
            a.dtype.kind in "iu" and b.dtype.kind in "iu"
        ):
            problems.append(
                f"DRIVER-HASH col {c}: dtype kind differs "
                f"(spark={a.dtype} oracle={b.dtype}) -- equal values will "
                "hash differently in the driver gate"
            )
        elif a.dtype.kind == "f" and b.dtype.kind == "f" and a.dtype != b.dtype:
            problems.append(
                f"DRIVER-HASH col {c}: float widths differ "
                f"(spark={a.dtype} oracle={b.dtype}) -- float32 reprs hash "
                "differently from float64"
            )
        elif (
            a.dtype.kind in "iu" and b.dtype.kind in "iu"
            and a.dtype.itemsize != b.dtype.itemsize
            and ((a < 0).any() or (b < 0).any())
        ):
            problems.append(
                f"DRIVER-HASH col {c}: negative ints at differing widths "
                f"(spark={a.dtype} oracle={b.dtype}) hash differently"
            )
        elif a.dtype == object and b.dtype == object and len(a) and len(b):
            ta = {type(v).__name__ for v in a.dropna().head(50)}
            tb = {type(v).__name__ for v in b.dropna().head(50)}
            if ta and tb and ta != tb:
                problems.append(
                    f"DRIVER-HASH col {c}: object element types differ "
                    f"(spark={sorted(ta)} oracle={sorted(tb)})"
                )
    return problems


def compare(name: str, spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    if sorted(spark_df.columns) != sorted(oracle_df.columns):
        return [f"columns differ: spark={sorted(spark_df.columns)} oracle={sorted(oracle_df.columns)}"]
    if len(spark_df) != len(oracle_df):
        problems.append(f"row count: spark={len(spark_df)} oracle={len(oracle_df)}")
    problems.extend(driver_compat(name, spark_df, oracle_df))
    a, b = normalize(spark_df), normalize(oracle_df)
    if len(a) == len(b):
        for c in a.columns:
            av, bv = a[c], b[c]
            if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
                avf = av.astype(float).to_numpy()
                bvf = bv.astype(float).to_numpy()
                both_nan = np.isnan(avf) & np.isnan(bvf)
                eq = (avf == bvf) | both_nan
                if not eq.all():
                    delta = np.nanmax(np.abs(avf - bvf))
                    problems.append(
                        f"col {c}: {int((~eq).sum())} values differ (max abs delta {delta:.3e})"
                    )
            else:
                eq = (av == bv) | (av.isna() & bv.isna())
                if not eq.all():
                    i = int(np.argmax(~eq.to_numpy()))
                    problems.append(
                        f"col {c}: {int((~eq).sum())} values differ "
                        f"(first at row {i}: spark={av.iloc[i]!r} oracle={bv.iloc[i]!r})"
                    )
    return problems


def pick_unsampled(qs: dict, n: int) -> tuple[list[str], int, int]:
    """Rotation over the catalog entries NO driver CORRECTNESS_r*.json has
    ever sampled: the driver checks 50 of ~200 per round, so most entries
    rest on local evidence only. Each round this picks a DIFFERENT window
    of n never-sampled entries (offset rotates with the round number), so
    successive rounds sweep the whole unsampled set."""
    import json

    sampled: set[str] = set()
    n_rounds = 0
    for p in sorted(REPO.glob("CORRECTNESS_r*.json")):
        n_rounds += 1
        try:
            sampled |= set(json.loads(p.read_text()).keys())
        except (OSError, ValueError):
            pass
    pool = [name for name in sorted(qs) if name not in sampled]
    if not pool:
        return [], n_rounds + 1, 0
    start = ((n_rounds + 1) * n) % len(pool)
    picked = [pool[(start + i) % len(pool)] for i in range(min(n, len(pool)))]
    return picked, n_rounds + 1, len(pool)


def pick_changed(qs: dict, ref: str, evergreens: int) -> tuple[list[str], list[str]]:
    """FRESHNESS rotation (r8 verdict ask #3): every catalog entry now has
    at least one executed oracle row, so the risk is staleness -- an entry
    whose implementing code changed after its last check. Selects every
    entry AFFECTED by files changed since ``ref`` (its defining plans
    module changed, or its source references a top-level symbol defined in
    any changed package module -- catches operator/function edits reaching
    entries in unchanged modules), plus ``evergreens`` deterministic
    pseudo-random unaffected entries (seeded by ref+round count, so each
    round re-verifies a different evergreen slice)."""
    import inspect
    import random
    import re
    import subprocess

    # bare <ref> (not <ref>..HEAD) diffs against the WORKTREE, so
    # uncommitted edits are part of the affected set (r9 advice: with
    # ..HEAD a pre-commit rotation silently saw an empty affected set)
    changed = subprocess.run(
        ["git", "diff", "--name-only", ref],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    # `git diff <ref>` omits UNTRACKED files, so a brand-new plan module
    # that hasn't been `git add`ed would be invisible to the affected-set
    # rotation (r10 advice #2) -- union in the untracked set
    changed += subprocess.run(
        ["git", "ls-files", "--others", "--exclude-standard"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    ).stdout.split()
    pkg = "state_economics_end_to_end_data_pipeline_spark/"
    changed_py = [f for f in changed if f.startswith(pkg) and f.endswith(".py")]
    changed_mods = {f[: -len(".py")].replace("/", ".") for f in changed_py}
    symbols: set[str] = set()
    for f in changed_py:
        # registry infrastructure defines symbols every entry references
        # (register, Query, load_all) -- a change there affects all
        # entries equally and is the full sweep's job, not the rotation's
        if f.endswith("plans/__init__.py"):
            continue
        try:
            src = (REPO / f).read_text()
        except OSError:
            continue
        symbols |= set(re.findall(r"^(?:def|class) ([A-Za-z_]\w*)", src, re.M))
    sym_re = (
        re.compile(r"\b(" + "|".join(sorted(map(re.escape, symbols))) + r")\b")
        if symbols
        else None
    )
    affected = []
    for name in sorted(qs):
        fn = qs[name]
        if fn.__module__ in changed_mods:
            affected.append(name)
            continue
        if sym_re is not None:
            try:
                if sym_re.search(inspect.getsource(fn)):
                    affected.append(name)
            except (OSError, TypeError):
                affected.append(name)  # unsourceable: re-check, don't skip
    rest = [n for n in sorted(qs) if n not in set(affected)]
    rng = random.Random(f"{ref}:{len(list(REPO.glob('CORRECTNESS_r*.json')))}")
    ever = sorted(rng.sample(rest, min(evergreens, len(rest))))
    return affected, ever


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--unsampled",
        type=int,
        default=0,
        metavar="N",
        help="check N entries never sampled by any driver CORRECTNESS_r*.json "
        "(window rotates with the round number)",
    )
    ap.add_argument(
        "--changed-since",
        metavar="REF",
        help="freshness rotation: check every entry affected by package "
        "files changed since REF, plus --evergreens random others",
    )
    ap.add_argument("--evergreens", type=int, default=10)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from state_economics_end_to_end_data_pipeline_spark.session import get_spark

    # The console progress bar writes \r-terminated frames to stdout; when
    # the run is captured to a file they swallow adjacent result lines
    # (round 6: 3 of 30 OK lines vanished from the recorded evidence).
    # Recorded evidence must be line-complete, so the bar is off here.
    spark = get_spark(
        app_name="oracle-check",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{args.sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    if args.unsampled:
        names, rnd, pool_size = pick_unsampled(qs, args.unsampled)
        print(
            f"# unsampled rotation: round {rnd}, {pool_size} never-driver-sampled "
            f"entries, checking {len(names)}: {' '.join(names)}"
        )
    elif args.changed_since:
        affected, ever = pick_changed(qs, args.changed_since, args.evergreens)
        names = affected + ever
        print(
            f"# freshness rotation since {args.changed_since}: "
            f"{len(affected)} affected entries + {len(ever)} evergreens"
        )
        print(f"# affected: {' '.join(affected)}")
        print(f"# evergreens: {' '.join(ever)}")
    else:
        names = args.names or sorted(qs)
    n_fail = 0
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, args.sf_dir).toPandas()
        except Exception as e:
            print(f"FAIL  {name}: spark error: {e}", flush=True)
            n_fail += 1
            continue
        if name not in oracles:
            print(f"OK*   {name}: rows={len(sdf)} (no oracle, rows-only) [{time.time()-t0:.1f}s]", flush=True)
            continue
        try:
            odf = con.sql(oracles[name]).df()
        except Exception as e:
            print(f"FAIL  {name}: oracle error: {e}", flush=True)
            n_fail += 1
            continue
        problems = compare(name, sdf, odf)
        if problems:
            n_fail += 1
            print(f"FAIL  {name}: rows={len(sdf)} [{time.time()-t0:.1f}s]", flush=True)
            for p in problems:
                print(f"      - {p}")
        else:
            print(f"OK    {name}: rows={len(sdf)} [{time.time()-t0:.1f}s]", flush=True)
    print(f"\n{len(names) - n_fail}/{len(names)} queries match")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())

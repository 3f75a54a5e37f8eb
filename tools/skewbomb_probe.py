"""Skew-bomb probe for the h-index round (r10 verdict ask #1 'done'
criterion): one synthetic 1e5-degree hub, timing the r11 HISTOGRAM
round (groupBy(node, estimate) + suffix-sum argmax over distinct
values, capped start h0 = min(degree, H0)) against the r10 WINDOWED
round (row_number over the full per-node adjacency, degree start).

Graph: a star-plus-ring -- hub 0 connected to spokes 1..N, spoke i
connected to spoke i+1 (mod N), all edges in both directions.  Facts
that make it the right bomb:

- the hub's adjacency is N rows; the windowed round sorts ALL of them
  in ONE task per round (window partition == node);
- degrees are {N: 1 node, 3: N nodes}, so the degree-sequence h-index
  H0 = 3 and the capped start gives every node an estimate <= 3: the
  histogram round's per-node partition holds <= H0+1 = 4 rows -- the
  hub's N-row fan-in is absorbed by the distributed hash aggregate
  (map-side combine), never sorted in one task;
- true coreness is 3 everywhere (ring gives each spoke 2 in-core
  neighbors + the hub; 4-core is empty), so both variants' FULL
  iterations must converge to the constant-3 decomposition -- asserted,
  not assumed.

Prints one JSON line and writes the '## skew-bomb probe: h-index round on
a 1e5-degree hub' section of docs/SCALEUP.md.

Usage: python tools/skewbomb_probe.py [--hub-degree 100000] [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.probekit import label, star_ring, timed, write_section  # noqa: E402

SECTION_HEADER = "## skew-bomb probe: h-index round on a 1e5-degree hub"


def joined_estimates(edges, h):
    """Each node's neighbor estimates: (node, nh) for every edge."""
    from pyspark.sql import functions as F

    return edges.join(h, edges.dst == h.node).select(
        F.col("src").alias("node"), F.col("h").alias("nh")
    )


def windowed_tail(joined):
    """The r10 formulation: row_number over the FULL per-node adjacency
    (partition size == degree -- the hub sorts 1e5 rows in one task)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("node").orderBy(F.col("nh").desc())
    return (
        joined.withColumn("rn", F.row_number().over(w))
        .groupBy("node")
        .agg(F.max(F.least(F.col("rn").cast("bigint"), F.col("nh"))).alias("h"))
    )


def histogram_tail(joined):
    """The r11 formulation: hash-aggregate per (node, estimate), then a
    suffix-sum argmax over the distinct values (<= H0+1 rows per node
    under the capped start)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = (
        Window.partitionBy("node")
        .orderBy(F.col("nh").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        joined.groupBy("node", "nh")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .withColumn("s", F.sum("cnt").over(w))
        .groupBy("node")
        .agg(F.max(F.least(F.col("nh"), F.col("s"))).alias("h"))
    )


def iterate_to_fixpoint(edges, h, tail, cap: int = 50):
    """Runs rounds of ``tail`` until the sum of ``h`` repeats; returns the last
    ``h`` and the CHANGING rounds (the LAST_ROUNDS convention), so the
    rounds column compares directly with bench-record last_rounds."""
    from pyspark.sql import functions as F

    from state_economics_end_to_end_data_pipeline_spark.operators.loops import (
        fixpoint,
        materialize,
    )

    def step(h, _):
        return materialize("skewbomb", tail(joined_estimates(edges, h)), F.sum("h"))

    return fixpoint("skewbomb", step, (h, h.agg(F.sum("h")).first()[0]), cap)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--hub-degree", type=int, default=100_000)
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from state_economics_end_to_end_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="skewbomb-probe")
    n = args.hub_degree
    edges = star_ring(spark, n).localCheckpoint()
    n_edges = edges.count()

    deg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        .localCheckpoint()
    )
    # degree start (r10) and capped start (r11, H0 == 3 by construction)
    h_deg = deg.select("node", F.col("d").alias("h")).localCheckpoint()
    h_cap = deg.select(
        "node", F.least(F.col("d"), F.lit(3)).cast("bigint").alias("h")
    ).localCheckpoint()

    t_win = timed(lambda: windowed_tail(joined_estimates(edges, h_deg)), args.reps).best_s
    t_hist = timed(lambda: histogram_tail(joined_estimates(edges, h_cap)), args.reps).best_s

    # END-TO-END round walls above are join-dominated at local scale
    # (the edge join is identical in both variants and costs the same
    # 32-way shuffle); the part the r11 rewrite changed is what happens
    # AFTER the join, so also time the two tails on the SAME
    # materialized joined relation -- windowed: one task sorts the
    # hub's N rows; histogram: a distributed hash aggregate + a <=
    # (H0+1)-row window per node.
    joined = joined_estimates(edges, h_cap).localCheckpoint()
    t_win_tail = timed(lambda: windowed_tail(joined), args.reps).best_s
    t_hist_tail = timed(lambda: histogram_tail(joined), args.reps).best_s

    # The load-bearing asymmetry (the analog of the market-basket cap
    # probe's candidate counts): how many rows enter the per-node
    # window's HUB partition.  Windowed = the hub's full adjacency (one
    # task holds and sorts it); histogram = the hub's DISTINCT
    # neighbor-estimate values (<= H0+1 by the capped start).  Walls at
    # local[32] are shuffle-dominated and similar; THIS is the quantity
    # that owns the critical path when the hub is 1e8-degree.
    hub_rows_windowed = joined.filter(F.col("node") == 0).count()
    hub_rows_histogram = (
        joined.filter(F.col("node") == 0).select("nh").distinct().count()
    )

    # correctness on the bomb: both FULL iterations converge to the
    # constant-3 coreness (star+ring degeneracy)
    hw, r_win = iterate_to_fixpoint(edges, h_deg, windowed_tail)
    hh, r_hist = iterate_to_fixpoint(edges, h_cap, histogram_tail)
    for name, hdf in (("windowed", hw), ("histogram", hh)):
        bad = hdf.filter(F.col("h") != 3).count()
        if bad:
            raise SystemExit(f"{name} fixpoint wrong: {bad} nodes != coreness 3")

    # the structural invariant the histogram round rests on: no node
    # sees more than H0+1 distinct neighbor-estimate values
    max_distinct = (
        edges.join(h_cap, edges.dst == F.col("node"))
        .groupBy("src")
        .agg(F.countDistinct("h").alias("k"))
        .agg(F.max("k"))
        .collect()[0][0]
    )

    row = {
        "hub_degree": n,
        "n_edges": n_edges,
        "sec_windowed_round": round(t_win, 2),
        "sec_histogram_round": round(t_hist, 2),
        "sec_windowed_tail": round(t_win_tail, 2),
        "sec_histogram_tail": round(t_hist_tail, 2),
        "tail_speedup": round(t_win_tail / t_hist_tail, 2),
        "hub_window_rows_windowed": hub_rows_windowed,
        "hub_window_rows_histogram": hub_rows_histogram,
        "rounds_windowed": r_win,
        "rounds_histogram": r_hist,
        "max_distinct_estimates_seen": max_distinct,
        "h0_cap": 3,
    }
    print(json.dumps(row))

    md = [
        "",
        "Generated by `python tools/skewbomb_probe.py` (min-of-"
        f"{args.reps}, {label(spark)}).  Synthetic star+ring: ONE node of "
        f"degree {n:,}, {n_edges:,} directed edges, true coreness 3 "
        "everywhere (both variants' full iterations verified to land "
        "there).  'windowed' is the r10 coreness_hindex round "
        "(row_number over the full adjacency -- the hub's partition is "
        f"{n:,} rows in one task); 'histogram' is the r11 round "
        "(hash-aggregate per (node, estimate) + suffix-sum argmax, "
        "capped start h0 = min(degree, H0), H0 = 3 here).  The 'round' "
        "columns are end-to-end (join included -- identical 32-way "
        "shuffle in both, so it masks the delta at local scale); the "
        "'tail' columns time ONLY the post-join stage each variant "
        "actually differs in, on the same materialized joined relation.",
        "",
        "| hub degree | edges | windowed round | histogram round | "
        "windowed tail | histogram tail | hub window rows win->hist "
        "| max distinct estimates/node | rounds (win/hist) |",
        "|---|---|---|---|---|---|---|---|---|",
        f"| {n:,} | {n_edges:,} | {row['sec_windowed_round']} s "
        f"| {row['sec_histogram_round']} s | {row['sec_windowed_tail']} s "
        f"| {row['sec_histogram_tail']} s "
        f"| {hub_rows_windowed:,} -> {hub_rows_histogram:,} "
        f"| {max_distinct} (bound H0+1 = 4) | {r_win}/{r_hist} |",
        "",
        f"Reading: at {label(spark)} the walls are SHUFFLE-dominated and "
        "near-equal -- both variants move the same joined relation, "
        "and one in-memory sort of a few million near-equal values is "
        "not a local bottleneck with the other cores idle.  The load-bearing "
        "column is 'hub window rows': the quantity ONE task must hold "
        "and sort in the windowed round is the hub's full adjacency "
        "(grows with degree -- at 1e8 it is a spilling straggler that "
        "owns the critical path), while the histogram round's is the "
        "distinct-estimate count, bounded by H0+1 (= degeneracy bound) "
        "via the capped start NO MATTER the degree -- the adjacency "
        "fan-in is absorbed by the distributed, map-side-combined "
        "hash aggregate.  Same structure as the market-basket cap "
        "probe: the wall moves with the fixture, the bound is the "
        "evidence.",
    ]

    write_section(SECTION_HEADER, md)
    return 0


if __name__ == "__main__":
    sys.exit(main())

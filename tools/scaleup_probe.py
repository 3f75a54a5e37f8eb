"""Measured scale-up behavior: run representative catalog queries at
sf0.1 and at a synthetic 10x (key-shifted replicas built in a temp dir),
and report the wall-clock ratio. A ratio near 1 means the plan is
overhead-dominated (shuffle stays O(groups)); near 10 means the operator
is honestly CPU/data-bound; far above 10 is a scaling bug.

The 10x tables are built once per run: facts are replicated with shifted
join keys (so join fan-in per key is preserved, not multiplied), events
get shifted users + timestamps (so session/window state grows with data,
as it would in production). Dims are copied as-is.

Usage: python tools/scaleup_probe.py [--base /root/testdata/sf0.1] [names...]
Prints one JSON line per query and writes its sections of docs/SCALEUP.md:
the leading 10x table (a run over named entries merges their rows into it)
and, when their entries ran, the skew-bomb and hub-part sections.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.probekit import label, timed, write_section  # noqa: E402

HEADER = "# Measured 10x scale-up (sf0.1 -> synthetic sf1)"

PROBES = [
    "q1_pricing_summary",
    "tpch_q14_promo_revenue",
    "tpch_q18_large_orders",
    "sessionize_events_batch",
    "distinct_count_exact",
    "sample_stratified_systematic",
    "upsert_scd2",
    "market_basket_pairs",
    "cohort_retention",
    "tpch_q13_order_histogram",
    "outlier_zscore_per_group",
    "quantiles_grouped_approx",
    "train_val_test_split",
    "doc_repetition_ratio",
    "corpus_shard_shuffle",
    "dedup_incremental_batch",
    "copurchase_triangles",
    "embedding_pq_adc_topk",
    "fk_check_orphans",
    "dedup_bloom_prefilter",
    "bm25_keyword_search",
    "hll_sketch_merge",
    "dupspan_coverage",
    "embedding_random_projection",
    "events_ohlc_hourly",
    "embedding_ivfpq_topk",
    "vocab_topk_coverage",
    "token_pmi_pairs",
    "item_item_cosine_topk",
    "ema_trailing_per_user",
    "bigram_logprob_quality",
    "ks_drift_event_values",
    "graph_bfs_hops",
    "bootstrap_mean_ci",
    "jaccard_prefix_filter_pairs",
    "clustering_coefficient_parts",
    "orders_open_by_day",
    "skipgram_cooccurrence",
    "dau_new_vs_returning",
    # round-6 additions: the coded global-window twins (the point is the
    # ratio vs their exact counterparts), the reworked minhash
    # calibration, and the new drift/retrieval/pixel entries
    "customer_rfm_segments_approx",
    "window_ntile_deciles_approx",
    "ks_drift_event_values_distributed",
    "minhash_jaccard_estimate",
    "psi_drift_event_values",
    "tfidf_topk_terms",
    "multimodal_pixels",
    # round-7 additions: the contamination audit + remediation (pair
    # generation must stay O(docs)), the rank/trend/agreement stats
    # (prefix-sum and day-aggregated shapes), weighted sampling
    # (TakeOrdered), and the two streaming entries (replayed at 10x the
    # event volume -- the PSI state is O(windows x bins), the count-min
    # state O(d x w), so both should scale like aggregates)
    "split_leakage_neardup",
    "cluster_aware_split",
    "mannwhitney_u_event_values",
    "theilsen_trend_event_values",
    "kappa_lang_agreement",
    "weighted_sample_ares",
    "stream_psi_drift",
    "stream_countmin_users",
    "cusum_changepoint_event_values",
    "stream_interval_join_left_outer",
    "stream_session_dynamic_gap",
    # round-8 additions: the WAV and AVI twins of multimodal_pixels
    # (narrow back-to-back Arrow passes; should ride the data ratio)
    "multimodal_audio_features",
    "multimodal_video_framestats",
    # round 9: consecutive dedup + partial-agg merge + CDC chunking +
    # novelty curve + sliding distinct + bitmap intersection
    "dedup_consecutive_events",
    "incremental_agg_merge",
    "cdc_chunk_dedup",
    "gram_novelty_by_bucket",
    "rolling_distinct_users_7d",
    "bitmap_intersection_audiences",
    "dup_cluster_size_histogram",
    "group_kfold_assign",
    "compression_ratio_quality",
    "graph_neighbor_jaccard",
    "twap_user_value",
    # round 10: the h-index coreness iteration (rounds bounded by value
    # deltas, one edge join + window per round), the power-iteration PCA
    # (three shuffle-free map-side-combined passes -- should be nearly
    # flat), and the value-hashed raw-length companion (same mapInPandas
    # pass as compression_ratio_quality minus the zlib column)
    "coreness_hindex",
    "embedding_pca_power",
    "compression_ratio_rawlen",
    # the abtt diagnostic: corpus stats ride the PCA passes, the pair
    # sample is O(1) by construction -- should be nearly flat
    "embedding_anisotropy_abtt",
    # round 11: single- and multi-seed personalized PageRank (per-round
    # edge join rides the data; multi-seed shares it across K seeds),
    # and the deflated second PCA component (6 cached scans, flat)
    "ppr_parts_3iter",
    "ppr_multiseed",
    "embedding_pca_top2",
    # integer HITS: four half-rounds of edge-join + hash aggregate over
    # the bipartite purchase graph -- should ride the data like the
    # other message-passing entries
    "hits_bipartite_2iter",
    # contamination matrix rides the banded LSH join; assortativity is
    # two degree joins + one global aggregate (should be nearly flat)
    "cross_source_dup_matrix",
    "degree_assortativity",
    # sync LPA: per round one edge join + two hash aggregates (packed
    # argmax) -- same skew-safe shape as the r11 h-index round
    "lpa_communities_3iter",
    # k-truss support (capped wedge join + edge semi-join) and the
    # one-aggregate mixture weights (should be flat)
    "edge_triangle_support",
    "source_mixture_weights",
    # iterative 3-truss peel (degree-oriented triangle rounds)
    "truss_edges_k3",
    # round-11 continuation: Hilbert layout (post-aggregation curve math
    # on the 64Ki-cell grain -- should be nearly flat), K-seed harmonic
    # centrality (per-round shared edge join; rides the data like BFS),
    # SCC of the taxonomy digraph (one window shuffle + dimension-sized
    # closure -- rides the window), the per-source unigram KL (two
    # token-keyed partial aggregates), and the IVF reciprocal-rank eval
    # (brute side scans the corpus, batch bounded at 10 queries)
    "hilbert_layout_spans",
    "harmonic_centrality_sample",
    "scc_event_types",
    "token_kl_by_source",
    "mrr_ivf_vs_brute",
    # query-likelihood retrieval: same two-scan shape as bm25 -- rides
    # the corpus scan, no shuffle wider than one row
    "lm_dirichlet_search",
    # Bahmani peel and Luby MIS: per-round keyed joins/aggregates over
    # the shrinking active graph; both ride the ~335x edge artifact on
    # shared-key replicas, with round counts bounded by log(V)/log(E)
    # independent of density
    "densest_subgraph_peel",
    "mis_parts_luby",
    # walk corpus: T keyed joins over |V| rows, no fan-out; rides node
    # count, not edges
    "random_walks_hash3",
    # last-touch attribution: one user-window shuffle + taxonomy-sized
    # aggregate -- should ride the window like the sessionize family
    "attribution_last_touch",
    # batch-GD training: one stats pass + 3 gradient-aggregate epochs,
    # each a single O(1)-shuffle scalar aggregate -- should ride the scan
    "quality_logreg_3iter",
    # relational Lloyd: n*k*d dim-join rows per round feeding
    # map-side-combined aggregates -- should ride the data
    "kmeans_lloyd_exact2",
    # round 12: BPE merge training -- ONE corpus pass to word types;
    # the 10x replicas repeat the same texts, so the word-type relation
    # (and the live pair vocabulary) stays 1x while frequencies scale:
    # wall must ride the corpus scan, not the pair space
    "bpe_train_merges",
    # the encode side: K replaces composed onto ONE word-type scan, all
    # K+1 curve points in a single aggregate (memo-trained merges)
    "bpe_token_curve",
    # DSIR selection: one token pass -> two O(B) bucket aggregates, a
    # broadcast B-row model, one doc-keyed aggregate, TakeOrdered top-k
    # -- should ride the token stream
    "dsir_importance_topk",
    # vectorized Lloyd twin: per round one narrow array-fold pass +
    # a k-group mean -- should ride the scan, far under the dim-join
    # twin's n*k*d growth
    "kmeans_lloyd_vectorized_counts",
]

REPLICAS = 10


def empty(r: dict) -> bool:
    """Zero rows at either scale: the probe timed nothing (the round-7
    streaming glob-vs-directory bug read this way)."""
    return r["rows_1x"] == 0 or r["rows_10x"] == 0


def fmt_table_row(r: dict) -> str:
    """One markdown row for the main SCALEUP table; an empty result is
    marked in the ratio cell so it never reads as a healthy ratio."""
    ratio = f"{r['ratio']}x"
    if empty(r):
        ratio += f" EMPTY(rows_1x={r['rows_1x']}, rows_10x={r['rows_10x']})"
    return f"| {r['query']} | {r['sec_1x']} | {r['sec_10x']} | {ratio} |"


def build_10x(spark, base: str, out: str) -> None:
    from pyspark.sql import functions as F

    from state_economics_end_to_end_data_pipeline_spark.io.readers import (
        read_parquet_table,
    )

    def rep(df, shifts: dict[str, F.Column]):
        parts = []
        for i in range(REPLICAS):
            d = df
            for col, base_expr in shifts.items():
                d = d.withColumn(col, F.col(col) + F.lit(i) * base_expr)
            parts.append(d)
        out_df = parts[0]
        for p in parts[1:]:
            out_df = out_df.unionByName(p)
        return out_df

    li = read_parquet_table(spark, base, "lineitem")
    o = read_parquet_table(spark, base, "orders")
    ev = read_parquet_table(spark, base, "events")
    key_span = F.lit(o.agg(F.max("o_orderkey")).first()[0] + 1)
    cust_span = F.lit(o.agg(F.max("o_custkey")).first()[0] + 1)
    user_span = F.lit(ev.agg(F.max("user_id")).first()[0] + 1)
    eid_span = F.lit(ev.agg(F.max("event_id")).first()[0] + 1)

    rep(li, {"l_orderkey": key_span}).write.mode("overwrite").parquet(
        f"{out}/lineitem.parquet"
    )
    rep(o, {"o_orderkey": key_span, "o_custkey": cust_span}).write.mode(
        "overwrite"
    ).parquet(f"{out}/orders.parquet")
    ev10 = rep(ev, {"user_id": user_span, "event_id": eid_span})
    ev10.write.mode("overwrite").parquet(f"{out}/events.parquet")
    docs = read_parquet_table(spark, base, "documents")
    doc_span = F.lit(docs.agg(F.max("doc_id")).first()[0] + 1)
    rep(docs, {"doc_id": doc_span}).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    emb = read_parquet_table(spark, base, "embeddings")
    vec_span = F.lit(emb.agg(F.max("vec_id")).first()[0] + 1)
    rep(emb, {"vec_id": vec_span}).write.mode("overwrite").parquet(
        f"{out}/embeddings.parquet"
    )
    for dim in ("customer", "supplier", "part", "nation", "region"):
        read_parquet_table(spark, base, dim).write.mode("overwrite").parquet(
            f"{out}/{dim}.parquet"
        )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from state_economics_end_to_end_data_pipeline_spark.plans import load_all
    from state_economics_end_to_end_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="scaleup-probe")
    qs = load_all()
    names = args.names or [n for n in PROBES if n in qs]

    big = tempfile.mkdtemp(prefix="scaleup_10x_")
    print(f"# building 10x replicas in {big}", file=sys.stderr)
    build_10x(spark, args.base, big)

    rows = []
    for name in names:
        small = timed(lambda: qs[name].fn(spark, args.base), reps=2)
        large = timed(lambda: qs[name].fn(spark, big), reps=2)
        row = {
            "query": name,
            "sec_1x": round(small.best_s, 2),
            "sec_10x": round(large.best_s, 2),
            "ratio": round(large.best_s / small.best_s, 2),
            "rows_1x": small.rows,
            "rows_10x": large.rows,
        }
        rows.append(row)
        print(json.dumps(row))

    # --- skew-bomb probe: the basket-size cap under a pathological key.
    # The 10x replicas preserve basket sizes, so the cap is invisible
    # there; this injects ONE order with `bomb` distinct parts (C(bomb,2)
    # pairs from a single join key if uncapped) and times the registered
    # capped plan vs an uncapped run on identical data.
    skew_rows = []
    if "market_basket_pairs" in names:
        from pyspark.sql import functions as F

        from state_economics_end_to_end_data_pipeline_spark.plans.event_analytics import (
            market_basket_pairs,
        )

        bomb = 5000
        skew_dir = tempfile.mkdtemp(prefix="scaleup_skew_")
        li = spark.read.parquet(f"{big}/lineitem.parquet")
        max_ok = li.agg(F.max("l_orderkey")).first()[0]
        bomb_rows = spark.range(bomb).select(
            *[
                F.lit(max_ok + 1).alias(c) if c == "l_orderkey"
                else F.col("id").cast(d).alias(c) if c == "l_partkey"
                else F.lit(None).cast(d).alias(c)
                for c, d in li.dtypes
            ]
        )
        li.unionByName(bomb_rows).write.mode("overwrite").parquet(
            f"{skew_dir}/lineitem.parquet"
        )
        t_cap = timed(lambda: market_basket_pairs(spark, skew_dir), reps=2).best_s
        t_uncap = timed(
            lambda: market_basket_pairs(spark, skew_dir, max_basket=10**9), reps=2
        ).best_s
        skew_rows.append(
            {
                "scenario": f"10x + one {bomb}-part basket",
                "capped_sec": round(t_cap, 2),
                "uncapped_sec": round(t_uncap, 2),
                "uncapped_pairs_from_bomb": bomb * (bomb - 1) // 2,
            }
        )
        print(json.dumps(skew_rows[-1]))

    # --- hub-part probe: triangle orientation under degree skew.
    # Injects ONE hub part into `hub_orders` existing 10x baskets (pairs
    # (hub, p) co-occur >= 2x whenever p shares >= 2 of those orders, so
    # the hub's degree in the co-purchase graph ~ the co-purchased part
    # universe). Under id orientation the hub is a single wedge-join key
    # with in-degree x out-degree fan-out; degree orientation points
    # almost every hub edge INTO the hub, collapsing its out-degree.
    # Reports the measured per-key wedge fan-out (deterministic) plus
    # wall-clock for both orientations on identical data.
    tri_rows = []
    if "copurchase_triangles" in names:
        from pyspark.sql import functions as F

        from state_economics_end_to_end_data_pipeline_spark.plans.event_analytics import (
            copurchase_triangles,
            market_basket_pairs,
        )

        hub_orders = 10_000
        hub_dir = tempfile.mkdtemp(prefix="scaleup_hub_")
        li = spark.read.parquet(f"{big}/lineitem.parquet")
        max_part = li.agg(F.max("l_partkey")).first()[0]
        hub_part = max_part + 1
        target = (
            li.select("l_orderkey").distinct().limit(hub_orders)
        )
        hub_lines = target.select(
            *[
                F.col("l_orderkey").alias(c) if c == "l_orderkey"
                else F.lit(hub_part).cast(d).alias(c) if c == "l_partkey"
                else F.lit(None).cast(d).alias(c)
                for c, d in li.dtypes
            ]
        )
        li.unionByName(hub_lines).write.mode("overwrite").parquet(
            f"{hub_dir}/lineitem.parquet"
        )

        edges = market_basket_pairs(spark, hub_dir, min_orders=2).select(
            "part_a", "part_b"
        ).localCheckpoint()
        hub_degree = edges.filter(
            (F.col("part_a") == hub_part) | (F.col("part_b") == hub_part)
        ).count()
        # wedge fan-out per join key: id orientation keys the wedge join on
        # the middle vertex b (in-deg * out-deg); degree orientation keys on
        # the wedge source u (out-deg choose 2).
        out_id = edges.groupBy(F.col("part_a").alias("k")).agg(
            F.count(F.lit(1)).alias("outd")
        )
        in_id = edges.groupBy(F.col("part_b").alias("k")).agg(
            F.count(F.lit(1)).alias("ind")
        )
        id_fanout = (
            out_id.join(in_id, "k")
            .select(F.max(F.col("ind") * F.col("outd")).alias("mx"),
                    F.sum(F.col("ind") * F.col("outd")).alias("tot"))
            .first()
        )
        deg = edges.select(
            F.explode(F.array("part_a", "part_b")).alias("p")
        ).groupBy("p").agg(F.count(F.lit(1)).alias("deg"))
        da = deg.select(F.col("p").alias("part_a"), F.col("deg").alias("deg_a"))
        db = deg.select(F.col("p").alias("part_b"), F.col("deg").alias("deg_b"))
        ranked = edges.join(da, "part_a").join(db, "part_b")
        ra = F.struct(F.col("deg_a").alias("deg"), F.col("part_a").alias("id"))
        rb = F.struct(F.col("deg_b").alias("deg"), F.col("part_b").alias("id"))
        src = F.when(ra < rb, F.col("part_a")).otherwise(F.col("part_b"))
        deg_fanout = (
            ranked.groupBy(src.alias("u"))
            .agg(F.count(F.lit(1)).alias("outd"))
            .select(
                F.max(F.col("outd") * (F.col("outd") - 1) / 2).alias("mx"),
                F.sum(F.col("outd") * (F.col("outd") - 1) / 2).alias("tot"),
            )
            .first()
        )
        t_deg = timed(lambda: copurchase_triangles(spark, hub_dir), reps=2).best_s
        t_id = timed(
            lambda: copurchase_triangles(spark, hub_dir, orientation="id"), reps=2
        ).best_s
        tri_rows.append(
            {
                "scenario": f"10x + one hub part in {hub_orders:,} baskets",
                "hub_degree": hub_degree,
                "id_max_key_fanout": int(id_fanout["mx"]),
                "deg_max_key_fanout": int(deg_fanout["mx"]),
                "id_total_wedges": int(id_fanout["tot"]),
                "deg_total_wedges": int(deg_fanout["tot"]),
                "degree_oriented_sec": round(t_deg, 2),
                "id_oriented_sec": round(t_id, 2),
            }
        )
        print(json.dumps(tri_rows[-1]))
        edges.unpersist()

    table = {r["query"]: fmt_table_row(r) for r in rows}
    write_section(HEADER, [
        "",
        "Generated by `python tools/scaleup_probe.py` (key-shifted 10x",
        f"replicas, {label(spark)}, min-of-2). Base: `{args.base}`.",
        "",
        "| query | 1x sec | 10x sec | ratio |",
        "|---|---|---|---|",
        *table.values(),
        "",
        "Reading: ratios near 1x are overhead-dominated plans (shuffle is",
        "O(groups), fixed job costs dominate at this scale); honest",
        "data-bound work approaches the data ratio. Anything well above the",
        "data ratio would be a scaling bug (none observed).",
        "",
        "`market_basket_pairs` / `copurchase_triangles` note: key-shifted",
        "replication multiplies",
        "every part pair's co-occurrence count by the replica factor, so",
        "the >=2-orders edge threshold admits the whole single-co-occurrence",
        "tail -- the 10x graph is ~335x the EDGES (1.196M vs 3,573) and",
        "~1.9M triangles vs 1 (measured 2026-08-13). The wall-clock ratio is",
        "therefore strongly sublinear per edge and per output row; on a true",
        "10x corpus (co-occurrence rates preserved) the edge set grows ~10x",
        "and the join work with it.",
    ], merge_rows=table if args.names else None)
    if skew_rows:
        write_section("## Skew-bomb probe: market_basket_pairs basket cap", [
            "",
            "The 10x replicas preserve basket sizes, so the in-plan cap",
            "(`MAX_BASKET_SIZE`, plans/event_analytics.py) is invisible in the",
            "table above. This probe injects ONE pathological basket into the",
            "10x lineitem and times the registered (capped) plan against an",
            "uncapped run of the same code on identical data -- the capped",
            "plan drops the bomb before the self-join; uncapped it emits",
            "C(n,2) pairs from a single join key (the 100 TB skew scenario).",
            "",
            "| scenario | capped sec | uncapped sec | pairs from bomb if uncapped |",
            "|---|---|---|---|",
            *(
                f"| {r['scenario']} | {r['capped_sec']} | {r['uncapped_sec']} "
                f"| {r['uncapped_pairs_from_bomb']:,} |"
                for r in skew_rows
            ),
        ])
    if tri_rows:
        write_section("## Hub-part probe: copurchase_triangles orientation", [
            "",
            "One hub part injected into 10k baskets of the 10x lineitem",
            "(hub degree = its co-purchase-graph edge count below). The",
            "wedge-join fan-out columns are DETERMINISTIC plan properties",
            "(max and total per-join-key wedge rows), immune to host load:",
            "id orientation keys the wedge join on the middle vertex",
            "(in-deg x out-deg explodes at the hub); degree orientation",
            "keys on the wedge source, whose out-degree is arboricity-",
            "bounded because hub edges point INTO the hub.",
            "",
            "Read the wall-clock columns against the fan-out columns:",
            "degree orientation pays a fixed overhead (one degree",
            "aggregation + two rank-attach joins over the whole edge set),",
            "so at THIS hub size it can lose on seconds while already",
            "halving the worst key's fan-out. The overhead is O(edges);",
            "the id-orientation blow-up it prevents is O(hub_degree^2) --",
            "at a 100k-degree hub that is 10^10 wedge rows from one key,",
            "and the crossover is far below 100 TB corpus sizes.",
            "",
            "| scenario | hub degree | max key fan-out (id) | max key fan-out (degree) "
            "| total wedges (id) | total wedges (degree) | degree sec | id sec |",
            "|---|---|---|---|---|---|---|---|",
            *(
                f"| {r['scenario']} | {r['hub_degree']:,} "
                f"| {r['id_max_key_fanout']:,} | {r['deg_max_key_fanout']:,} "
                f"| {r['id_total_wedges']:,} | {r['deg_total_wedges']:,} "
                f"| {r['degree_oriented_sec']} | {r['id_oriented_sec']} |"
                for r in tri_rows
            ),
        ])
    return 2 if any(map(empty, rows)) else 0


if __name__ == "__main__":
    sys.exit(main())

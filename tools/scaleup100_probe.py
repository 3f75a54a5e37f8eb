"""~100x scale probe for the heaviest candidate-generating families.

The 10x probe (tools/scaleup_probe.py) answers "does wall-clock scale
sanely"; the 100 TB claims for the dedup/ANN/graph stack additionally
rest on CANDIDATE volume staying near-linear in corpus size. This tool
builds ~100x replicas designed so that candidate growth measures the
PLAN, not a replica artifact, then records wall-clock AND measured
candidate counts at 1x and 100x.

Replica design (differs from the 10x builder on purpose):

- ``documents``: 100 key-shifted replicas with TOKEN-SALTED text --
  every token of replica i>0 gets an ``r{i}`` suffix, so each replica's
  gram/shingle space is disjoint from every other's. This models a real
  100x corpus at CONSTANT duplication rate (100x distinct documents,
  same within-replica near-dup structure). Plain key-shifted copies
  would leave 100 bit-identical copies of every text, and every pair
  generator would correctly report the resulting quadratic pair
  explosion -- true about that synthetic data, useless as plan evidence.
- ``lineitem``: 100 replicas with BOTH l_orderkey and l_partkey shifted
  -- 100 disjoint copies of the co-purchase graph (edges exactly 100x,
  per-node structure preserved). The 10x builder shares part keys
  across replicas, which multiplies co-occurrence counts and floods the
  >=2-orders edge threshold with the single-co-occurrence tail (the
  documented ~335x edge artifact); disjoint replicas keep co-occurrence
  RATES constant, which is what a bigger corpus does.
- ``embeddings``: key-shifted replicas, vectors unchanged. Note that
  ``embedding_ivfpq_topk`` caps its corpus at ``vec_id < 200`` by entry
  parameters, so at 100x only the SCAN grows (filter pushdown prunes
  the other 99 replicas); its candidate count is constant by
  construction and the probe records exactly that.

Candidate-count plans mirror each entry's generator stage (same
operators, same parameters) and count the candidate relation the entry
verifies. ``simhash_banded_pairs`` history: the r8 run measured the
then-fixed 60-bit/15-bit layout saturating at 221x candidates / 49.5x
wall at 100x corpus (random band collisions grow n^2/2^w once corpus >>
n_bands * 2^w -- the LSH band-space knee). Round 9 implemented the
mitigation: 4 x 24-bit bands (96-bit hash, one bigint per band), with
``derive_band_bits(n_docs)`` sizing w ~ log2(n)+2 so the band space
scales with the corpus; 24 is exactly the derived width for this
probe's ~6e5-doc replica, and the probe now measures the mitigated
plan.

Usage: python tools/scaleup100_probe.py [--base /root/testdata/sf0.1]
                                        [--replicas 100] [names...]
Prints one JSON line per query and writes the "## 100x probe" section of
docs/SCALEUP.md (a run over named entries merges their rows into it).
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

HEAVY = [
    "ngram_jaccard_pairs",
    "simhash_banded_pairs",
    "jaccard_prefix_filter_pairs",
    "graph_bfs_hops",
    "graph_neighbor_jaccard",
    "embedding_ivfpq_topk",
    # round 11 (r10 verdict ask #2): the round-10 iterative-linear-
    # algebra and retrieval entries, each with the invariant its scale
    # story rests on as the candidate column
    "embedding_pca_power",
    "embedding_anisotropy_abtt",
    "ppr_parts_3iter",
    "ppr_multiseed",
    # round-11 continuation: K-seed BFS centrality -- total frontier-join
    # volume must ride the seed neighborhoods, not the graph (disjoint
    # replicas keep it flat at 100x edges, same contract as PPR)
    "harmonic_centrality_sample",
    # round-11 continuation, part 2: ROUND-COUNT invariants for the two
    # new iterative entries (peel rounds grow by ~log(scale), never by
    # scale; Luby rounds stay O(log E)), the 64Ki-cell bound behind the
    # Hilbert layout's flat wall, and the vocab-bounded KL group count
    # (honest ~100x growth on the token-salted corpus: each replica
    # brings a disjoint vocabulary)
    "densest_subgraph_peel",
    "mis_parts_luby",
    "hilbert_layout_spans",
    "token_kl_by_source",
]

SECTION_HEADER = "## 100x probe: heavy-family candidate growth"


def build_100x(spark, base: str, out: str, replicas: int) -> None:
    from pyspark.sql import functions as F

    from state_economics_end_to_end_data_pipeline_spark.io.readers import (
        read_parquet_table,
    )

    docs = read_parquet_table(spark, base, "documents")
    doc_span = F.lit(docs.agg(F.max("doc_id")).first()[0] + 1)
    parts = []
    for i in range(replicas):
        d = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i) * doc_span)
        if i > 0:
            # disjoint token space per replica: constant duplication rate
            d = d.withColumn(
                "text", F.regexp_replace("text", r"(\S+)", f"$1r{i}")
            )
        parts.append(d)
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.write.mode("overwrite").parquet(f"{out}/documents.parquet")

    li = read_parquet_table(spark, base, "lineitem")
    ok_span = F.lit(li.agg(F.max("l_orderkey")).first()[0] + 1)
    pk_span = F.lit(li.agg(F.max("l_partkey")).first()[0] + 1)
    parts = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i) * ok_span)
        .withColumn("l_partkey", F.col("l_partkey") + F.lit(i) * pk_span)
        for i in range(replicas)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.write.mode("overwrite").parquet(f"{out}/lineitem.parquet")

    emb = read_parquet_table(spark, base, "embeddings")
    vec_span = F.lit(emb.agg(F.max("vec_id")).first()[0] + 1)
    parts = [
        emb.withColumn("vec_id", F.col("vec_id") + F.lit(i) * vec_span)
        for i in range(replicas)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")

    # tables the probed entries never touch stay at 1x (copied so any
    # incidental read resolves)
    for tname in ("orders", "events", "customer", "supplier", "part",
                  "nation", "region"):
        read_parquet_table(spark, base, tname).write.mode("overwrite").parquet(
            f"{out}/{tname}.parquet"
        )


# --- candidate-count mirrors: same generator stage as the entry -----------


def _cand_ngram_jaccard(spark, sf_dir: str) -> int:
    """Inverted-index candidates: distinct lang-blocked pairs meeting on
    >= 1 shared word bigram (mirrors jaccard_pairs' join stage)."""
    from pyspark.sql import functions as F

    from state_economics_end_to_end_data_pipeline_spark.io.readers import (
        read_parquet_table,
    )
    from state_economics_end_to_end_data_pipeline_spark.operators.text import (
        tokens,
        word_ngrams,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    tk = d.select("doc_id", "lang", tokens("text").alias("toks")).filter(
        F.size("toks") >= 2
    )
    sh = tk.select(
        F.col("doc_id").alias("id"),
        F.col("lang").alias("block"),
        F.explode(word_ngrams(F.col("toks"), n=2, distinct=True)).alias("gram"),
    ).dropDuplicates()
    a = sh.select(F.col("id").alias("id_a"), "block", "gram")
    b = sh.select(F.col("id").alias("id_b"), "block", "gram")
    return (
        a.join(b, ["block", "gram"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )


def _cand_simhash_banded(spark, sf_dir: str) -> int:
    """Band-collision candidates: distinct pairs equal in >= 1 of the 4
    24-bit bands of the 96-bit simhash (the relation the exact per-band
    bit_count(xor) filter verifies). Mirrors the entry exactly: 24 ==
    derive_band_bits(6e5), the width derived for THIS probe's 100x
    corpus -- the r8 run measured the old fixed 15-bit bands saturating
    at 221x candidates; this counter now measures the mitigation."""
    from pyspark.sql import functions as F

    from state_economics_end_to_end_data_pipeline_spark.io.readers import (
        read_parquet_table,
    )
    from state_economics_end_to_end_data_pipeline_spark.operators.dedup import (
        simhash_bands_table,
    )
    from state_economics_end_to_end_data_pipeline_spark.plans.extensions import (
        _SIMHASH_BAND_BITS,
        _SIMHASH_N_BANDS,
    )

    sh = simhash_bands_table(
        read_parquet_table(spark, sf_dir, "documents"),
        band_bits=_SIMHASH_BAND_BITS,
        n_bands=_SIMHASH_N_BANDS,
    )
    bands = sh.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"), F.col(f"band{b}").alias("val")
                    )
                    for b in range(_SIMHASH_N_BANDS)
                ]
            )
        ).alias("bv"),
    ).select("doc_id", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a = bands.select(F.col("doc_id").alias("id_a"), "band", "val")
    b = bands.select(F.col("doc_id").alias("id_b"), "band", "val")
    return (
        a.join(b, ["band", "val"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .count()
    )


def _cand_prefix_filter(spark, sf_dir: str) -> int:
    """PPJoin candidates: distinct pairs surviving the rarest-first
    prefix index + the in-join length filter at t=0.8 (mirrors the
    entry's `cand` relation, 4-gram shingles)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from state_economics_end_to_end_data_pipeline_spark.io.readers import (
        read_parquet_table,
    )
    from state_economics_end_to_end_data_pipeline_spark.operators.text import (
        tokens,
        word_ngrams,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    tk = d.select("doc_id", tokens("text").alias("toks")).filter(
        F.size("toks") >= 4
    )
    sh = tk.select(
        F.col("doc_id").alias("id"),
        F.explode(word_ngrams(F.col("toks"), n=4, distinct=True)).alias("gram"),
    ).dropDuplicates()
    gfreq = sh.groupBy("gram").agg(F.count(F.lit(1)).alias("gf"))
    wpos = Window.partitionBy("id").orderBy("gf", "gram")
    wcnt = Window.partitionBy("id")
    ranked = sh.join(gfreq, "gram").select(
        "id",
        "gram",
        F.row_number().over(wpos).alias("pos"),
        F.count(F.lit(1)).over(wcnt).alias("n"),
    )
    prefix = ranked.filter(
        F.col("pos") <= F.col("n") - F.expr("(4 * n + 4) div 5") + 1
    )
    return (
        prefix.select(F.col("id").alias("id_a"), "gram", F.col("n").alias("na"))
        .join(
            prefix.select(F.col("id").alias("id_b"), "gram", F.col("n").alias("nb")),
            "gram",
        )
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("na") * 5 >= F.col("nb") * 4)
            & (F.col("nb") * 5 >= F.col("na") * 4)
        )
        .select("id_a", "id_b")
        .distinct()
        .count()
    )


def _cand_bfs_edges(spark, sf_dir: str) -> int:
    """The relation BFS probes each round: directed co-purchase edges at
    the >=2-shared-orders threshold."""
    from state_economics_end_to_end_data_pipeline_spark.plans.graph_analytics import (
        _copurchase_edges,
    )

    return _copurchase_edges(spark, sf_dir, threshold=2).count()


def _cand_ivfpq(spark, sf_dir: str) -> int:
    """ADC-scanned candidates: corpus vectors in the 2 probed cells per
    query (constant at any corpus replication -- the entry caps its
    corpus at vec_id < 200, so only the pruned scan grows)."""
    from pyspark.sql import functions as F

    from state_economics_end_to_end_data_pipeline_spark.io.readers import (
        read_parquet_table,
    )
    from state_economics_end_to_end_data_pipeline_spark.operators.similarity import (
        assign_cells,
    )

    emb = read_parquet_table(spark, sf_dir, "embeddings")
    cents = emb.filter(F.col("vec_id") < 8)
    corpus = emb.filter(F.col("vec_id") < 200)
    assigned = assign_cells(corpus, cents, n_probe=1).select(
        F.col("id").alias("vec_id"), "cell"
    )
    probes = assign_cells(
        emb.filter(F.col("vec_id") < 5), cents, n_probe=2
    ).select(F.col("id").alias("query_id"), "cell")
    return (
        assigned.join(probes, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .count()
    )


def _cand_neighbor_wedges(spark, sf_dir: str) -> int:
    """Wedge-enumeration volume of graph_neighbor_jaccard (r9 verdict
    ask #5): rows of the edges-self-join on the shared endpoint AFTER
    the degree-64 hub exclusion, BEFORE the per-pair groupBy -- the
    quantity the via-degree cap exists to bound (fan-out is quadratic
    in the shared endpoint's degree; a hub contributes C(d,2) wedges
    and zero discrimination). Mirrors the entry's generator exactly."""
    from pyspark.sql import functions as F

    from state_economics_end_to_end_data_pipeline_spark.plans.graph_analytics import (
        _NJ_VIA_DEGREE_CAP,
        _copurchase_edges,
    )

    edges = _copurchase_edges(spark, sf_dir, threshold=2)
    degs = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    viaok = degs.filter(F.col("d") <= _NJ_VIA_DEGREE_CAP).select(
        F.col("node").alias("via")
    )
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("via"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("via"))
    return (
        e1.join(viaok, "via")
        .join(e2, "via")
        .filter(F.col("a") < F.col("b"))
        .count()
    )


def _cand_pca_jobs(spark, sf_dir: str) -> int:
    """Spark JOB count of the full power iteration -- the entry's scale
    claim is '3 cached corpus scans at any size', so the number of jobs
    (one per round's collect, plus at most the cache materialization
    riding the first) must be EQUAL at 1x and 100x: wall-clock rides
    the data, the plan does not grow."""
    from state_economics_end_to_end_data_pipeline_spark.plans.extensions import (
        _pca_power_vector,
    )

    sc = spark.sparkContext
    group = f"pca-probe-{sf_dir.strip('/').replace('/', '-')}"
    sc.setJobGroup(group, "pca scan-count probe")
    try:
        _pca_power_vector(spark, sf_dir)
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _cand_abtt_pairs(spark, sf_dir: str) -> int:
    """The abtt pair block: C(|vec_id < cap|, 2) measured by the same
    self-join shape the entry runs -- must stay 1,225 at any corpus
    size (the cap filter pushes down; replicas shift vec_id away)."""
    from pyspark.sql import functions as F

    from state_economics_end_to_end_data_pipeline_spark.io.readers import (
        read_parquet_table,
    )
    from state_economics_end_to_end_data_pipeline_spark.plans.extensions import (
        _ABTT_QUERY_CAP,
    )

    q = read_parquet_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < _ABTT_QUERY_CAP
    )
    a = q.select(F.col("vec_id").alias("ia"))
    b = q.select(F.col("vec_id").alias("ib"))
    return a.join(b, a.ia < b.ib).count()


def _ppr_frontier_edges(spark, sf_dir: str, n_seeds: int) -> int:
    """Per-round PPR join volume in the LAST iteration: edges whose src
    carried nonzero rank after 2 rounds = edges incident to each seed's
    2-hop ball, summed over seeds.  This is the quantity that must ride
    the SEED NEIGHBORHOOD, not the graph size -- on 100 disjoint graph
    replicas the seeds stay in one copy, so the count stays flat while
    edges grow 100x."""
    from pyspark.sql import functions as F

    from state_economics_end_to_end_data_pipeline_spark.plans.graph_analytics import (
        _copurchase_edges,
    )

    edges = _copurchase_edges(spark, sf_dir, threshold=2).cache()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    seeds = (
        deg.orderBy(F.col("outdeg").desc(), F.col("src").asc())
        .limit(n_seeds)
        .select(F.col("src").alias("s"))
    )
    ball = seeds.select(F.col("s").alias("sid"), F.col("s").alias("node"))
    for _ in range(2):
        nxt = ball.join(edges, ball.node == edges.src).select(
            "sid", F.col("dst").alias("node")
        )
        ball = ball.unionByName(nxt).distinct()
    n = (
        ball.join(edges, ball.node == edges.src)
        .select("sid", "src", "dst")
        .count()
    )
    edges.unpersist()
    return n


def _cand_ppr_single(spark, sf_dir: str) -> int:
    return _ppr_frontier_edges(spark, sf_dir, 1)


def _cand_ppr_multi(spark, sf_dir: str) -> int:
    from state_economics_end_to_end_data_pipeline_spark.plans.graph_analytics import (
        _PPR_SEEDS,
    )

    return _ppr_frontier_edges(spark, sf_dir, _PPR_SEEDS)


def _cand_harmonic_frontier(spark, sf_dir: str) -> int:
    """Total BFS traversal work: sum over rounds of the frontier-to-edges
    join volume, exactly as harmonic_centrality_sample expands (K=3
    seeds, hop cap 4, anti-join against visited). On 100 disjoint graph
    replicas the top-degree seeds stay inside one copy, so this count
    stays flat while edges grow 100x -- the multi-source-BFS sibling of
    the PPR frontier contract."""
    from pyspark.sql import functions as F

    from state_economics_end_to_end_data_pipeline_spark.plans.graph_analytics import (
        _HC_HOPS,
        _HC_SEEDS,
        _copurchase_edges,
    )

    edges = _copurchase_edges(spark, sf_dir, threshold=2).cache()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg"))
    seeds = (
        deg.orderBy(F.col("outdeg").desc(), F.col("src").asc())
        .limit(_HC_SEEDS)
        .select(F.col("src").alias("seed"))
    )
    visited = seeds.select("seed", F.col("seed").alias("node")).localCheckpoint()
    frontier = visited
    total = 0
    for _ in range(_HC_HOPS):
        joined = frontier.join(edges, frontier.node == edges.src)
        total += joined.count()
        nxt = (
            joined.select("seed", F.col("dst").alias("node"))
            .distinct()
            .join(visited, ["seed", "node"], "left_anti")
            .localCheckpoint()
        )
        visited = visited.unionByName(nxt).localCheckpoint()
        frontier = nxt
    edges.unpersist()
    return total


def _cand_dsg_rounds(spark, sf_dir: str) -> int:
    """Peel rounds to empty -- the densest-subgraph scale contract is
    rounds <= log_1.5(V): on 100 disjoint replicas V grows 100x but
    rounds grow by only ~log_1.5(100) ~ 11, never by the scale."""
    from state_economics_end_to_end_data_pipeline_spark.plans.graph_analytics import (
        LAST_ROUNDS,
        _copurchase_edges,
        greedy_densest_subgraph,
    )

    edges = _copurchase_edges(spark, sf_dir, threshold=2).localCheckpoint()
    greedy_densest_subgraph(edges, rounds_key="__probe_dsg").collect()
    return LAST_ROUNDS["__probe_dsg"]


def _cand_mis_rounds(spark, sf_dir: str) -> int:
    """Luby rounds to drain the active set -- O(log E) w.h.p., so 100x
    edges should add at most a few rounds."""
    from state_economics_end_to_end_data_pipeline_spark.plans.graph_analytics import (
        LAST_ROUNDS,
        mis_parts_luby,
    )

    mis_parts_luby(spark, sf_dir).collect()
    return LAST_ROUNDS["mis_parts_luby"]


def _cand_hilbert_cells(spark, sf_dir: str) -> int:
    """Distinct quantized (px, py) cells -- the relation every Hilbert
    transform step and both rollups run on; bounded at 256x256 = 65,536
    by construction at ANY scale."""
    from pyspark.sql import functions as F

    from state_economics_end_to_end_data_pipeline_spark.io.readers import (
        read_parquet_table,
    )

    li = read_parquet_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey"
    )
    bounds = li.agg(
        F.min("l_partkey").alias("minp"), F.max("l_partkey").alias("maxp"),
        F.min("l_suppkey").alias("mins"), F.max("l_suppkey").alias("maxs"),
    )
    q = li.crossJoin(F.broadcast(bounds)).select(
        F.floor((F.col("l_partkey") - F.col("minp")) * 256.0
                / (F.col("maxp") - F.col("minp") + 1)).alias("px"),
        F.floor((F.col("l_suppkey") - F.col("mins")) * 256.0
                / (F.col("maxs") - F.col("mins") + 1)).alias("py"),
    )
    return q.distinct().count()


def _cand_kl_groups(spark, sf_dir: str) -> int:
    """Distinct (source, token) groups -- the KL entry's aggregate
    relation. On the token-salted 100x corpus each replica brings a
    disjoint vocabulary, so ~100x growth here is the HONEST shape (the
    aggregate is vocab-bounded per replica, and the shuffle carries
    combined partials, never raw tokens)."""
    from pyspark.sql import functions as F

    from state_economics_end_to_end_data_pipeline_spark.io.readers import (
        read_parquet_table,
    )
    from state_economics_end_to_end_data_pipeline_spark.operators.text import (
        tokens,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    tok = d.select(
        "source", F.explode_outer(tokens("text")).alias("token")
    ).filter(F.col("token").isNotNull())
    return tok.select("source", "token").distinct().count()


def _cand_exact_substring_hits(spark, sf_dir: str) -> int:
    """Duplicated-anchor HIT rows entering the island windows -- the
    relation exact_substring_spans' hit join materializes (mirrors the
    entry's generator: k=8 anchors, md5 fingerprints, distinct-doc
    df >= 2). Token-salted replicas keep every replica's gram space
    disjoint, so within-replica duplication is constant and hits must
    grow ~linearly (~100x); super-linear growth would mean
    cross-replica fingerprint collisions (a hash-space knee)."""
    from pyspark.sql import functions as F

    from state_economics_end_to_end_data_pipeline_spark.io.readers import (
        read_parquet_table,
    )
    from state_economics_end_to_end_data_pipeline_spark.operators.text import (
        tokens,
        word_ngrams,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    g = (
        d.select(F.col("doc_id").alias("id"), tokens("text").alias("t"))
        .select("id", word_ngrams(F.col("t"), n=8, distinct=False).alias("gr"))
        .select("id", F.explode_outer("gr").alias("gram"))
        .filter(F.col("gram").isNotNull())
        .select("id", F.md5("gram").alias("g"))
    )
    dup = (
        g.groupBy("g")
        .agg(F.count_distinct("id").alias("df"))
        .filter(F.col("df") >= 2)
        .select("g")
    )
    # merge hint mirrors the entry (the static planner underestimates
    # the post-aggregate dup set and broadcast-OOMs at 100x without it)
    return g.join(dup.hint("shuffle_hash"), "g").count()


def _cand_removal_affected_docs(spark, sf_dir: str) -> int:
    """Rows on the BUILD side of exact_substring_removal's subtraction
    join: one per document with at least one duplicated island
    (mirrors the entry: k=8, min_df=2, per-doc span collect).  This is
    the relation whose O(affected docs) growth makes the shuffle_hash
    hint load-bearing -- token-salted replicas keep per-replica
    duplication constant, so affected docs must grow ~100x, exactly
    the data-sized build side a static broadcast would OOM on."""
    from state_economics_end_to_end_data_pipeline_spark.io.readers import (
        read_parquet_table,
    )
    from state_economics_end_to_end_data_pipeline_spark.operators.dedup import (
        exact_substring_spans,
    )

    d = read_parquet_table(spark, sf_dir, "documents")
    return (
        exact_substring_spans(d, text_col="text", id_col="doc_id", k=8)
        .select("doc_id")
        .distinct()
        .count()
    )


CAND_FNS = {
    "ngram_jaccard_pairs": _cand_ngram_jaccard,
    "exact_substring_spans": _cand_exact_substring_hits,
    "exact_substring_removal": _cand_removal_affected_docs,
    "simhash_banded_pairs": _cand_simhash_banded,
    "jaccard_prefix_filter_pairs": _cand_prefix_filter,
    "graph_bfs_hops": _cand_bfs_edges,
    "graph_neighbor_jaccard": _cand_neighbor_wedges,
    "embedding_ivfpq_topk": _cand_ivfpq,
    "embedding_pca_power": _cand_pca_jobs,
    "embedding_anisotropy_abtt": _cand_abtt_pairs,
    "ppr_parts_3iter": _cand_ppr_single,
    "ppr_multiseed": _cand_ppr_multi,
    "harmonic_centrality_sample": _cand_harmonic_frontier,
    "densest_subgraph_peel": _cand_dsg_rounds,
    "mis_parts_luby": _cand_mis_rounds,
    "hilbert_layout_spans": _cand_hilbert_cells,
    "token_kl_by_source": _cand_kl_groups,
}

NOTES = {
    "ngram_jaccard_pairs": "lang-blocked inverted-index pairs",
    "exact_substring_spans": "duplicated-anchor hit rows entering the "
    "island windows -- disjoint gram spaces keep within-replica "
    "duplication constant, so ~100x is the plan working",
    "exact_substring_removal": "affected documents on the subtraction "
    "join's build side -- data-sized at constant duplication rate "
    "(~100x); the shuffle_hash hint is what survives this where the "
    "static post-aggregate broadcast estimate would OOM",
    "simhash_banded_pairs": "band collisions on the r9 4x24-bit layout "
    "(derive_band_bits-sized); r8's fixed 15-bit bands measured 221x here",
    "jaccard_prefix_filter_pairs": "prefix+length-filter survivors",
    "graph_bfs_hops": "co-purchase edges (>=2 orders)",
    "graph_neighbor_jaccard": "wedges enumerated after the degree-64 hub "
    "exclusion; cap inert on the real graph (max degree 6), load-bearing "
    "on shared-key hub artifacts",
    "embedding_ivfpq_topk": "probed-cell ADC rows; corpus capped at "
    "vec_id<200 by entry params, only the pruned scan grows",
    "embedding_pca_power": "Spark JOB count of the full iteration -- "
    "equal at both scales = the '3 cached scans at any size' claim, "
    "measured; wall rides the data",
    "embedding_anisotropy_abtt": "pair-block size C(50,2) -- the "
    "vec_id<50 cap pushes down, so the block stays 1,225 at any scale",
    "ppr_parts_3iter": "last-round join volume: edges incident to the "
    "seed's 2-hop ball -- rides seed neighborhood, not graph size "
    "(disjoint replicas keep it flat at 100x edges)",
    "ppr_multiseed": "same frontier volume summed over K=3 seeds -- the "
    "batch shares the per-round shuffle, so candidates stay ~3x the "
    "single-seed row while edges grow 100x",
    "harmonic_centrality_sample": "total frontier-join volume across the "
    "4 BFS rounds (K=3 seeds, anti-joined frontiers) -- rides the seed "
    "neighborhoods; disjoint replicas keep it flat at 100x edges",
    "densest_subgraph_peel": "peel ROUNDS to empty -- bounded by "
    "log_1.5(V), so 100x nodes may add ~11 rounds, never 100x",
    "mis_parts_luby": "Luby ROUNDS to drain the active set -- O(log E) "
    "w.h.p., so 100x edges should add at most a few rounds",
    "hilbert_layout_spans": "distinct quantized (px,py) cells feeding the "
    "curve transform -- hard-bounded at 65,536 at any scale",
    "token_kl_by_source": "distinct (source, token) aggregate groups -- "
    "~100x growth is the honest shape on the disjoint-vocab corpus; the "
    "shuffle carries combined partials, never raw tokens",
}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", default="/root/testdata/sf0.1")
    ap.add_argument("--replicas", type=int, default=100)
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    from state_economics_end_to_end_data_pipeline_spark.plans import load_all
    from state_economics_end_to_end_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="scaleup100-probe")
    qs = load_all()
    names = args.names or HEAVY

    big = tempfile.mkdtemp(prefix="scaleup_100x_")
    print(f"# building {args.replicas}x replicas in {big}", file=sys.stderr)
    build_100x(spark, args.base, big, args.replicas)

    rows = []
    for name in names:
        small = timed(lambda: qs[name].fn(spark, args.base), reps=2)
        large = timed(lambda: qs[name].fn(spark, big), reps=1)
        c_small = CAND_FNS[name](spark, args.base) if name in CAND_FNS else None
        c_big = CAND_FNS[name](spark, big) if name in CAND_FNS else None
        row = {
            "query": name,
            "sec_1x": round(small.best_s, 2),
            "sec_100x": round(large.best_s, 2),
            "ratio": round(large.best_s / small.best_s, 2),
            "rows_1x": small.rows,
            "rows_100x": large.rows,
            "cand_1x": c_small,
            "cand_100x": c_big,
            "cand_ratio": (
                round(c_big / c_small, 2) if c_small and c_big else None
            ),
        }
        rows.append(row)
        print(json.dumps(row))

    empty = [r for r in rows if r["rows_1x"] == 0 or r["rows_100x"] == 0]
    md = [
        "",
        f"Generated by `python tools/scaleup100_probe.py` ({args.replicas}x",
        f"replicas, {label(spark)}; 1x = min-of-2, 100x = single run). Replicas",
        "model a real 100x corpus at CONSTANT duplication rate: documents",
        "are token-salted per replica (disjoint gram spaces), lineitem",
        "shifts both order AND part keys (100 disjoint graph copies,",
        "co-occurrence rates preserved), embeddings shift ids only. The",
        "candidate column counts the relation each entry's verify stage",
        "consumes -- the number that must stay near-linear for the 100 TB",
        "claim.",
        "",
        "| query | 1x sec | 100x sec | ratio | cand 1x | cand 100x "
        "| cand ratio | out rows 1x -> 100x | note |",
        "|---|---|---|---|---|---|---|---|---|",
    ]
    row_lines: dict[str, str] = {}
    for r in rows:
        cr = f"{r['cand_ratio']}x" if r["cand_ratio"] is not None else "-"
        c1 = f"{r['cand_1x']:,}" if r["cand_1x"] is not None else "-"
        c2 = f"{r['cand_100x']:,}" if r["cand_100x"] is not None else "-"
        ratio = f"{r['ratio']}x"
        if r in empty:
            ratio += " EMPTY"
        row_lines[r["query"]] = (
            f"| {r['query']} | {r['sec_1x']} | {r['sec_100x']} | {ratio} "
            f"| {c1} | {c2} | {cr} | {r['rows_1x']:,} -> {r['rows_100x']:,} "
            f"| {NOTES.get(r['query'], '')} |"
        )
        md.append(row_lines[r["query"]])
    md += [
        "",
        "Reading: the gram-equality families (jaccard / prefix-filter /",
        "graph edges) measure candidate growth EXACTLY linear by",
        "construction of the candidate join -- 100.0x is the plan working.",
        "simhash history: the r8 run, on the then-fixed 60-bit hash with",
        "4 x 15-bit bands, measured 221x candidates / 49.5x wall at 100x",
        "corpus -- the LSH band-space saturation knee (random collisions",
        "per band grow n^2/2^w once corpus >> n_bands * 2^w). Round 9",
        "implemented the mitigation the knee called for: the entry now",
        "uses 4 x 24-bit bands (96-bit hash, one bigint per band -- multi-",
        "word bands remove the single-bigint 60-bit width cap), with",
        "derive_band_bits(n_docs) ~ log2(n)+2 sizing the band space to",
        "the corpus; 24 bits IS the derived width for this probe's ~6e5-",
        "doc replica, and at 1e11 docs (100 TB of ~1 KB docs) the same",
        "law derives 40 bits -- still under the per-band ceiling, so the",
        "radius<=3 pigeonhole proof (4 bands) holds at every scale. The",
        "residual super-linearity budget is the fixture's ~25-word",
        "vocabulary re-drawing token-hash geometry per salted replica",
        "(per-replica hamming<=3 rates vary with the draw), not band",
        "saturation. graph_neighbor_jaccard's wedge count (the relation",
        "its degree-64 via-cap bounds) rides the disjoint-replica edge",
        "count exactly linearly -- the cap is inert on the real graph",
        "(max degree 6) and exists for hub-shaped skew, where it turns a",
        "C(d,2) blowup into a hard ceiling. embedding_ivfpq_topk's flat",
        "line is the point: its entry caps the corpus by parameters, so",
        "only the parquet scan grows and filter pushdown prunes 99% of",
        "it. The round-11 rows measure each entry's scale INVARIANT:",
        "embedding_pca_power's candidate column is its Spark JOB count",
        "(equal at 1x and 100x -- the fixed-scan-count claim, measured;",
        "wall 2.0x on 100x data), abtt's pair block stays exactly 1,225",
        "(vec_id<50 pushdown), ppr_parts_3iter's last-round frontier is",
        "EXACTLY flat (20 -> 20 edges: the seed's neighborhood, not the",
        "graph). ppr_multiseed's 41 -> 60 is a replica artifact worth",
        "reading precisely: at 100x the top-3-degree tie-break selects",
        "three CLONES of the 1x argmax seed (one per replica), so the",
        "frontier is exactly 3 x the single-seed 20 -- per-seed work is",
        "flat; its 100x wall rides the EDGE relation (one shared join",
        "pass per round serves every seed -- that amortization IS the",
        "entry's point, vs K separate edge scans for serial PPR).",
    ]

    write_section(SECTION_HEADER, md, merge_rows=row_lines if args.names else None)
    return 2 if empty else 0


if __name__ == "__main__":
    sys.exit(main())

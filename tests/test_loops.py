"""The iterative-loop driver (operators/loops.py) and the entries built on it.

- ``fixpoint`` counts changing rounds only and raises at its cap.
- Every loop releases what it staged: after a failure in a round (a hook
  that raises), after cap exhaustion, and after a normal run -- checked on
  the CacheManager, not on ``getPersistentRDDs`` (which also counts local
  checkpoints).
- A staged relation's round join reads the cache with no Exchange and no
  Sort on the staged side.
- Every catalog entry leaves the session as it found it: no cache entry,
  no changed setting, no temp view beyond the reader's scan views.
- ``LAST_ROUNDS`` at sf0.001 is pinned per entry, and so is the number of
  ``staged`` scopes each entry opens: stages hold loop-invariant relations
  only, so the count does not grow with the rounds.
"""

from __future__ import annotations

from contextlib import contextmanager

import pytest
from pyspark.sql import functions as F

from state_economics_end_to_end_data_pipeline_spark.operators import dedup, loops
from state_economics_end_to_end_data_pipeline_spark.plans import graph_analytics as ga
from state_economics_end_to_end_data_pipeline_spark.plans import load_all


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


class _Boom(Exception):
    pass


# ----------------------------------------------------------- fixpoint (pure)


def test_fixpoint_counts_changing_rounds_only():
    # values 10 -> 7 -> 5 -> 5: two changing rounds, one confirming round
    seq = iter([7, 5, 5])
    calls = []

    def step(state, value):
        calls.append(value)
        return state + 1, next(seq)

    state, rounds = loops.fixpoint("toy", step, (0, 10), cap=5)
    assert (state, rounds) == (3, 2)
    assert calls == [10, 7, 5]


def test_fixpoint_raises_naming_the_loop_at_the_cap():
    with pytest.raises(RuntimeError, match=r"^toy_loop: still changing after 3 rounds"):
        loops.fixpoint("toy_loop", lambda s, v: (s, v + 1), (None, 0), cap=3)


def test_fixpoint_step_returning_its_input_stops_without_a_round():
    # the emptied-peel idiom: the step sees value 0 and returns unchanged
    state, rounds = loops.fixpoint("toy", lambda s, v: (s, v), ("empty", 0), cap=1)
    assert (state, rounds) == ("empty", 0)


# ------------------------------------------------- release on every path


# (entry, a round-body tag the hook fails on); each entry's first round
HOOKED = [
    ("graph_bfs_hops", "graph_bfs_hops_round"),
    ("graph_connected_components", "min_label_components_round"),
    ("kcore_parts", "kcore_dead"),
    ("coreness_hindex", "coreness_hindex_round"),
    ("lpa_communities_3iter", "lpa_communities_round"),
    ("truss_edges_k3", "truss_peel_round"),
    ("harmonic_centrality_sample", "harmonic_centrality_round"),
    ("scc_event_types", "scc_closure_round"),
    ("densest_subgraph_peel", "densest_subgraph_round"),
    ("mis_parts_luby", "mis_parts_luby_round"),
    ("dedup_cluster_survivors", "cluster_labels_round"),
    ("dedup_semantic_clusters", "cluster_labels_round"),
]


def _fail_at(tag: str, nth: int = 1):
    seen = []

    def hook(t, df):
        if t == tag:
            seen.append(t)
            if len(seen) == nth:
                raise _Boom(t)

    return hook


@pytest.mark.parametrize("name,tag", HOOKED, ids=[n for n, _ in HOOKED])
def test_failing_round_propagates_and_releases_staging(spark, sf_dir, name, tag):
    spark.catalog.clearCache()
    loops.HOOK = _fail_at(tag)
    try:
        with pytest.raises(_Boom, match=tag):
            load_all()[name].fn(spark, sf_dir)
    finally:
        loops.HOOK = None
    assert _cache_empty(spark)


def test_densest_failing_later_round_leaves_nothing_cached(spark, sf_dir):
    # round 2 fails after round 1 checkpointed its survivor edges
    spark.catalog.clearCache()
    loops.HOOK = _fail_at("densest_subgraph_round", nth=2)
    try:
        with pytest.raises(_Boom):
            load_all()["densest_subgraph_peel"].fn(spark, sf_dir)
    finally:
        loops.HOOK = None
    assert _cache_empty(spark)


def _chain(spark, n: int):
    """A path 0-1-...-(n-1) as (nodes, directed both-way edges)."""
    pairs = [(i, i + 1) for i in range(n - 1)]
    both = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src bigint, dst bigint"
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], "node bigint")
    return nodes, both


def test_cap_exhaustion_raises_and_leaves_nothing_cached(spark):
    spark.catalog.clearCache()
    nodes, both = _chain(spark, 40)
    with pytest.raises(RuntimeError, match="_min_label_components: still changing"):
        ga._min_label_components(nodes, both, cap=2)
    assert _cache_empty(spark)
    labels, rounds = ga._min_label_components(nodes, both, cap=10)
    assert {r.comp for r in labels.collect()} == {0}
    assert 0 < rounds < 10
    assert _cache_empty(spark)


def test_cluster_labels_raises_instead_of_returning_unconverged(spark, monkeypatch):
    spark.catalog.clearCache()
    # plain min-propagation moves a label one hop per round: a 10-node
    # path needs ~8 rounds, so a cap of 2 is exhausted
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "id_a bigint, id_b bigint"
    )
    monkeypatch.setattr(dedup, "_CLUSTER_CAP", 2)
    with pytest.raises(RuntimeError, match="cluster_labels: still changing"):
        dedup.cluster_labels(pairs)
    assert _cache_empty(spark)
    monkeypatch.undo()
    assert {r.label for r in dedup.cluster_labels(pairs).collect()} == {0}


# ------------------------------------------------------------ round plans


def _staged_side_path(plan):
    """For each InMemoryTableScan, the Exchange/Sort nodes between it and
    the nearest join above it (``None`` when no join is above it)."""
    found = []

    def walk(node, between):
        name = node.nodeName()
        if name == "InMemoryTableScan":
            found.append(between)
            return
        if "Join" in name:
            between = []
        elif between is not None and name in ("Exchange", "Sort"):
            between = between + [name]
        kids = node.children()
        for i in range(kids.size()):
            walk(kids.apply(i), between)

    walk(plan, None)
    return found


def _physical(df):
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    return plan


@contextmanager
def _no_broadcast(spark):
    """Every join a shuffle join, so each side not already partitioned on
    the key gets an Exchange; the session's threshold is restored."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, old)


@pytest.mark.parametrize(
    "name,tag",
    [
        ("graph_connected_components", "min_label_components_round"),
        ("coreness_hindex", "coreness_hindex_round"),
        ("dedup_cluster_survivors", "cluster_labels_round"),
    ],
)
def test_round_join_reads_the_staged_side_without_exchange(spark, sf_dir, name, tag):
    paths = []

    def hook(t, df):
        if t == tag and not paths:
            paths.append(_staged_side_path(_physical(df)))

    loops.HOOK = hook
    try:
        with _no_broadcast(spark):
            load_all()[name].fn(spark, sf_dir)
    finally:
        loops.HOOK = None
    assert paths and paths[0], "the round body reads no staged relation"
    assert all(p == [] for p in paths[0]), paths[0]


def test_staged_plan_check_detects_an_unstaged_edge_side(spark):
    """Control for the test above: the same round join over an edge list
    that is cached but not staged gets an Exchange and a Sort.  The staged
    side plans exchange-free only once its cache is filled (AQE reports a
    cached plan's partitioning when that plan is final); every loop fills
    its stage with a start checkpoint before planning its rounds."""
    nodes, both = _chain(spark, 20)
    labels = nodes.select("node", F.col("node").alias("comp")).localCheckpoint()
    with _no_broadcast(spark):
        with loops.staged(both, "src") as e:
            e.count()
            assert _staged_side_path(
                _physical(e.join(labels, e.src == labels.node))
            ) == [[]]
        e = both.cache()
        try:
            e.count()
            assert _staged_side_path(
                _physical(e.join(labels, e.src == labels.node))
            ) == [["Sort", "Exchange"]]
        finally:
            e.unpersist()
    assert _cache_empty(spark)


# ------------------------------- normal runs: session hygiene and rounds


def _settings(spark) -> dict[str, str]:
    # explicitly set keys only: SET -v also lists confs registered on
    # first use, which grows as entries touch new features
    return dict(spark.sql("SET").collect())


def _temp_views(spark) -> set[str]:
    return {
        r.tableName
        for r in spark.sql("SHOW TABLES").collect()
        if r.isTemporary and not r.tableName.startswith("__sg_scan_")
    }


@pytest.fixture(scope="module")
def loop_runs(spark, sf_dir):
    """Every catalog entry built and drained once in one session with no
    clearCache() in between.  Per entry: what it left behind (a cache
    entry, changed settings, added temp views -- the reader's scan views
    aside), its LAST_ROUNDS and how many ``staged`` scopes it opened."""
    spark.catalog.clearCache()
    opened = []

    def counting(df, key):
        opened.append(key)
        return loops.staged(df, key)

    out = {}
    with pytest.MonkeyPatch.context() as mp:
        for mod in (ga, dedup):
            mp.setattr(mod, "staged", counting)
        for name, q in sorted(load_all().items()):
            conf, views = _settings(spark), _temp_views(spark)
            ga.LAST_ROUNDS.clear()
            opened.clear()
            q.fn(spark, sf_dir).collect()
            left = []
            if not _cache_empty(spark):
                left.append("cache")
                spark.catalog.clearCache()  # judge the next entry on its own
            after = _settings(spark)
            left += [f"conf {k}" for k in sorted(conf.keys() | after.keys())
                     if conf.get(k) != after.get(k)]
            left += [f"view {v}" for v in sorted(_temp_views(spark) - views)]
            out[name] = (left, dict(ga.LAST_ROUNDS), len(opened))
    return out


def test_catalog_entries_leave_the_session_as_found(loop_runs):
    assert len(loop_runs) == len(load_all())
    left = [f"{name}: {', '.join(what)}" for name, (what, _, _) in loop_runs.items() if what]
    if left:  # pytest.fail: an assert message would be truncated
        pytest.fail(f"{len(left)} entries changed the session:\n" + "\n".join(left))


# changing rounds at sf0.001; scc_event_types counts changing rounds like
# the rest (it counted the confirming round too before the shared driver)
ROUNDS_SF0001 = {
    "graph_connected_components": 2,
    "kcore_parts": 0,
    "coreness_hindex": 20,
    "truss_edges_k3": 1,
    "scc_event_types": 1,
    "densest_subgraph_peel": 3,
    "mis_parts_luby": 4,
}


def test_last_rounds_at_sf0001(loop_runs):
    got = {}
    for _, rounds, _ in loop_runs.values():
        got.update(rounds)
    assert got == ROUNDS_SF0001


# staged scopes opened per entry at sf0.001; every other entry opens none.
# Densest (0) and MIS (1) keep per-round state in checkpoints, so neither
# count grows with the rounds.
STAGES_SF0001 = {
    "graph_bfs_hops": 1,
    "graph_connected_components": 1,
    "coreness_hindex": 1,
    "lpa_communities_3iter": 1,
    "harmonic_centrality_sample": 1,
    "mis_parts_luby": 1,
    "pagerank_parts_3iter": 2,
    "dedup_cluster_survivors": 1,
    "dedup_semantic_clusters": 1,
}


def test_stages_opened_per_entry_at_sf0001(loop_runs):
    got = {name: n for name, (_, _, n) in loop_runs.items() if n}
    assert got == STAGES_SF0001

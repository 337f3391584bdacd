"""Regression tests for the round-6 ADVICE findings (fixed round 7).

1. medium — prepared-statement hoisting of a param out of a RuleApply
   whose target is (transitively) recursive defeated magic-set seed
   restriction: the skeleton eagerly computed the full unrestricted
   fixpoint AND was uncacheable, so every call rebuilt it. Now
   structurally ineligible (engine._build_skeleton pre-check + the
   post-eval _had_eager_eval bail) — such scripts take the normal
   magic-restricted path.
2. low — fresh residual vars were named __prep{n}_ without collision
   checks against user variables; now picked fresh against the body's
   variable set.
3. low — betweenness_centrality_sampled silently truncated the BFS at
   max_depth; now logs a warning when the cap bites.
Plus the round-7 directive: default `sources=None` on the distributed
centrality rules auto-samples c·ln(n) pivots above AUTO_EXACT_MAX_NODES
(exact stays the behavior below, and via explicit sources >= n).
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _edge_db(spark, edges):
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.register_dataframe(
        "edge", spark.createDataFrame(edges, "src long, dst long"))
    return db


RECURSIVE_PARAM_ARG = """
reach[x, y] := *edge[x, y]
reach[x, y] := reach[x, z], *edge[z, y]
?[y] := reach[$s, y]
"""

RECURSIVE_PARAM_COND = """
reach[x, y] := *edge[x, y]
reach[x, y] := reach[x, z], *edge[z, y]
?[y] := reach[x, y], x = $s
"""


@pytest.mark.parametrize("script", [RECURSIVE_PARAM_ARG,
                                    RECURSIVE_PARAM_COND])
def test_recursive_param_not_prepared(spark, script):
    """Params touching a recursive rule must NOT build a FLAT plan
    skeleton (it would compute the unrestricted full closure per call).
    r10: they build a recursive TEMPLATE instead — cached param-free
    clause translations, re-evaluated per call with the magic seed
    intact (test_prepared_recursive pins the restriction) — and results
    still match the literal-inlined run."""
    from cozo_spark.datalog.engine import CozoDb

    db = _edge_db(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    builds = []
    orig = CozoDb._build_skeleton

    def spy(self, s, params):
        r = orig(self, s, params)
        builds.append(r)
        return r

    CozoDb._build_skeleton = spy
    try:
        got = _rows(db.run_script_df(script, params={"s": 1}))
    finally:
        CozoDb._build_skeleton = orig
    want = _rows(db.run_script_df(script.replace("$s", "1")))
    assert got == want == [(2,), (3,), (4,)]
    # never a flat skeleton entry (one embedding an eagerly-evaluated
    # unrestricted fixpoint); the r10 recursive template is allowed
    assert builds and all(
        b is None or (isinstance(b, dict) and b.get("template"))
        for b in builds)


def test_recursive_param_neg_cached_structurally(spark):
    """r7 pinned a NEGATIVE cache entry here; since r10 the same script
    builds a recursive TEMPLATE, so the cache entry is now positive —
    either way, later calls must skip a fresh skeleton-build attempt."""
    from cozo_spark.datalog.engine import CozoDb

    db = _edge_db(spark, [(1, 2), (2, 3)])
    _rows(db.run_script_df(RECURSIVE_PARAM_ARG, params={"s": 1}))
    skey = db._skel_key(RECURSIVE_PARAM_ARG, {"s": 1})
    ent = CozoDb._skel_cache.get(skey)
    assert (ent is not None and ent.get("template")) \
        or CozoDb._skel_cache.get(("ineligible", skey), {}).get("ineligible")


def test_fresh_var_collision_with_user_name(spark):
    """A body already using a variable literally named __prep0_ must not
    unify with the hoisted param binding."""
    db = _edge_db(spark, [(1, 2), (2, 3), (7, 7)])
    script = "?[__prep0_] := *edge[__prep0_, $p]"
    # run twice so the second call goes through the cached skeleton
    first = _rows(db.run_script_df(script, params={"p": 2}))
    second = _rows(db.run_script_df(script, params={"p": 3}))
    assert first == [(1,)]
    assert second == [(2,)]
    # pre-fix, the fresh var collided with the head var: src had to equal
    # dst, returning only the (7, 7) self-loop for p=7
    assert _rows(db.run_script_df(script, params={"p": 7})) == [(7,)]


def _chain_edges(n):
    return [(i, i + 1) for i in range(n)]


def test_betweenness_truncation_warns(spark, caplog):
    from cozo_spark.fixed_rules.graphs import betweenness_centrality_sampled

    edges = spark.createDataFrame(_chain_edges(6), "src long, dst long")
    with caplog.at_level(logging.WARNING, logger="cozo_spark.graphs"):
        betweenness_centrality_sampled(edges, max_depth=3).collect()
    assert any("max_depth" in r.message for r in caplog.records)
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="cozo_spark.graphs"):
        betweenness_centrality_sampled(edges, max_depth=10).collect()
    assert not any("max_depth" in r.message for r in caplog.records)
    # traversal completing EXACTLY at the cap is not truncation (the
    # 7-node chain's deepest BFS level is 6): no false alarm
    caplog.clear()
    with caplog.at_level(logging.WARNING, logger="cozo_spark.graphs"):
        exact_at_cap = betweenness_centrality_sampled(
            edges, max_depth=6).collect()
    assert not any("max_depth" in r.message for r in caplog.records)
    assert sorted(map(tuple, exact_at_cap)) == sorted(
        map(tuple, betweenness_centrality_sampled(
            edges, max_depth=10).collect()))


def test_centrality_auto_pivot_default(spark, monkeypatch, caplog):
    """Above AUTO_EXACT_MAX_NODES a default call samples c*ln(n) pivots
    and says so; the result equals an explicit sources=k call."""
    import cozo_spark.fixed_rules.graphs as G

    edges = spark.createDataFrame(
        _chain_edges(11) + [(3, 7), (8, 2)], "src long, dst long")
    monkeypatch.setattr(G, "AUTO_EXACT_MAX_NODES", 4)
    monkeypatch.setattr(G, "_AUTO_PIVOT_C", 2.0)
    k = G._auto_pivots(12)
    assert 1 <= k < 12
    with caplog.at_level(logging.WARNING, logger="cozo_spark.graphs"):
        auto_b = _rows(G.betweenness_centrality_sampled(edges))
        auto_c = _rows(G.closeness_centrality_dist(edges))
    msgs = [r.message for r in caplog.records]
    assert any("auto-sampling" in m and "Betweenness" in m for m in msgs)
    assert any("auto-sampling" in m and "Closeness" in m for m in msgs)
    assert auto_b == _rows(
        G.betweenness_centrality_sampled(edges, sources=k))
    assert auto_c == _rows(G.closeness_centrality_dist(edges, sources=k))


def test_centrality_exact_below_threshold_unchanged(spark):
    """Small graphs keep exact all-sources semantics under the default —
    golden values for the 4-cycle with a tail: directed C4 (0..3) + 3->4."""
    import cozo_spark.fixed_rules.graphs as G

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (3, 4)], "src long, dst long")
    got = {r["node"]: r["centrality"]
           for r in G.betweenness_centrality_sampled(edges).collect()}
    # directed cycle: each cycle node lies on the unique shortest path of
    # every (s, t) pair routing through it; tail node 4 intermediates none
    assert got[4] == 0.0
    want = {r["node"]: r["centrality"]
            for r in G.betweenness_centrality_sampled(
                edges, sources=10).collect()}
    assert got == want

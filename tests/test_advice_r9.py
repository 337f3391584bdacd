"""Regressions for the round-8 ADVICE findings (fixed in round 9).

1 (medium, graphs.py): the LouvainDist size gate dispatched small graphs to
   the driver-side rule, which was SINGLE-LEVEL (local moves only) while
   both the distributed path and the reference (louvain.rs louvain() loop)
   are MULTI-LEVEL with contraction; max_levels was silently dropped.
   Fix: community_detection_louvain mirrors the reference's contraction
   loop (local moves -> contract -> repeat until no merge / <=2 nodes /
   max_levels) and the gate forwards max_levels, making the dispatch
   semantics-preserving.

2 (low, engine.py): _hoist_support_params' convergence budget len(rules)+1
   could be exhausted on legitimate non-recursive programs (a caller
   regains params each time a later-defined callee is processed — up to
   O(k^2) processings). Fix: budget raised to len(rules)**2+1.

3 (low, dedup.py): the _observe_logged watcher swallowed every bail-out in
   a bare except, silently re-silencing the cap warnings it exists to
   surface. Fix: every bail-out path logs at INFO; polling backs off.

4 (low, dedup.py): minhash/simhash cached signature tables with .cache()
   and never unpersisted — storage accumulates across calls in a
   long-lived session. Fix: localCheckpoint (blocks released on GC, and
   nothing is left registered in the CacheManager). Its test,
   test_dedup_cache_is_bounded_per_operator, is in test_memo.py.
"""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F


def _partition(df, comm_col="community", node_col="node"):
    out: dict = {}
    for r in df.collect():
        out.setdefault(r[comm_col], set()).add(r[node_col])
    return sorted((sorted(v) for v in out.values()), key=str)


def _clique_edges(members):
    return [(a, b, 1.0) for a in members for b in members if a < b]


def _triangle_ring(spark, n_tri=10):
    """Ring of n_tri triangles chained by unit bridges: level 1 finds the
    triangles; at n_tri=10 level 2 merges adjacent triangles (the classic
    multi-level Louvain demonstration — single-level gives n_tri
    communities, multi-level n_tri/2)."""
    rows = []
    for i in range(n_tri):
        base = i * 10
        rows += _clique_edges([base, base + 1, base + 2])
        rows.append((base + 2, ((i + 1) % n_tri) * 10, 1.0))
    return spark.createDataFrame(rows, "src long, dst long, weight double")


# --- 1: multi-level driver-side Louvain -----------------------------------


def test_louvain_local_is_multilevel(spark):
    from cozo_spark.fixed_rules.local_graphs import (
        community_detection_louvain)

    edges = _triangle_ring(spark)
    single = _partition(community_detection_louvain(edges, max_levels=1))
    multi = _partition(community_detection_louvain(edges))
    assert len(single) == 10  # one community per triangle
    assert len(multi) == 5    # level 2 merges adjacent triangles
    # every triangle stays whole in both
    for part in (single, multi):
        flat = sorted(n for grp in part for n in grp)
        assert flat == sorted({a for g in part for a in g})
        for base in range(0, 100, 10):
            tri = {base, base + 1, base + 2}
            assert any(tri <= set(grp) for grp in part)


def test_louvain_gate_is_semantics_preserving(spark):
    """The default (gated) LouvainDist output equals the driver-side
    multi-level rule on a graph where a second level merges level-1
    communities — exactly the divergence the r8 ADVICE flagged."""
    from cozo_spark.fixed_rules.graphs import louvain_communities
    from cozo_spark.fixed_rules.local_graphs import (
        community_detection_louvain)

    edges = _triangle_ring(spark)
    gated = _partition(louvain_communities(edges))  # default: driver path
    driver = _partition(community_detection_louvain(edges))
    assert gated == driver
    assert len(gated) == 5


def test_louvain_gate_forwards_max_levels(spark):
    from cozo_spark.fixed_rules.graphs import louvain_communities

    edges = _triangle_ring(spark)
    lvl1 = _partition(louvain_communities(edges, max_levels=1))
    assert len(lvl1) == 10  # max_levels reaches the driver-side rule


def test_louvain_multilevel_weighted_separable(spark):
    """Contraction must not break the separable golden case (m2/k kept
    invariant through the doubled self-loop convention)."""
    from cozo_spark.fixed_rules.local_graphs import (
        community_detection_louvain)

    rows = (_clique_edges([1, 2, 3, 4, 5])
            + _clique_edges([10, 11, 12, 13, 14])
            + [(5, 10, 0.5)])
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    assert _partition(community_detection_louvain(edges)) == \
        [[1, 2, 3, 4, 5], [10, 11, 12, 13, 14]]


# --- 2: hoist convergence budget ------------------------------------------


def test_hoist_budget_caller_before_callee_fanout(spark):
    """Entry -> a -> {c1..c4}, params at the bottom, callers defined FIRST
    (dict order a, c1..c4): each ci processing re-parameterizes a, so the
    old len(rules)+1 budget exhausted and the skeleton was refused. Must
    now prepare (one build, cache hit on re-run) and stay correct."""
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    rows = [(i, (i * 3) % 7) for i in range(60)]
    db.register_dataframe(
        "r9t", spark.createDataFrame(rows, "k long, v long"))
    script = """
    a[x] := c1[x], c2[x], c3[x], c4[x]
    c1[x] := *r9t{k: x, v: $p1}
    c2[x] := *r9t{k: x}, x > $p2
    c3[x] := *r9t{k: x}, x < $p3
    c4[x] := *r9t{k: x, v: w}, w >= $p4
    ?[x] := a[x]
    """
    builds = []
    orig = CozoDb._build_skeleton

    def spy(self, s, p):
        builds.append(s)
        return orig(self, s, p)

    def lit(subs):
        s = script
        for k, v in subs.items():
            s = s.replace(f"${k}", str(v))
        return sorted(tuple(r) for r in db.run_script_df(s).collect())

    import unittest.mock as mock
    with mock.patch.object(CozoDb, "_build_skeleton", spy):
        for p1, p2, p3, p4 in ((3, 5, 50, 0), (1, 10, 40, 2)):
            params = {"p1": p1, "p2": p2, "p3": p3, "p4": p4}
            got = sorted(tuple(r) for r in
                         db.run_script_df(script, params).collect())
            assert got == lit(params)
    assert len(builds) == 1, "skeleton must build once and be reused"


# --- 3: watcher bail-outs are visible -------------------------------------


def test_observe_attach_failure_logs(spark, caplog, monkeypatch):
    import cozo_spark.operators.dedup as dd

    class Boom:
        def __init__(self, *a, **k):
            raise RuntimeError("no observation for you")

    import pyspark.sql as ps
    monkeypatch.setattr(ps, "Observation", Boom)
    df = spark.createDataFrame([(1,)], "x long")
    with caplog.at_level(logging.INFO, logger="cozo_spark.operators.dedup"):
        out = dd._observe_logged(df, "t_attach", {"m": F.sum("x")},
                                 warn_keys=("m",))
        assert out.count() == 1  # plain-observe fallback still works
    assert any("disabled" in r.message for r in caplog.records), \
        "attach failure must be logged, not swallowed"


# --- SSE changefeed: bounded queue cuts stalled subscribers (r8 #8) -------


def test_sse_stalled_subscriber_is_cut_not_unbounded(spark, tmp_path,
                                                     monkeypatch):
    """A never-reading SSE client must not make the subscriber queue grow
    without bound or block mutations: once the bounded queue fills, the
    subscriber is unregistered and later mutations stop feeding it."""
    import socket
    import time

    import cozo_spark.server as srv_mod
    from cozo_spark.datalog.engine import CozoDb
    from cozo_spark.server import CozoServer
    from cozo_spark.streaming.changefeed import attach_changefeed

    monkeypatch.setattr(srv_mod, "SSE_QUEUE_CAPACITY", 2)
    db = CozoDb(spark)
    attach_changefeed(db, str(tmp_path / "spool"))
    db.run_script("?[k, v] <- [[0, 'seed']] :create sse9 {k => v}")
    srv = CozoServer(db, port=0)
    srv.start()
    try:
        s = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        s.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, 4096)
        s.settimeout(60)
        s.connect(("127.0.0.1", srv.port))
        s.sendall(b"GET /changes/sse9 HTTP/1.1\r\nHost: x\r\n\r\n")
        deadline = time.time() + 5
        while time.time() < deadline and not db.changefeed.callbacks.get("sse9"):
            time.sleep(0.1)
        assert db.changefeed.callbacks.get("sse9"), "subscription registered"
        big = "y" * 1024
        rows = ", ".join(f"[{j}, '{big}']" for j in range(400))
        cut_after = None
        for i in range(30):  # ~400KB/event vs 4KB client window + cap 2
            db.run_script(f"?[k, v] <- [{rows}] :put sse9 {{k => v}}")
            if not db.changefeed.callbacks.get("sse9"):
                cut_after = i + 1
                break
        assert cut_after is not None, \
            "stalled subscriber was never cut — queue growing unbounded"
        s.close()
    finally:
        srv.stop()


# --- centrality mode is inspectable (VERDICT r8 directive #6) -------------


def test_centrality_mode_metadata(spark):
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.run_script(
        "?[a,b] <- [[1,2],[2,3],[3,1],[3,4]] :create e9m {a, b}")
    res = db.run_script("""
    edges[a, b] := *e9m{a, b}
    ?[node, centrality] <~ BetweennessCentralityDist(edges[])
    """)
    info = res.metadata["fixed_rules"]["BetweennessCentralityDist"]
    assert info["mode"] == "exact" and info["pivots"] == info["nodes"] == 4
    assert db.last_fixed_rule_info()["BetweennessCentralityDist"] == info
    res2 = db.run_script("""
    edges[a, b] := *e9m{a, b}
    ?[node, centrality] <~ BetweennessCentralityDist(edges[], sources: 2)
    """)
    info2 = res2.metadata["fixed_rules"]["BetweennessCentralityDist"]
    assert info2["mode"] == "sampled" and info2["pivots"] == 2
    res3 = db.run_script("""
    edges[a, b] := *e9m{a, b}
    ?[c, n] <~ CommunityDetectionLouvainDist(edges[])
    """)
    louv = res3.metadata["fixed_rules"]["CommunityDetectionLouvainDist"]
    assert louv["mode"] == "driver_sequential"  # under the size gate
    # a program with no mode-recording rule reports nothing
    plain = db.run_script("?[x] <- [[1]]")
    assert plain.metadata == {} and db.last_fixed_rule_info() == {}

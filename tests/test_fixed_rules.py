"""Graph fixed-rule tests on small deterministic graphs with closed-form
golden outputs (the reference's approach for algorithms DuckDB can't oracle —
SURVEY §5 implication (c))."""

from __future__ import annotations

import logging

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def g(spark):
    # diamond + tail:  1→2, 1→3, 2→4, 3→4, 4→5   (weights = dst)
    edges = spark.createDataFrame(
        [(1, 2, 2.0), (1, 3, 3.0), (2, 4, 4.0), (3, 4, 4.0), (4, 5, 5.0)],
        "src long, dst long, weight double")
    return edges


@pytest.fixture(scope="module")
def cyc(spark):
    # two directed cycles joined by a bridge: 1→2→3→1, 4→5→4, 3→4
    return spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 4), (3, 4)], "src long, dst long")


def test_degree_centrality(g):
    from cozo_spark.fixed_rules.graphs import degree_centrality

    d = {r["node"]: (r["total_degree"], r["out_degree"], r["in_degree"])
         for r in degree_centrality(g).collect()}
    assert d == {1: (2, 2, 0), 2: (2, 1, 1), 3: (2, 1, 1), 4: (3, 1, 2), 5: (1, 0, 1)}


@pytest.mark.parametrize("cap", [None, 0], ids=["default_cap", "cap0"])
def test_shortest_hops(g, monkeypatch, cap):
    from cozo_spark.fixed_rules.graphs import shortest_hops
    from tests.conftest import spy_hops_loop

    epochs = spy_hops_loop(monkeypatch, cap)
    hops = {(r["src"], r["dst"]): r["hops"] for r in shortest_hops(g).collect()}
    assert hops[(1, 4)] == 2 and hops[(1, 5)] == 3 and hops[(1, 2)] == 1
    assert (not epochs) == (cap is None)


def test_shortest_path_costs(g, spark):
    from cozo_spark.fixed_rules.graphs import shortest_path_costs

    starts = spark.createDataFrame([(1,)], "n long")
    costs = {r["node"]: r["cost"] for r in shortest_path_costs(g, starts).collect()}
    assert costs[4] == 6.0  # 1→2→4 (2+4) beats 1→3→4 (3+4)
    assert costs[5] == 11.0


def test_dijkstra_paths(g, spark):
    from cozo_spark.fixed_rules.local_graphs import shortest_path_dijkstra

    starts = spark.createDataFrame([(1,)], "n long")
    goals = spark.createDataFrame([(5,)], "n long")
    rows = shortest_path_dijkstra(g, starts, goals).collect()
    assert len(rows) == 1
    assert rows[0]["cost"] == 11.0
    assert rows[0]["path"] == ["1", "2", "4", "5"]


def test_yen_k_shortest(g, spark):
    from cozo_spark.fixed_rules.local_graphs import k_shortest_path_yen

    starts = spark.createDataFrame([(1,)], "n long")
    goals = spark.createDataFrame([(5,)], "n long")
    rows = sorted(k_shortest_path_yen(g, starts, goals, k=3).collect(),
                  key=lambda r: r["cost"])
    assert [r["cost"] for r in rows] == [11.0, 12.0]  # only two loopless paths
    assert rows[0]["path"] == ["1", "2", "4", "5"]
    assert rows[1]["path"] == ["1", "3", "4", "5"]


def test_astar(g, spark):
    from cozo_spark.fixed_rules.local_graphs import shortest_path_astar

    sg = spark.createDataFrame([(1, 5)], "s long, g long")
    rows = shortest_path_astar(g, sg).collect()
    assert rows[0]["cost"] == 11.0 and rows[0]["path"] == ["1", "2", "4", "5"]


def test_bfs_dfs_paths(g, spark):
    from cozo_spark.fixed_rules.local_graphs import bfs_paths, dfs

    starts = spark.createDataFrame([(1,)], "n long")
    b = {r["reached"]: r["path"] for r in bfs_paths(g, starts).collect()}
    assert b[4] == ["1", "2", "4"]  # BFS finds via first-expanded neighbor
    d = {r["reached"]: r["path"] for r in dfs(g, starts).collect()}
    assert d[4] == ["1", "2", "4"]  # lexicographic DFS goes 1→2 first
    assert set(b) == {2, 3, 4, 5}


def test_connected_components(cyc):
    from cozo_spark.fixed_rules.graphs import connected_components

    comp = {r["node"]: r["component"] for r in connected_components(cyc).collect()}
    assert len(set(comp.values())) == 1  # bridge joins everything (undirected)


def test_scc(cyc):
    from cozo_spark.fixed_rules.graphs import strongly_connected_components

    comp = {r["node"]: r["component"] for r in strongly_connected_components(cyc).collect()}
    assert comp[1] == comp[2] == comp[3]
    assert comp[4] == comp[5]
    assert comp[1] != comp[4]  # bridge is one-way: separate SCCs


def test_scc_diamond_not_merged(spark):
    """1→5, 1→6, 5→2, 6→2: nodes 5 and 6 share min-reaching (1) and
    min-reached (2) nodes but are NOT mutually reachable — every SCC is a
    singleton. (Regression for the label-pair shortcut, which merged them.)"""
    from cozo_spark.fixed_rules.graphs import strongly_connected_components

    e = spark.createDataFrame([(1, 5), (1, 6), (5, 2), (6, 2)], "src long, dst long")
    comp = {r["node"]: r["component"] for r in strongly_connected_components(e).collect()}
    assert len(comp) == 4 and len(set(comp.values())) == 4


def test_scc_two_cycles_bridged(spark):
    """Two 2-cycles joined by a one-way bridge stay separate components."""
    from cozo_spark.fixed_rules.graphs import strongly_connected_components

    e = spark.createDataFrame(
        [(10, 11), (11, 10), (11, 20), (20, 21), (21, 20)], "src long, dst long")
    comp = {r["node"]: r["component"] for r in strongly_connected_components(e).collect()}
    assert comp[10] == comp[11] and comp[20] == comp[21]
    assert comp[10] != comp[20]


def test_topsort(g):
    from cozo_spark.fixed_rules.graphs import top_sort

    order = {r["node"]: r["order"] for r in top_sort(g).collect()}
    assert order[1] < order[2] < order[4] < order[5]
    assert order[1] < order[3] < order[4]


def test_pagerank_sums_to_one(g):
    from cozo_spark.fixed_rules.graphs import pagerank

    rows = pagerank(g, iterations=20).collect()
    total = sum(r["rank"] for r in rows)
    assert abs(total - 1.0) < 1e-6
    ranks = {r["node"]: r["rank"] for r in rows}
    assert ranks[4] > ranks[2]  # 4 collects two in-flows


def test_mst(g):
    from cozo_spark.fixed_rules.local_graphs import (
        minimum_spanning_forest_kruskal, minimum_spanning_tree_prim)

    for fn in (minimum_spanning_tree_prim, minimum_spanning_forest_kruskal):
        rows = fn(g).collect()
        assert len(rows) == 4  # 5 nodes → 4 edges
        assert sum(r["weight"] for r in rows) == 14.0  # 2+3+4+5

def test_betweenness(spark):
    from cozo_spark.fixed_rules.local_graphs import betweenness_centrality

    # path graph 1→2→3: only 2 lies between
    path = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    c = {r["node"]: r["centrality"] for r in betweenness_centrality(path).collect()}
    assert c[2] == 1.0 and c[1] == 0.0 and c[3] == 0.0


def test_closeness(spark):
    from cozo_spark.fixed_rules.local_graphs import closeness_centrality

    path = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    c = {r["node"]: r["centrality"] for r in closeness_centrality(path).collect()}
    assert c[1] == pytest.approx(2 / 3)  # dists 1,2 → 2/(1+2)
    assert c[2] == pytest.approx(1.0)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


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


def test_louvain(spark):
    from cozo_spark.fixed_rules.local_graphs import community_detection_louvain

    # two triangles + one weak bridge
    e = spark.createDataFrame(
        [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0),
         (4, 5, 1.0), (5, 6, 1.0), (6, 4, 1.0), (3, 4, 0.1)],
        "src long, dst long, weight double")
    rows = community_detection_louvain(e).collect()
    comm = {r["node"]: r["community"] for r in rows}
    assert comm[1] == comm[2] == comm[3]
    assert comm[4] == comm[5] == comm[6]
    assert comm[1] != comm[4]


def test_louvain_registered_rule_hierarchy_shape(spark):
    """The REGISTERED CommunityDetectionLouvain returns the reference's
    exact output shape (louvain.rs:44-56): (labels_list, node) with the
    TOP level first and keep_depth truncating to the top-k levels; an
    uncontractable graph yields empty lists."""
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    # ring of 10 triangles: two contraction levels (10 -> 5 communities)
    rows = []
    for i in range(10):
        b = i * 10
        rows += [[b, b + 1, 1.0], [b + 1, b + 2, 1.0], [b, b + 2, 1.0],
                 [b + 2, ((i + 1) % 10) * 10, 1.0]]
    lit = ", ".join(str(r) for r in rows)
    db.run_script(f"?[a,b,w] <- [{lit}] :create e_tri {{a, b => w}}")
    res = db.run_script("""
    edges[a, b, w] := *e_tri{a, b, w}
    ?[grp, idx] <~ CommunityDetectionLouvain(edges[])
    """)
    labels = {r[1]: r[0] for r in res.rows}
    assert all(isinstance(v, list) and len(v) == 2 for v in labels.values())
    # top level first: 5 distinct top labels, 10 distinct level-1 labels
    assert len({tuple(v)[0] for v in labels.values()}) == 5
    assert len({tuple(v)[1] for v in labels.values()}) == 10
    res1 = db.run_script("""
    edges[a, b, w] := *e_tri{a, b, w}
    ?[grp, idx] <~ CommunityDetectionLouvain(edges[], keep_depth: 1)
    """)
    l1 = {r[1]: r[0] for r in res1.rows}
    assert all(len(v) == 1 for v in l1.values())
    assert {tuple(v)[0] for v in l1.values()} == \
        {tuple(v)[0] for v in labels.values()}  # the TOP level survives


def test_random_walk_deterministic(g, spark):
    from cozo_spark.fixed_rules.local_graphs import random_walk

    starts = spark.createDataFrame([(1,)], "n long")
    a = [tuple(r) for r in random_walk(g, starts, steps=5, seed=7).collect()]
    b = [tuple(r) for r in random_walk(g, starts, steps=5, seed=7).collect()]
    assert a == b and len(a) == 1
    assert a[0][2][0] == "1"


def test_label_propagation(spark):
    from cozo_spark.fixed_rules.graphs import label_propagation

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 4)], "src long, dst long")
    rows = label_propagation(e, iterations=5).collect()
    lab = {r["node"]: r["label"] for r in rows}
    assert lab[1] == lab[2] == lab[3]
    assert lab[4] == lab[5] == lab[6]


def test_clustering_coefficients(spark):
    from cozo_spark.fixed_rules.graphs import clustering_coefficients

    # triangle 1-2-3 plus pendant 3-4
    e = spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long")
    rows = {r["node"]: r for r in clustering_coefficients(e).collect()}
    assert rows[1]["cc"] == 1.0 and rows[1]["n_triangles"] == 1
    assert rows[3]["degree"] == 3 and rows[3]["cc"] == pytest.approx(1 / 3)
    assert rows[4]["n_triangles"] == 0


def test_scc_empty_edges(spark):
    """Regression: empty edge relation must yield an empty (node, component)
    frame, not IndexError from indexing an empty parts list."""
    from pyspark.sql.types import LongType, StructField, StructType
    from cozo_spark.fixed_rules.graphs import strongly_connected_components

    e = spark.createDataFrame(
        [], StructType([StructField("src", LongType()), StructField("dst", LongType())]))
    out = strongly_connected_components(e)
    assert out.columns == ["node", "component"]
    assert out.count() == 0


def test_pipeline_fixed_rules_in_cozoscript(spark):
    """LLM-pipeline operators are callable as CozoScript fixed rules:
    near-dup pairs -> clusters, packing, quality, language-id — the whole
    dedup pipeline composes inside one script."""
    from cozo_spark.datalog.engine import CozoDb

    d = CozoDb(spark)
    d.run_script(":create docs {id: Int => t: String}")
    d.run_script("""
    ?[id, t] <- [
      [1, 'the quick brown fox jumps over the lazy dog'],
      [2, 'the quick brown fox jumps over the lazy cat'],
      [3, 'completely different content about spark engines'],
      [4, 'the quick brown fox jumps over the lazy dog']
    ] :put docs {id => t}
    """)
    r = d.run_script("""
    pairs[a, b, j] <~ MinHashPairs(*docs[], threshold: 0.5, n_gram: 2)
    ?[a, b] := pairs[a, b, j]
    """)
    pair_set = sorted(tuple(x) for x in r.rows)
    assert (1, 4) in pair_set  # exact dups always pair
    r2 = d.run_script("""
    mh[a, b, j] <~ MinHashPairs(*docs[], threshold: 0.5, n_gram: 2)
    pairs[a, b] := mh[a, b, j]
    ?[doc, canon] <~ DedupClusters(pairs[a, b])
    """)
    clus = dict(tuple(x) for x in r2.rows)
    assert clus[4] == 1  # 4 clusters with canonical keeper 1
    r3 = d.run_script("?[id, n, chunk] <~ PackSequences(*docs[], capacity: 10, shards: 2)")
    assert len(r3.rows) == 4
    r4 = d.run_script("""
    q[doc_id, n_chars, n_words, mwl, ar, pr, sr, uwr, qual] <~ QualityScores(*docs[])
    ?[doc_id, n_words] := q[doc_id, n_chars, n_words, mwl, ar, pr, sr, uwr, qual]
    """)
    assert dict(tuple(x) for x in r4.rows)[1] == 9
    r5 = d.run_script("""
    corpus[id, t] := *docs[id, t], id <= 2
    bench[id, t] := *docs[id, t], id == 4
    ?[doc, b, ratio] <~ NgramContamination(corpus[], bench[], n: 2, threshold: 0.5)
    """)
    assert any(row[0] == 1 and row[1] == 4 for row in r5.rows)  # doc1 == doc4


def test_pipeline_fixed_rules_pii_repetition_sample_keywords(spark):
    """Round-3 pipeline rules: PiiRedact, RepetitionSignals, BalancedSample,
    KeywordTopK — callable from CozoScript and composable with filters."""
    from cozo_spark.datalog.engine import CozoDb

    d = CozoDb(spark)
    d.run_script(":create docs2 {id: Int => t: String, src: String}")
    d.run_script("""
    ?[id, t, src] <- [
      [1, 'mail me at bob@example.com or +1-555-123-4567 thanks', 'a'],
      [2, 'server at 10.1.2.3 went down down down down down', 'a'],
      [3, 'clean text with no identifiers at all here', 'b'],
      [4, 'spam spam spam spam spam spam spam spam', 'b']
    ] :put docs2 {id => t, src}
    """)
    r = d.run_script("""
    red[id, clean, ne, np, ni] <~ PiiRedact(*docs2[])
    ?[id, ne, np, ni] := red[id, clean, ne, np, ni]
    """)
    by_id = {row[0]: tuple(row[1:]) for row in r.rows}
    assert by_id[1] == (1, 1, 0)   # one email, one phone
    assert by_id[2] == (0, 0, 1)   # one IP
    assert by_id[3] == (0, 0, 0)
    clean1 = d.run_script("""
    red[id, clean, ne, np, ni] <~ PiiRedact(*docs2[])
    ?[clean] := red[1, clean, ne, np, ni]
    """).rows[0][0]
    assert "<EMAIL>" in clean1 and "<PHONE>" in clean1
    assert "bob@example.com" not in clean1

    r2 = d.run_script("""
    rep[id, u, b, t3] <~ RepetitionSignals(*docs2[])
    ?[id, u] := rep[id, u, b, t3], u > 0.9
    """)
    assert [row[0] for row in r2.rows] == [4]  # all-'spam' doc flagged

    r3 = d.run_script(
        "?[id, stratum] <~ BalancedSample(*docs2[], per_stratum: 1)")
    assert len(r3.rows) == 2  # one per stratum
    assert sorted(row[1] for row in r3.rows) == ["a", "b"]

    r4 = d.run_script("""
    kw[id, term, score, rank] <~ KeywordTopK(*docs2[], k: 1)
    ?[id, term] := kw[id, term, score, rank]
    """)
    top = dict(tuple(row) for row in r4.rows)
    assert top[4] == "spam"


def test_shortest_path_costs_null_weight_converges(spark):
    """A cost that stays NULL is not an improvement: the loop stops once
    no key changes instead of running out its iteration cap."""
    from cozo_spark.fixed_rules import graphs as G

    e = spark.createDataFrame([(1, 2, None), (2, 3, 1.0), (1, 4, 2.0)],
                              "src long, dst long, weight double")
    starts = spark.createDataFrame([(1,)], "n long")
    G._record_run_info(rule="ShortestPathCosts")
    rows = _rows(G.shortest_path_costs(e, starts, max_iterations=10))
    info = G.take_run_info()
    assert rows == [(1, 1, 0.0), (1, 2, None), (1, 3, None), (1, 4, 2.0)]
    assert info["truncated"] is False, info
    assert info["iterations"] <= 3, info


def test_connected_components_null_node(spark):
    from cozo_spark.fixed_rules.graphs import connected_components

    e = spark.createDataFrame([(1, 2), (2, None), (3, 4)],
                              "src long, dst long")
    got = {tuple(r) for r in connected_components(e).collect()}
    assert got == {(1, 1), (2, 1), (3, 3), (4, 3), (None, 1)}


@pytest.mark.parametrize("seed", [11, 23, 57])
def test_scc_matches_components_on_symmetric_graphs(spark, seed):
    """On a symmetric graph every component is strongly connected, so SCC
    and ConnectedComponents partition the nodes, isolated ones included,
    the same way."""
    import random

    from cozo_spark.fixed_rules.graphs import (connected_components,
                                               strongly_connected_components)

    rnd = random.Random(seed)
    n = 14
    edges = set()
    for a in range(n):
        for b in range(a + 1, n):
            if rnd.random() < 0.12:
                edges |= {(a, b), (b, a)}
    nodes = list(range(n)) + [100 + i for i in range(rnd.randint(1, 3))]
    e = spark.createDataFrame(sorted(edges), "src long, dst long")
    nd = spark.createDataFrame([(v,) for v in nodes], "node long")

    def parts(df):
        by_label: dict = {}
        for node, label in df.collect():
            by_label.setdefault(label, set()).add(node)
        return sorted(sorted(p) for p in by_label.values())

    scc = parts(strongly_connected_components(e, nd))
    cc = parts(connected_components(e, nd))
    assert scc == cc
    assert sorted(v for p in cc for v in p) == sorted(nodes)


def test_betweenness_probe_thread_keeps_session_tags(spark):
    """The truncation probe's thread is started with the caller's session,
    so pyspark copies its tags and does not warn that they are lost."""
    import warnings

    from cozo_spark.fixed_rules import graphs as G

    edges = spark.createDataFrame(_chain_edges(40), "src long, dst long")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        G.betweenness_centrality_sampled(edges, sources=4,
                                         max_depth=3).collect()
    info = G.take_run_info()
    assert info["mode"] == "sampled" and info["truncated"] is True, info
    msgs = [str(w.message) for w in caught]
    assert not any("Tags will not be inherited" in m for m in msgs), msgs


def test_betweenness_probe_thread_leaves_no_open_socket(spark):
    """The truncation probe thread's py4j connection (pinned-thread mode
    gives each Python thread its own) is released when the thread ends:
    a truncated call leaves no ResourceWarning after a garbage collection.
    The call is consumed with count(): pyspark's own collect() leaves its
    result socket to the garbage collector on every call, probe or not."""
    import gc
    import warnings

    from cozo_spark.fixed_rules import graphs as G

    edges = spark.createDataFrame(_chain_edges(40), "src long, dst long")
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        G.betweenness_centrality_sampled(edges, sources=4,
                                         max_depth=3).count()
        assert G.take_run_info()["truncated"] is True
        gc.collect()
    leaks = [str(w.message) for w in caught
             if issubclass(w.category, ResourceWarning)]
    assert not leaks, leaks


# ---------------------------------------------------------------------------
# ::explain planned modes and the run info of the mode-switching rules
# (the reference's explain table is the plan-visibility surface,
# db.rs:968-1191)
# ---------------------------------------------------------------------------

def _db(spark):
    from cozo_spark.datalog.engine import CozoDb

    return CozoDb(spark)


def _explain_rows(db, script):
    res = db.run_script(f"::explain {{ {script} }}")
    return [dict(zip(res.headers, r)) for r in res.rows]


def _chain_frame(spark, n):
    # a path graph: diameter n-1, so a small max_depth genuinely truncates
    return spark.range(n - 1).select(
        F.col("id").alias("fr"), (F.col("id") + 1).alias("to"))


@pytest.mark.parametrize("rule,opts,sample,want", [
    ("BetweennessCentralityDist", "", False, "exact"),
    ("BetweennessCentralityDist", "", True, "sampled"),
    ("ClosenessCentralityDist", "", False, "exact"),
    ("ClosenessCentralityDist", "", True, "sampled"),
    ("CommunityDetectionLouvainDist", "", False, "driver_sequential"),
    ("CommunityDetectionLouvainDist", ", local_threshold: 0", False,
     "distributed"),
], ids=["betweenness_exact", "betweenness_sampled", "closeness_exact",
        "closeness_sampled", "louvain_driver", "louvain_distributed"])
def test_explain_planned_mode_matches_run(spark, monkeypatch, rule, opts,
                                          sample, want):
    """The planned_mode row and the run's last_fixed_rule_info() agree on
    the mode and on the counts it was decided from."""
    from cozo_spark.fixed_rules import graphs as G

    if sample:
        monkeypatch.setattr(G, "AUTO_EXACT_MAX_NODES", 40)
        monkeypatch.setattr(G, "_AUTO_PIVOT_C", 2.0)  # 9 pivots of 60
    db = _db(spark)
    edges = spark.range(180).select(
        (F.col("id") % 60).alias("fr"),
        ((F.col("id") * 7 + 1) % 60).alias("to"))
    db.register_dataframe("eplan", edges, keys=["fr", "to"])
    script = f"?[a, b] <~ {rule}(*eplan[]{opts})"
    d = [r for r in _explain_rows(db, script)
         if r["op"] == "planned_mode"][0]["detail"]
    planned = dict(kv.split("=", 1) for kv in d.split())
    db.run_script(script)
    info = db.last_fixed_rule_info()[rule]
    keys = ["mode", "edges"] if "Louvain" in rule \
        else ["mode", "pivots", "nodes"]
    assert {k: planned[k] for k in keys} == \
        {k: str(info[k]) for k in keys}, (d, info)
    assert planned["mode"] == want, d


def test_explain_names_centrality_mode_small_graph_exact(spark):
    db = _db(spark)
    edges = spark.range(200).select(
        (F.col("id") % 50).alias("fr"), ((F.col("id") * 3 + 1) % 50).alias("to"))
    db.register_dataframe("eexp", edges, keys=["fr", "to"])
    rows = _explain_rows(
        db, "?[n, c] <~ BetweennessCentralityDist(*eexp[])")
    modes = [r for r in rows if r["op"] == "planned_mode"]
    assert len(modes) == 1
    d = modes[0]["detail"]
    assert "mode=exact" in d and "pivots=" in d and "nodes=" in d, d
    # exact on a 50-node graph: pivots == nodes
    n = int(d.split("nodes=")[1].split()[0])
    p = int(d.split("pivots=")[1].split()[0])
    assert p == n


def test_explain_names_sampled_mode_above_auto_gate(spark, monkeypatch):
    from cozo_spark.fixed_rules import graphs as G

    monkeypatch.setattr(G, "AUTO_EXACT_MAX_NODES", 40)  # force the sample
    db = _db(spark)
    # need n where c*ln(n) < n (auto-pivots below the node count): 300
    edges = spark.range(900).select(
        (F.col("id") % 300).alias("fr"),
        ((F.col("id") * 7 + 1) % 300).alias("to"))
    db.register_dataframe("eexp2", edges, keys=["fr", "to"])
    rows = _explain_rows(
        db, "?[n, c] <~ ClosenessCentralityDist(*eexp2[])")
    d = [r for r in rows if r["op"] == "planned_mode"][0]["detail"]
    assert "mode=sampled" in d, d
    pivots = int(d.split("pivots=")[1].split()[0])
    nodes = int(d.split("nodes=")[1].split()[0])
    assert 0 < pivots < nodes
    # the explain-planned decision matches what the run actually records
    db.run_script("?[n, c] <~ ClosenessCentralityDist(*eexp2[])")
    info = db.last_fixed_rule_info()["ClosenessCentralityDist"]
    assert info["mode"] == "sampled" and info["pivots"] == pivots


def test_explain_names_louvain_gate_side(spark):
    db = _db(spark)
    edges = spark.range(60).select(
        (F.col("id") % 20).alias("fr"), ((F.col("id") + 1) % 20).alias("to"))
    db.register_dataframe("eexp3", edges, keys=["fr", "to"])
    rows = _explain_rows(
        db, "?[c, n] <~ CommunityDetectionLouvainDist(*eexp3[])")
    d = [r for r in rows if r["op"] == "planned_mode"][0]["detail"]
    assert "mode=driver_sequential" in d and "gate=" in d, d
    # forcing the distributed path flips the planned side
    rows2 = _explain_rows(
        db, "?[c, n] <~ CommunityDetectionLouvainDist(*eexp3[], "
            "local_threshold: 0)")
    d2 = [r for r in rows2 if r["op"] == "planned_mode"][0]["detail"]
    assert "mode=distributed" in d2, d2


def test_explain_derived_input_reports_data_dependent(spark):
    db = _db(spark)
    edges = spark.range(20).select(
        (F.col("id") % 10).alias("fr"), ((F.col("id") + 1) % 10).alias("to"))
    db.register_dataframe("eexp4", edges, keys=["fr", "to"])
    rows = _explain_rows(db, """
    e[a, b] := *eexp4{fr: a, to: b}, a < 5
    ?[n, c] <~ BetweennessCentralityDist(e[])
    """)
    d = [r for r in rows if r["op"] == "planned_mode"][0]["detail"]
    assert "data-dependent" in d, d


def test_explain_sampled_mode_names_accuracy_cap(spark, monkeypatch):
    from cozo_spark.fixed_rules import graphs as G

    monkeypatch.setattr(G, "AUTO_EXACT_MAX_NODES", 40)
    db = _db(spark)
    db.register_dataframe("cap_e", _chain_frame(spark, 300),
                          keys=["fr", "to"])
    d = [r for r in _explain_rows(
        db, "?[n, c] <~ BetweennessCentralityDist(*cap_e[], max_depth: 7)")
        if r["op"] == "planned_mode"][0]["detail"]
    assert "mode=sampled" in d and "accuracy_cap=max_depth:7" in d, d
    d2 = [r for r in _explain_rows(
        db, "?[n, c] <~ ClosenessCentralityDist(*cap_e[])")
        if r["op"] == "planned_mode"][0]["detail"]
    assert "accuracy_cap=max_iterations:64" in d2, d2


def test_explain_exact_mode_has_no_accuracy_cap(spark):
    db = _db(spark)
    db.register_dataframe("cap_e2", _chain_frame(spark, 30),
                          keys=["fr", "to"])
    d = [r for r in _explain_rows(
        db, "?[n, c] <~ BetweennessCentralityDist(*cap_e2[])")
        if r["op"] == "planned_mode"][0]["detail"]
    assert "mode=exact" in d and "accuracy_cap" not in d, d


def test_betweenness_truncation_hit_lands_in_run_info(spark, monkeypatch):
    from cozo_spark.fixed_rules import graphs as G

    monkeypatch.setattr(G, "AUTO_EXACT_MAX_NODES", 40)
    db = _db(spark)
    db.register_dataframe("cap_e3", _chain_frame(spark, 300),
                          keys=["fr", "to"])
    db.run_script(
        "?[n, c] <~ BetweennessCentralityDist(*cap_e3[], max_depth: 5)")
    info = db.last_fixed_rule_info()["BetweennessCentralityDist"]
    assert info["mode"] == "sampled"
    assert info["truncated"] is True, info
    assert info["depth_reached"] == 5 and info["max_depth"] == 5
    assert info["auto_extended"] is False


def test_betweenness_no_truncation_reports_false(spark, monkeypatch):
    from cozo_spark.fixed_rules import graphs as G

    monkeypatch.setattr(G, "AUTO_EXACT_MAX_NODES", 40)
    db = _db(spark)
    # star graph: diameter 2, far under the cap
    e = spark.range(300).select(F.lit(0).alias("fr"),
                               (F.col("id") + 1).alias("to"))
    db.register_dataframe("cap_e4", e, keys=["fr", "to"])
    db.run_script(
        "?[n, c] <~ BetweennessCentralityDist(*cap_e4[], undirected: true)")
    info = db.last_fixed_rule_info()["BetweennessCentralityDist"]
    assert info["mode"] == "sampled"
    assert info["truncated"] is False, info
    assert info["depth_reached"] <= 2


def test_closeness_sampled_cap_lands_in_run_info(spark, monkeypatch):
    from cozo_spark.fixed_rules import graphs as G

    monkeypatch.setattr(G, "AUTO_EXACT_MAX_NODES", 40)
    db = _db(spark)
    db.register_dataframe("cap_e5", _chain_frame(spark, 300),
                          keys=["fr", "to"])
    db.run_script(
        "?[n, c] <~ ClosenessCentralityDist(*cap_e5[], max_iterations: 4)")
    info = db.last_fixed_rule_info()["ClosenessCentralityDist"]
    assert info["mode"] == "sampled"
    assert info["truncated"] is True, info
    assert info["iterations"] == 4 and info["iteration_cap"] == 4


def test_closeness_exact_auto_extend_reported(spark):
    db = _db(spark)
    # exact mode on a chain longer than the iteration cap: the cap
    # auto-extends (never silently truncates) and says so in run info
    db.register_dataframe("cap_e6", _chain_frame(spark, 12),
                          keys=["fr", "to"])
    db.run_script(
        "?[n, c] <~ ClosenessCentralityDist(*cap_e6[], max_iterations: 4)")
    info = db.last_fixed_rule_info()["ClosenessCentralityDist"]
    assert info["mode"] == "exact"
    assert info["truncated"] is False, info
    assert info["auto_extended"] is True and info["iterations"] > 4

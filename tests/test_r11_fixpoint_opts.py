"""Round-11 optimization regressions: the fixpoint-family internals changed
(one observed action per epoch instead of checkpoint + separate convergence
job; static join sides materialized once; py4j literal arrays replaced by
parsed expressions). These tests pin the OUTPUTS of every touched loop on
shapes that need several epochs, so the fused convergence tests cannot stop
early or late without failing here.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


@pytest.fixture(scope="module")
def chain_edges(spark):
    # 0->1->2->...->9 plus a side branch and a disconnected pair: transitive
    # closure needs 9 epochs, components needs several label rounds
    edges = [(i, i + 1) for i in range(9)] + [(2, 20), (20, 21), (30, 31)]
    return spark.createDataFrame(edges, "src long, dst long")


def _py_closure(edges):
    reach = set(edges)
    while True:
        new = {(a, d) for (a, b) in reach for (c, d) in edges if b == c} - reach
        if not new:
            return reach
        reach |= new


def test_transitive_closure_deep_chain(spark, chain_edges):
    from cozo_spark.datalog.fixpoint import transitive_closure

    got = _rows(transitive_closure(chain_edges), "src", "dst")
    want = sorted(_py_closure([(r.src, r.dst) for r in chain_edges.collect()]))
    assert got == want


def test_bfs_reach_deep_chain(spark, chain_edges):
    from cozo_spark.fixed_rules.graphs import bfs_reach

    starts = spark.createDataFrame([(0,), (30,)], "n long")
    got = _rows(bfs_reach(chain_edges, starts), "start", "reached")
    closure = _py_closure([(r.src, r.dst) for r in chain_edges.collect()])
    want = sorted((s, d) for (s, d) in closure if s in (0, 30))
    assert got == want


@pytest.mark.parametrize("cap", [None, 0], ids=["default_cap", "cap0"])
def test_shortest_hops_converges_exactly(spark, chain_edges, monkeypatch, cap):
    from cozo_spark.fixed_rules.graphs import shortest_hops
    from tests.conftest import spy_hops_loop

    epochs = spy_hops_loop(monkeypatch, cap)
    got = _rows(shortest_hops(chain_edges, max_hops=50), "src", "dst", "hops")
    assert (not epochs) == (cap is None)

    # reference BFS driver-side
    from collections import deque

    edges = [(r.src, r.dst) for r in chain_edges.collect()]
    adj: dict = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    want = []
    srcs = {a for a, _ in edges}
    for s in srcs:
        dist = {}
        dq = deque([(s, 0)])
        while dq:
            n, d = dq.popleft()
            for m in adj.get(n, []):
                if m not in dist:
                    dist[m] = d + 1
                    dq.append((m, d + 1))
        want += [(s, m, d) for m, d in dist.items()]
    assert got == sorted(want)


def test_shortest_path_costs_unweighted(spark, chain_edges):
    from cozo_spark.fixed_rules.graphs import shortest_path_costs

    starts = spark.createDataFrame([(0,)], "n long")
    got = _rows(shortest_path_costs(chain_edges.select(
        "src", "dst", F.lit(1.0).alias("w")), starts), "start", "node", "cost")
    want = [(0, 0, 0.0)] + [(0, j, float(j)) for j in range(1, 10)] \
        + [(0, 20, 3.0), (0, 21, 4.0)]
    assert got == sorted(want)


def test_connected_components_multi(spark, chain_edges):
    from cozo_spark.fixed_rules.graphs import connected_components

    got = _rows(connected_components(chain_edges), "node", "component")
    comp_a = sorted({i for i in range(10)} | {20, 21})
    want = sorted([(n, 0) for n in comp_a] + [(30, 30), (31, 30)])
    assert got == want


def test_scc_cycle_plus_chain(spark):
    from cozo_spark.fixed_rules.graphs import strongly_connected_components

    edges = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3), (5, 6)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = _rows(strongly_connected_components(df), "node", "component")
    assert got == [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 5), (6, 6)]


def test_semi_naive_base_rows_matches_default(spark):
    from cozo_spark.datalog.fixpoint import (_checkpoint_count, semi_naive)

    e = spark.createDataFrame([(1, 2), (2, 3), (1, 2)], "src long, dst long")

    def mk_step(frame):
        def step(frontier):
            return (frontier.alias("r")
                    .join(frame.alias("e"), F.col("r.dst") == F.col("e.src"))
                    .select(F.col("r.src").alias("src"),
                            F.col("e.dst").alias("dst")))
        return step

    plain = semi_naive(e, mk_step(e))
    ck, n = _checkpoint_count(e.distinct())
    assert n == 2
    pre = semi_naive(ck, mk_step(ck), base_rows=n)
    assert _rows(plain, "src", "dst") == _rows(pre, "src", "dst")


def test_kmeans_expr_literals_match_join_path(spark):
    # the F.expr literal path (k <= KMEANS_LITERAL_MAX_K) must agree with
    # the broadcast-join argmin path on the same input
    import cozo_spark.operators.similarity as S

    data = [(i, [float((i * 7 + j * 3) % 11) for j in range(6)])
            for i in range(40)]
    df = spark.createDataFrame(data, "vec_id long, embedding array<double>")
    cents_lit, assign_lit = S.kmeans_lloyd(df, k=3, iters=2)
    old_max = S.KMEANS_LITERAL_MAX_K
    S.KMEANS_LITERAL_MAX_K = 0  # force the join path
    try:
        cents_join, assign_join = S.kmeans_lloyd(df, k=3, iters=2)
    finally:
        S.KMEANS_LITERAL_MAX_K = old_max
    assert cents_lit == cents_join
    assert _rows(assign_lit, "vec_id", "cid") == _rows(assign_join, "vec_id", "cid")


def test_keyword_topk_lazy_ndocs(spark):
    from cozo_spark.operators.text import keyword_topk

    docs = [(1, "alpha beta beta gamma"), (2, "alpha delta"),
            (3, "beta beta beta zeta"), (4, "epsilon")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = _rows(keyword_topk(df, k=2), "doc_id", "term", "score", "rank")
    # score = tf * (N / df_term), N=4: checked by hand
    by_doc = {}
    for d, t, s, r in got:
        by_doc.setdefault(d, []).append((t, s, r))
    assert by_doc[4] == [("epsilon", 4.0, 1)]
    assert sorted(by_doc[3]) == [("beta", 6.0, 1), ("zeta", 4.0, 2)]
    # doc 1: beta 2*4/2=4.0 ties gamma 1*4/1=4.0 — term breaks the tie
    assert sorted(by_doc[1], key=lambda x: x[2]) == [
        ("beta", 4.0, 1), ("gamma", 4.0, 2)]


def test_random_hyperplane_expr_planes(spark):
    from cozo_spark.operators.similarity import random_hyperplane_lsh_pairs

    import numpy as np

    rng = np.random.default_rng(7)
    base = rng.standard_normal(8)
    data = [(0, list(base)), (1, list(base * 1.01)),
            (2, list(-base)), (3, list(rng.standard_normal(8)))]
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in data],
        "vec_id long, embedding array<double>")
    pairs = _rows(random_hyperplane_lsh_pairs(df, n_bits=16, bands=4, dim=8),
                  "id_a", "id_b")
    # near-identical vectors must collide in at least one band
    assert (0, 1) in pairs


def test_recursive_static_ck_prunes_wide_columns(spark, monkeypatch):
    # a recursive clause reading a 2-ary prefix of a wide relation must
    # not change results when the unused wide column is pruned from the
    # once-per-fixpoint materialization. keys=["src","dst"] is what arms
    # the pruning: with default keys (= all columns) every column is a key
    # column and nothing can be dropped.
    import cozo_spark.datalog.engine as E
    import cozo_spark.datalog.fixpoint as FX
    from cozo_spark.datalog.engine import CozoDb

    # pinned to the Spark loop: a graph this small runs on the driver
    monkeypatch.setattr(FX, "LOCAL_FIXPOINT_MAX_ROWS", 0)

    db = CozoDb(spark)
    edges = spark.createDataFrame(
        [(i, i + 1, "x" * 1000) for i in range(6)],
        "src long, dst long, payload string")
    db.register_dataframe("edge", edges, keys=["src", "dst"])
    widths: list = []
    orig = E._checkpoint

    def spy(df, *a, **k):
        widths.append(tuple(df.columns))
        return orig(df, *a, **k)

    E._checkpoint = spy
    try:
        out = db.run_script_df("""
        reach[a, b] := *edge[a, b]
        reach[a, c] := reach[a, b], *edge[b, c]
        ?[src, dst] := reach[src, dst]
        """)
        got = _rows(out, "src", "dst")
    finally:
        E._checkpoint = orig
    want = sorted((i, j) for i in range(6) for j in range(i + 1, 7))
    assert got == want
    # the static materialization of *edge really dropped the payload column
    assert ("src", "dst") in widths
    assert not any("payload" in w for w in widths)


def test_recursive_static_ck_keeps_base_clause_width(spark):
    # base (epoch-0) clauses translate against the same static_ck overrides
    # as the recursive ones: a base clause reading MORE columns than the
    # recursive prefix must widen the materialization, not fail with
    # "too many arguments" against a pruned frame
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    edges = spark.createDataFrame(
        [(i, i + 1, f"p{i}") for i in range(4)],
        "src long, dst long, payload string")
    db.register_dataframe("edge", edges, keys=["src", "dst"])
    out = db.run_script_df("""
    reach[a, b, p] := *edge[a, b, p]
    reach[a, c, p] := reach[a, b, p], *edge[b, c]
    ?[a, b, p] := reach[a, b, p]
    """)
    got = _rows(out, "a", "b", "p")
    # payload travels with the path's first hop; closure over 0->1->2->3->4
    want = sorted((i, j, f"p{i}") for i in range(4) for j in range(i + 1, 5))
    assert got == want


def test_edges_memo_identity_and_rerun(spark, tmp_path):
    # the lazy _edges frame is memoized per (session, sf_dir): same object
    # across calls, distinct objects across dirs — and a memo hit must NOT
    # skip fixpoint re-execution (the memo caches a plan, never results)
    import cozo_spark.datalog.fixpoint as FX
    from cozo_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    e1 = Q._edges(spark, sf)
    e2 = Q._edges(spark, sf)
    assert e1 is e2
    sf2 = "/root/testdata/sf0.01"
    assert Q._edges(spark, sf2) is not e1

    calls = []
    orig = FX._checkpoint

    def spy(df):
        calls.append(1)
        return orig(df)

    FX._checkpoint = spy
    try:
        a = _rows(Q.QUERIES["graph_reachability"](spark, sf), "src", "dst")
        n_first = len(calls)
        calls.clear()
        b = _rows(Q.QUERIES["graph_reachability"](spark, sf), "src", "dst")
        n_second = len(calls)
    finally:
        FX._checkpoint = orig
    assert a == b
    # the second (memo-hit) call re-ran every materialization action
    assert n_first >= 2
    assert n_second == n_first


def test_degree_centrality_plan_cache(spark):
    # DegreeCentrality is lazy + deterministic, so the compiled-plan cache
    # may serve its plan across CozoDb instances holding the SAME frames —
    # and a hit returns a lazy plan (actions still recompute), never stale
    # results for different frames
    from cozo_spark.datalog.engine import CozoDb

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2)], "src long, dst long")
    script = ("?[node, total_degree, out_degree, in_degree]"
              " <~ DegreeCentrality(*edge[])")

    db1 = CozoDb(spark)
    db1.register_dataframe("edge", edges)
    out1 = db1.run_script_df(script)
    db2 = CozoDb(spark)
    db2.register_dataframe("edge", edges)
    out2 = db2.run_script_df(script)
    assert out2 is out1  # plan served from the compiled-plan cache
    want = [(0, 2, 2, 0), (1, 2, 1, 1), (2, 2, 0, 2)]
    assert _rows(out1, "node", "total_degree", "out_degree", "in_degree") == want

    # different frame identity -> no hit, correct fresh results
    edges3 = spark.createDataFrame([(5, 6)], "src long, dst long")
    db3 = CozoDb(spark)
    db3.register_dataframe("edge", edges3)
    out3 = db3.run_script_df(script)
    assert out3 is not out1
    assert _rows(out3, "node", "total_degree") == [(5, 1), (6, 1)]


def test_meet_merge_fused_single_action(spark):
    # min-meet recursion: each meet epoch is ONE checkpoint action (the
    # changed flag rides the merge aggregation), and multi-epoch results
    # are unchanged
    import cozo_spark.datalog.fixpoint as FX
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    edges = spark.createDataFrame(
        [(i, i + 1, 1.0) for i in range(6)] + [(0, 3, 10.0)],
        "src long, dst long, w double")
    db.register_dataframe("edge", edges, keys=["src", "dst"])

    calls = []
    orig = FX._checkpoint

    def spy(df):
        calls.append(1)
        return orig(df)

    FX._checkpoint = spy
    try:
        out = db.run_script_df("""
        sp[a, b, min(c)] := *edge[a, b, c]
        sp[a, c, min(d)] := sp[a, b, d1], *edge[b, c, w], d = d1 + w
        ?[a, b, d] := sp[a, b, d]
        """)
        got = _rows(out, "a", "b", "d")
        n_actions = len(calls)
    finally:
        FX._checkpoint = orig
    # chain 0..6 + shortcut 0->3 (cost 10, never better than 3 hops of 1.0)
    want = sorted((i, j, float(j - i)) for i in range(6)
                  for j in range(i + 1, 7))
    assert got == want
    # 6 hops => >= 6 meet epochs; the two-action shape would need ~2x —
    # bound it: static edge ckpt + base + one per epoch (+ slack 2)
    assert n_actions <= 6 + 4


def test_meet_merge_fallback_non_null_skipping(spark):
    # shortest (min_by over a struct) cannot ride the fused old-value
    # aggregate — it must take the anti-join path and stay correct
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2)], "src long, dst long")
    db.register_dataframe("edge", edges, keys=["src", "dst"])
    out = db.run_script_df("""
    p[a, b, shortest(pt)] := *edge[a, b], pt = [a, b]
    p[a, c, shortest(pt)] := p[a, b, p1], *edge[b, c], pt = concat(p1, [c])
    ?[a, b, pt] := p[a, b, pt]
    """)
    got = _rows(out, "a", "b", "pt")
    assert (0, 2, [0, 2]) in got   # the direct edge beats 0->1->2
    assert (0, 1, [0, 1]) in got and (1, 2, [1, 2]) in got


def test_label_propagation_early_exit(spark):
    # a converged LPA stops early: remaining rounds are provable no-ops
    import cozo_spark.datalog.fixpoint as FX
    from cozo_spark.fixed_rules.graphs import label_propagation

    # directed star into 0: with the sync self-vote, every node adopts
    # label 0 in round 1 and round 2 proves the fixpoint
    edges = spark.createDataFrame(
        [(1, 0), (2, 0)], "src long, dst long")
    calls = []
    orig = FX._checkpoint

    def spy(df):
        calls.append(1)
        return orig(df)

    FX._checkpoint = spy
    try:
        out = sorted(tuple(r) for r in
                     label_propagation(edges, iterations=10,
                                       undirected=False).collect())
    finally:
        FX._checkpoint = orig
    assert out == [(0, 0), (0, 1), (0, 2)]
    # far fewer than 10 round-checkpoints ran (2 setup + 2 rounds)
    assert len(calls) <= 6


def test_epoch0_reuses_static_checkpoint(spark, monkeypatch):
    # r11 session 8: when the base clause is a pure projection of an
    # already-materialized static input (the canonical TC shape with
    # TRUSTED keys eliding the set-semantics dedup), epoch 0 must reuse
    # the static checkpoint's blocks and observed count instead of
    # re-materializing identical data — one driver action saved per
    # fixpoint call. The chain needs 9 epochs, so action counts are:
    # 1 static + 9 delta epochs + 1 empty epoch = 11 (was 12).
    import cozo_spark.datalog.engine as E
    import cozo_spark.datalog.fixpoint as FX
    from cozo_spark.datalog.engine import CozoDb

    # pinned to the Spark loop: a graph this small runs on the driver
    monkeypatch.setattr(FX, "LOCAL_FIXPOINT_MAX_ROWS", 0)
    edges = [(i, i + 1) for i in range(9)] + [(2, 20), (20, 21), (30, 31)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    calls = [0]
    orig_e, orig_f = E._checkpoint, FX._checkpoint

    def spy(df, *a, **k):
        calls[0] += 1
        return orig_f(df, *a, **k)

    E._checkpoint = spy
    FX._checkpoint = spy
    try:
        db = CozoDb(spark)
        db.register_dataframe("edge", edf, keys=["src", "dst"])
        calls[0] = 0
        out = db.run_script_df("""
        reach[a, b] := *edge[a, b]
        reach[a, c] := reach[a, b], *edge[b, c]
        ?[src, dst] := reach[src, dst]
        """)
        got = _rows(out, "src", "dst")
        n_trusted = calls[0]

        # UNTRUSTED registration (possible duplicates): the base clause
        # plan carries a Deduplicate, so the reuse must NOT fire and the
        # base must still materialize+count on its own action.
        db2 = CozoDb(spark)
        db2.register_dataframe("edge", edf)  # no keys: dedup required
        calls[0] = 0
        out2 = db2.run_script_df("""
        reach[a, b] := *edge[a, b]
        reach[a, c] := reach[a, b], *edge[b, c]
        ?[src, dst] := reach[src, dst]
        """)
        got2 = _rows(out2, "src", "dst")
        n_untrusted = calls[0]
    finally:
        E._checkpoint = orig_e
        FX._checkpoint = orig_f

    want = sorted(_py_closure(edges))
    assert got == want and got2 == want
    assert n_untrusted == n_trusted + 1  # exactly the base action saved
    # ~1 static ck + one per growing epoch + 1 empty; a small band instead
    # of an exact count so unrelated cadence changes (e.g. the periodic
    # re-checkpoint threshold) don't break this pin (ADVICE r11)
    assert 10 <= n_trusted <= 14, n_trusted


def test_epoch0_reuse_rejects_filtered_base(spark):
    # a restricted base clause changes the row set: reuse must not fire
    # and results must match the semantics (filter applies to the BASE
    # only; recursion still extends through every edge).
    from cozo_spark.datalog.engine import CozoDb

    edges = [(i, i + 1) for i in range(6)]
    edf = spark.createDataFrame(edges, "src long, dst long")
    db = CozoDb(spark)
    db.register_dataframe("edge", edf, keys=["src", "dst"])
    out = db.run_script_df("""
    reach[a, b] := *edge[a, b], a >= 2
    reach[a, c] := reach[a, b], *edge[b, c]
    ?[src, dst] := reach[src, dst]
    """)
    got = _rows(out, "src", "dst")
    base = [(a, b) for (a, b) in edges if a >= 2]
    reach = set(base)
    while True:
        new = {(a, d) for (a, b) in reach for (c, d) in edges if b == c} - reach
        if not new:
            break
        reach |= new
    assert got == sorted(reach)

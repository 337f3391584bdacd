"""Randomized end-to-end engine checks: the Datalog fixpoint and the
distributed graph rules vs brute-force Python implementations on seeded
random graphs. Complements the fixed golden-graph tests with shapes nobody
hand-picked."""

from __future__ import annotations

import random

import pytest


def _random_graph(seed: int, n: int = 18, p: float = 0.12):
    rnd = random.Random(seed)
    edges = sorted({(a, b) for a in range(n) for b in range(n)
                    if a != b and rnd.random() < p})
    return edges


def _py_closure(edges):
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    out = set()
    for s in {a for a, _ in edges} | {b for _, b in edges}:
        seen, stack = set(), [s]
        while stack:
            u = stack.pop()
            for v in adj.get(u, ()):
                if v not in seen:
                    seen.add(v)
                    stack.append(v)
        out |= {(s, t) for t in seen}
    return out


def _py_hops(edges):
    # min path length >= 1 — includes (s, s) when a cycle returns, matching
    # the relational closure the engine (and its SQL oracle) computes
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
    out = {}
    for s in {a for a, _ in edges} | {b for _, b in edges}:
        dist = {}
        cur = set(adj.get(s, ()))
        d = 1
        while cur:
            nxt = set()
            for v in cur:
                if v not in dist:
                    dist[v] = d
                    nxt |= adj.get(v, set())
            cur = {v for v in nxt if v not in dist}
            d += 1
        for t, dd in dist.items():
            out[(s, t)] = dd
    return out


@pytest.mark.parametrize("seed", [7, 42, 1001])
def test_fuzz_transitive_closure(spark, seed):
    from cozo_spark.datalog.engine import CozoDb

    edges = _random_graph(seed)
    db = CozoDb(spark)
    db.register_dataframe("e", spark.createDataFrame(edges, "src long, dst long"))
    r = db.run_script("""
    reach[a, b] := *e[a, b]
    reach[a, c] := reach[a, b], *e[b, c]
    ?[a, b] := reach[a, b]
    """)
    assert sorted(tuple(x) for x in r.rows) == sorted(_py_closure(edges))


@pytest.mark.parametrize("cap", [None, 0], ids=["default_cap", "cap0"])
@pytest.mark.parametrize("seed", [3, 99])
def test_fuzz_shortest_hops(spark, seed, cap, monkeypatch):
    """Each seed runs at the default driver-side fixpoint cap (the local
    loop) and at cap 0 (the Spark loop)."""
    from cozo_spark.fixed_rules.graphs import shortest_hops
    from tests.conftest import spy_hops_loop

    edges = _random_graph(seed)
    epochs = spy_hops_loop(monkeypatch, cap)
    got = {(r["src"], r["dst"]): r["hops"]
           for r in shortest_hops(
               spark.createDataFrame(edges, "src long, dst long")).collect()}
    assert got == _py_hops(edges)
    assert (not epochs) == (cap is None)


@pytest.mark.parametrize("seed", [5, 77])
def test_fuzz_scc_vs_python(spark, seed):
    from cozo_spark.fixed_rules.graphs import strongly_connected_components

    edges = _random_graph(seed, n=14, p=0.15)
    if not edges:
        pytest.skip("empty random graph")
    comp = {r["node"]: r["component"]
            for r in strongly_connected_components(
                spark.createDataFrame(edges, "src long, dst long")).collect()}
    # python reference: u,v in same SCC iff mutually reachable
    clo = _py_closure(edges)
    nodes = {a for a, _ in edges} | {b for _, b in edges}
    assert set(comp) == nodes
    for u in nodes:
        for v in nodes:
            same = comp[u] == comp[v]
            mutual = u == v or ((u, v) in clo and (v, u) in clo)
            assert same == mutual, (u, v, same, mutual)


@pytest.mark.parametrize("seed", [11, 23])
def test_fuzz_variable_seeded_closure(spark, seed):
    """Seeded reachability through the engine (variable-seed magic rewrite
    fires) vs brute-force closure on random graphs — and identical with the
    rewrite disabled."""
    from cozo_spark.datalog.engine import CozoDb

    edges = _random_graph(seed)
    closure = _py_closure(edges)
    rnd = random.Random(seed * 7)
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    seeds = sorted(rnd.sample(nodes, min(3, len(nodes))))
    want = sorted((s, t) for (s, t) in closure if s in seeds)

    d = CozoDb(spark)
    d.register_dataframe(
        "fe", spark.createDataFrame(edges, "src long, dst long"),
        keys=["src", "dst"])
    d.register_dataframe(
        "fs", spark.createDataFrame([(s,) for s in seeds], "s long"),
        keys=["s"])
    script = """
    reach[a, b] := *fe[a, b]
    reach[a, c] := reach[a, b], *fe[b, c]
    ?[s, t] := *fs[s], reach[s, t]
    """
    got = sorted(tuple(r) for r in d.run_script(script).rows)
    assert got == want
    got2 = sorted(tuple(r) for r in d.run_script(
        script + "\n:disable_magic_rewrite true").rows)
    assert got2 == want

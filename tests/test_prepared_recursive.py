"""$param scripts that reach recursion, and other shapes the hoisted
skeleton refuses.

A param that seeds a recursion (`?[b] := reach[$start, b]`) cannot be
hoisted: the skeleton would compute the unrestricted closure and filter
it. Such a script makes one skeleton build attempt, caches an
`("ineligible", key)` marker, and from then on runs the ordinary path:
the per-call parse carries the value, so the magic-set rewrite
(magic.rs:55-642 parity) restricts the fixpoint to the bound seed.

Pinned here:
- identical results vs literal inlining across seed values;
- one build attempt, an ineligible marker, no rebuild on later calls;
- the magic restriction actually fires on the bound program (fixpoint
  deltas stay seed-sized — no unrestricted closure);
- aggregation-head and meet-aggregation consumers of the recursion.
"""

from __future__ import annotations

import random

import pytest

from tests.conftest import assert_ineligible_once, spy_skeleton_builds


def _edges(spark, n=400, fan=7):
    import pyspark.sql.functions as F

    return spark.range(n).select(
        (F.col("id") % n).alias("fr"),
        ((F.col("id") * fan + 1) % n).alias("to"))


def _db(spark):
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.register_dataframe("edge", _edges(spark), keys=["fr", "to"])
    return db


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _literal(db, script, params):
    s = script
    for k, v in params.items():
        s = s.replace(f"${k}", repr(v) if isinstance(v, str) else str(v))
    return _rows(db.run_script_df(s))


REACH = """
reach[a, b] := *edge{fr: a, to: b}
reach[a, c] := reach[a, b], *edge{fr: b, to: c}
?[b] := reach[$start, b]
"""


def test_recursive_seed_param_matches_literal(spark, monkeypatch):
    db = _db(spark)
    builds = spy_skeleton_builds(monkeypatch)
    for seed in (1, 17, 123, 399):
        got = _rows(db.run_script_df(REACH, {"start": seed}))
        assert got == _literal(db, REACH, {"start": seed})
        assert got, "seeded closure should be non-empty on this graph"
    assert_ineligible_once(db, builds, REACH, {"start": 1})


def test_magic_restriction_fires_on_bound_program(spark):
    """The point of refusing the flat skeleton: the seed must
    restrict the fixpoint (deltas stay O(reachable-from-seed)), not
    compute the full closure and filter. Chain graph: unrestricted
    closure is ~n²/2 rows; the seeded tail is < n."""
    import pyspark.sql.functions as F

    from cozo_spark.datalog.engine import CozoDb
    import cozo_spark.datalog.fixpoint as FP

    db = CozoDb(spark)
    n = 1000
    chain = spark.range(n - 1).select(
        F.col("id").alias("fr"), (F.col("id") + 1).alias("to"))
    db.register_dataframe("edge", chain, keys=["fr", "to"])
    counts = []
    orig = FP._checkpoint_count

    def spy(df):
        out, m = orig(df)
        counts.append(m)
        return out, m

    FP._checkpoint_count = spy
    try:
        got = _rows(db.run_script_df(
            REACH + ":limit 5", {"start": n - 10}))
    finally:
        FP._checkpoint_count = orig
    assert got == [(n - 9,), (n - 8,), (n - 7,), (n - 6,), (n - 5,)]
    assert counts and max(counts) < 50, \
        f"unrestricted closure leaked into the prepared path: {counts}"


def test_agg_head_entry_over_recursion(spark, monkeypatch):
    db = _db(spark)
    builds = spy_skeleton_builds(monkeypatch)
    s = """
    reach[a, b] := *edge{fr: a, to: b}
    reach[a, c] := reach[a, b], *edge{fr: b, to: c}
    ?[count(b)] := reach[$start, b]
    """
    for seed in (3, 77, 250):
        assert _rows(db.run_script_df(s, {"start": seed})) == \
            _literal(db, s, {"start": seed})
    assert_ineligible_once(db, builds, s, {"start": 3})


def test_meet_aggregation_recursion_with_seed_param(spark):
    """shortest-hops shape: min() meet inside the recursion, param seed.
    The meet rule's clauses have HeadAggr heads; the per-epoch meet merge
    must see the seeded base."""
    db = _db(spark)
    s = """
    sp[a, b, min(d)] := *edge{fr: a, to: b}, d = 1
    sp[a, c, min(d)] := sp[a, b, d0], *edge{fr: b, to: c}, d = d0 + 1, d < 6
    ?[b, d] := sp[$start, b, d]
    """
    for seed in (5, 50):
        assert _rows(db.run_script_df(s, {"start": seed})) == \
            _literal(db, s, {"start": seed})


def test_negation_over_recursion_with_seed(spark):
    db = _db(spark)
    s = """
    reach[a, b] := *edge{fr: a, to: b}
    reach[a, c] := reach[a, b], *edge{fr: b, to: c}
    ?[x] := *edge{fr: x}, x < $hi, not reach[$start, x]
    """
    for sd, hi in ((1, 30), (9, 15)):
        assert _rows(db.run_script_df(s, {"start": sd, "hi": hi})) == \
            _literal(db, s, {"start": sd, "hi": hi})


def test_param_in_recursive_clause_still_correct(spark):
    """A param inside the RECURSIVE clause can't be pre-translated (the
    clause re-translates per epoch against the delta) — binding must
    still produce literal-identical results."""
    db = _db(spark)
    s = """
    reach[a, b] := *edge{fr: a, to: b}
    reach[a, c] := reach[a, b], *edge{fr: b, to: c}, c < $cap
    ?[b] := reach[$start, b]
    """
    for sd, cap in ((2, 200), (2, 50), (111, 300)):
        assert _rows(db.run_script_df(s, {"start": sd, "cap": cap})) == \
            _literal(db, s, {"start": sd, "cap": cap})


def test_prepared_limit_with_recursion(spark):
    """`:limit $n` + recursion: the per-call parse carries the bound
    limit, so the fixpoint early-exit sees the real value."""
    db = _db(spark)
    s = REACH + "\n:limit $n"
    for sd, n in ((1, 3), (1, 7), (42, 2)):
        got = _rows(db.run_script_df(s, {"start": sd, "n": n}))
        assert len(got) == min(
            n, len(_literal(db, REACH, {"start": sd})))


def test_multi_clause_entry_with_recursion_is_ineligible(spark, monkeypatch):
    """A disjunctive (multi-clause) entry over a recursion refuses the
    skeleton and evaluates in full per call."""
    db = _db(spark)
    builds = spy_skeleton_builds(monkeypatch)
    s = """
    reach[a, b] := *edge{fr: a, to: b}
    reach[a, c] := reach[a, b], *edge{fr: b, to: c}
    ?[b] := reach[$start, b]
    ?[b] := *edge{fr: $start, to: b}, b > $hi
    """
    for sd, hi in ((1, 100), (17, 0), (1, 399)):
        assert _rows(db.run_script_df(s, {"start": sd, "hi": hi})) == \
            _literal(db, s, {"start": sd, "hi": hi})
    assert_ineligible_once(db, builds, s, {"start": 1, "hi": 100})


def test_mutual_recursion_seed_param_matches_literal(spark, monkeypatch):
    """A seed param into a multi-rule SCC: the magic rewrite restricts
    every member."""
    db = _db(spark)
    builds = spy_skeleton_builds(monkeypatch)
    s = """
    even[a, b] := *edge{fr: a, to: b}
    even[a, c] := odd[a, b], *edge{fr: b, to: c}
    odd[a, b] := *edge{fr: a, to: b}, b % 2 == 1
    odd[a, c] := even[a, b], *edge{fr: b, to: c}, c % 2 == 1
    ?[b] := even[$start, b]
    """
    for sd in (4, 40, 141):
        assert _rows(db.run_script_df(s, {"start": sd})) == \
            _literal(db, s, {"start": sd})
    assert_ineligible_once(db, builds, s, {"start": 4})


def test_param_free_support_rule_feeding_recursion(spark, monkeypatch):
    """A param-free support rule restricts the recursion's base clause and
    the seed param binds the recursion: odd seeds reach nodes, even seeds
    reach none, and every seed matches the literal run."""
    db = _db(spark)
    builds = spy_skeleton_builds(monkeypatch)
    s = """
    odd[x] := *edge{fr: x}, x % 2 == 1
    r[a, b] := *edge{fr: a, to: b}, odd[a]
    r[a, c] := r[a, b], *edge{fr: b, to: c}
    ?[c] := r[$s, c]
    """
    got = {}
    for sd in (11, 33, 12):
        got[sd] = _rows(db.run_script_df(s, {"s": sd}))
        assert got[sd] == _literal(db, s, {"s": sd}), sd
    assert got[11] and got[33] and got[12] == []
    assert_ineligible_once(db, builds, s, {"s": 11})


def test_negated_param_rule_is_ineligible(spark, monkeypatch):
    """Shapes the flat skeleton refuses (a param-carrying rule applied
    under negation) run the ordinary path after one build attempt; a
    non-recursive one evaluates lazily, so its plan lands in the per-value
    plan cache."""
    db = _db(spark)
    builds = spy_skeleton_builds(monkeypatch)
    s = """
    sup[x] := *edge{fr: x, to: y}, y > 0
    bad[x] := *edge{fr: x, to: $t}
    ?[x] := sup[x], x < $hi, not bad[x]
    """
    for t, hi in ((1, 40), (7, 25), (1, 10)):
        assert _rows(db.run_script_df(s, {"t": t, "hi": hi})) == \
            _literal(db, s, {"t": t, "hi": hi})
    assert_ineligible_once(db, builds, s, {"t": 1, "hi": 40})


def test_agg_argument_param_is_ineligible(spark, monkeypatch):
    """A param as an AGGREGATION argument (collect(x, $n)) is not
    hoisted; each call evaluates in full."""
    db = _db(spark)
    builds = spy_skeleton_builds(monkeypatch)
    s = """
    sup[x] := *edge{fr: x}
    ?[collect(x, $n)] := sup[x], x < 10
    """
    for n in (3, 5, 1):
        got = db.run_script_df(s, {"n": n}).collect()
        assert len(got) == 1 and len(got[0][0]) == n
    assert_ineligible_once(db, builds, s, {"n": 3})


def test_multiclause_nonrecursive_entry_is_ineligible(spark, monkeypatch):
    db = _db(spark)
    builds = spy_skeleton_builds(monkeypatch)
    s = """
    sup[x, y] := *edge{fr: x, to: y}
    ?[x] := sup[x, y], y = $a
    ?[x] := sup[x, y], y = $b, x < 100
    """
    for a, b in ((3, 9), (1, 1), (250, 7)):
        assert _rows(db.run_script_df(s, {"a": a, "b": b})) == \
            _literal(db, s, {"a": a, "b": b})
    assert_ineligible_once(db, builds, s, {"a": 3, "b": 9})


def test_recursive_param_sees_mutation(spark):
    """A write to the relation a recursion reads must reach the next
    call with the same or another value: the ineligible marker holds no
    plan, and the per-value plan cache is stamped by the relation."""
    db = _db(spark)
    db.run_script("?[fr, to] <- [[9000, 9001]] :create medge {fr => to}")
    s = """
    reach[a, b] := *medge{fr: a, to: b}
    reach[a, c] := reach[a, b], *medge{fr: b, to: c}
    ?[b] := reach[$s, b]
    """
    assert _rows(db.run_script_df(s, {"s": 9000})) == [(9001,)]
    db.run_script("?[fr, to] <- [[9001, 9002]] :put medge {fr => to}")
    assert _rows(db.run_script_df(s, {"s": 9000})) == [(9001,), (9002,)], \
        "a prepared call served a stale pre-mutation plan"


@pytest.mark.parametrize("cap", [None, 0], ids=["default_cap", "cap0"])
@pytest.mark.parametrize("seed", range(12))
def test_fuzz_recursive_prepared(spark, seed, cap, monkeypatch):
    """Differential fuzz over recursive shapes with params in every
    bindable spot: entry seed, support-rule filters, recursive-clause
    conditions, entry-side filters, prepared :limit. Each seed runs at the
    default driver-side fixpoint cap and at cap 0 (the Spark loop)."""
    import cozo_spark.datalog.fixpoint as FP

    if cap is not None:
        monkeypatch.setattr(FP, "LOCAL_FIXPOINT_MAX_ROWS", cap)
    db = _db(spark)
    rnd = random.Random(1000 + seed)
    params = {}

    def p(val):
        name = f"p{len(params)}"
        params[name] = val
        return f"${name}"

    lines = []
    base_cond = f", a < {p(rnd.randrange(100, 400))}" \
        if rnd.random() < 0.4 else ""
    if rnd.random() < 0.4:
        lines.append(f"sup[a, b] := *edge{{fr: a, to: b}}, "
                     f"b > {p(rnd.randrange(0, 50))}")
        base = "sup[a, b]"
    else:
        base = "*edge{fr: a, to: b}"
    lines.append(f"reach[a, b] := {base}{base_cond}")
    rec_cond = f", c < {p(rnd.randrange(50, 400))}" \
        if rnd.random() < 0.4 else ""
    lines.append(f"reach[a, c] := reach[a, b], *edge{{fr: b, to: c}}{rec_cond}")
    seed_arg = p(rnd.randrange(0, 400))
    if rnd.random() < 0.3:
        lines.append(f"?[count(b)] := reach[{seed_arg}, b]")
    else:
        extra = f", b != {p(-1)}" if rnd.random() < 0.4 else ""
        lines.append(f"?[b] := reach[{seed_arg}, b]{extra}")
        if rnd.random() < 0.35:
            lines.append(f":sort b\n:limit {p(rnd.randrange(2, 20))}")
    script = "\n".join(lines)
    got = _rows(db.run_script_df(script, dict(params)))
    want = _literal(db, script, params)
    assert got == want, f"seed={seed}\n{script}\n{params}"
    # second value set runs behind the cached ineligible marker
    params2 = {k: v + 1 for k, v in params.items()}
    got2 = _rows(db.run_script_df(script, dict(params2)))
    assert got2 == _literal(db, script, params2), \
        f"seed={seed} (2nd values)\n{script}\n{params2}"


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
def test_recursive_param_not_prepared(spark, script, monkeypatch):
    """Params touching a recursive rule must NOT build a flat plan
    skeleton (it would compute the unrestricted full closure per call):
    one build attempt leaves the ineligible marker, and results still
    match the literal-inlined run."""
    db = _edge_db(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    builds = spy_skeleton_builds(monkeypatch)
    got = _rows(db.run_script_df(script, params={"s": 1}))
    want = _rows(db.run_script_df(script.replace("$s", "1")))
    assert got == want == [(2,), (3,), (4,)]
    assert_ineligible_once(db, builds, script, {"s": 1})


def test_recursive_param_neg_cached_structurally(spark):
    """The ineligible marker is structural: later calls skip a fresh
    skeleton-build attempt."""
    from cozo_spark.datalog.engine import CozoDb

    db = _edge_db(spark, [(1, 2), (2, 3)])
    _rows(db.run_script_df(RECURSIVE_PARAM_ARG, params={"s": 1}))
    skey = db._skel_key(RECURSIVE_PARAM_ARG, {"s": 1})
    assert CozoDb._skel_cache.get(skey) is None
    assert CozoDb._skel_cache.get(("ineligible", skey), {}).get("ineligible")

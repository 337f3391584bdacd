"""Prepared statements for recursion-seeding params (r10, VERDICT r9 #2).

A param that seeds a recursion (`?[b] := reach[$start, b]`) previously
refused the skeleton and re-translated per call. The recursive TEMPLATE
(engine._build_recursive_template) caches every param-free clause
translation — support rules and the recursive rule's BASE clauses — and
binds by swapping them into the per-call parse, so the ordinary
magic-set rewrite (magic.rs:55-642 parity) restricts the fixpoint to the
bound seed on top of the cached lazy base plans.

Pinned here:
- bit-identical results vs literal inlining across seed values;
- cache-hit discipline: ONE template build, binds thereafter;
- the magic restriction actually fires on the bound program (fixpoint
  deltas stay seed-sized — no unrestricted closure);
- support-rule drops + base-clause replacements recorded in the entry;
- bind beats full re-translation on plan-construction time;
- aggregation-head and meet-aggregation consumers of the recursion.
"""

from __future__ import annotations

import random

import pytest


def _edges(spark, n=400, fan=7):
    import pyspark.sql.functions as F

    return spark.range(2 * n).select(
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


def _spy_builds(monkeypatch):
    from cozo_spark.datalog.engine import CozoDb

    builds = []
    orig = CozoDb._build_skeleton

    def spy(self, script, params):
        r = orig(self, script, params)
        builds.append(r)
        return r

    monkeypatch.setattr(CozoDb, "_build_skeleton", spy)
    return builds


def test_recursive_seed_param_matches_literal(spark, monkeypatch):
    db = _db(spark)
    builds = _spy_builds(monkeypatch)
    for seed in (1, 17, 123, 399):
        got = _rows(db.run_script_df(REACH, {"start": seed}))
        assert got == _literal(db, REACH, {"start": seed})
        assert got, "seeded closure should be non-empty on this graph"
    assert len(builds) == 1, "one template build; later calls bind"
    assert builds[0].get("template") is True


def test_magic_restriction_fires_on_bound_program(spark):
    """The point of the template over a flat skeleton: the seed must
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


def test_template_records_drops_and_replacements(spark):
    from cozo_spark.datalog.engine import CozoDb

    db = _db(spark)
    s = """
    odd[x] := *edge{fr: x}, x % 2 == 1
    r[a, b] := *edge{fr: a, to: b}, odd[a]
    r[a, c] := r[a, b], *edge{fr: b, to: c}
    ?[c] := r[$s, c]
    """
    for sd in (11, 33):
        assert _rows(db.run_script_df(s, {"s": sd})) == \
            _literal(db, s, {"s": sd})
    ent = CozoDb._skel_cache.get(db._skel_key(s, {"s": 11}))
    assert ent is not None and ent.get("template")
    assert [d["name"] for d in ent["drops"]] == ["odd"], \
        "param-free support rule should be dropped into a cached store"
    assert [(p["name"], p["idx"]) for p in ent["repls"]] == [("r", 0)], \
        "the recursive rule's base clause should be replaced"


def test_agg_head_entry_over_recursion(spark, monkeypatch):
    db = _db(spark)
    builds = _spy_builds(monkeypatch)
    s = """
    reach[a, b] := *edge{fr: a, to: b}
    reach[a, c] := reach[a, b], *edge{fr: b, to: c}
    ?[count(b)] := reach[$start, b]
    """
    for seed in (3, 77):
        assert _rows(db.run_script_df(s, {"start": seed})) == \
            _literal(db, s, {"start": seed})
    assert len(builds) == 1 and builds[0].get("template")


def test_meet_aggregation_recursion_with_seed_param(spark):
    """shortest-hops shape: min() meet inside the recursion, param seed.
    The meet rule's clauses have HeadAggr heads (never replaced); support
    translation caching must not disturb the per-epoch meet merge."""
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


def test_prepared_limit_with_recursion(spark, monkeypatch):
    """`:limit $n` + recursion: the per-call parse carries the bound
    limit, so the fixpoint early-exit sees the real value."""
    import cozo_spark.datalog.fixpoint as FP

    # pinned to the Spark loop, which the early exit always takes: _edges
    # holds every edge twice under a declared key, and the Spark loop keeps
    # such duplicates where the driver-side loop (the literal run without
    # :limit) returns a set
    monkeypatch.setattr(FP, "LOCAL_FIXPOINT_MAX_ROWS", 0)
    db = _db(spark)
    s = REACH + "\n:limit $n"
    for sd, n in ((1, 3), (1, 7), (42, 2)):
        got = _rows(db.run_script_df(s, {"start": sd, "n": n}))
        assert len(got) == min(
            n, len(_literal(db, REACH, {"start": sd})))


def test_bind_beats_retranslation(spark, monkeypatch):
    """Plan-construction savings, measured DETERMINISTICALLY: a template
    bind must run strictly fewer ClauseTranslator.translate calls than
    the literal re-translation (the dropped support rules and replaced
    base clauses are served from cached stores; the wrapper clause's
    trivial re-projection doesn't count extra — it replaces the original
    clause's translation 1:1, and dropped rules vanish entirely).
    Wall-clock comparison is deliberately avoided: both paths run the
    same seeded fixpoint jobs, and host noise (±2 s on this box) dwarfs
    the ~0.1-0.3 s plan-construction delta."""
    from cozo_spark.datalog.translate import ClauseTranslator

    db = _db(spark)
    s = """
    e1[a, b] := *edge{fr: a, to: b}, b % 2 == 0
    e2[a, b] := *edge{fr: a, to: b}, b % 2 == 1
    good[a, b] := e1[a, b]
    good[a, b] := e2[a, b], a % 3 == 0
    reach[a, b] := good[a, b]
    reach[a, c] := reach[a, b], good[b, c]
    ?[b] := reach[$start, b]
    """
    db.run_script_df(s, {"start": 1})  # build once (template cached)

    counts = []
    orig = ClauseTranslator.translate

    def counting(self, *a, **k):
        counts.append(1)
        return orig(self, *a, **k)

    monkeypatch.setattr(ClauseTranslator, "translate", counting)
    db.run_script_df(s, {"start": 2})
    bind_n = len(counts)
    counts.clear()
    db.run_script_df(s.replace("$start", "2"))
    full_n = len(counts)
    assert 0 < bind_n < full_n, \
        f"bind ran {bind_n} translations vs {full_n} for re-translation"
    # the 4 support-rule clauses (e1, e2, good x2) vanish entirely; the
    # replaced base clause trades its translation for the wrapper's
    # trivial one — so at least 4 fewer translations per call
    assert full_n - bind_n >= 4, (bind_n, full_n)


def test_multi_clause_entry_with_recursion_prepares(spark, monkeypatch):
    """A disjunctive (multi-clause) entry refuses the FLAT skeleton but
    the recursive template handles it: bind is a full evaluation."""
    db = _db(spark)
    builds = _spy_builds(monkeypatch)
    s = """
    reach[a, b] := *edge{fr: a, to: b}
    reach[a, c] := reach[a, b], *edge{fr: b, to: c}
    ?[b] := reach[$start, b]
    ?[b] := *edge{fr: $start, to: b}, b > $hi
    """
    for sd, hi in ((1, 100), (17, 0), (1, 399)):
        assert _rows(db.run_script_df(s, {"start": sd, "hi": hi})) == \
            _literal(db, s, {"start": sd, "hi": hi})
    assert len(builds) == 1 and builds[0].get("template")


def test_mutual_recursion_caches_every_member_base(spark):
    """r10 review: a multi-rule SCC must cache base clauses of EVERY
    member (next(iter(scc)) only did one, nondeterministically)."""
    from cozo_spark.datalog.engine import CozoDb

    db = _db(spark)
    s = """
    even[a, b] := *edge{fr: a, to: b}
    even[a, c] := odd[a, b], *edge{fr: b, to: c}
    odd[a, b] := *edge{fr: a, to: b}, b % 2 == 1
    odd[a, c] := even[a, b], *edge{fr: b, to: c}, c % 2 == 1
    ?[b] := even[$start, b]
    """
    for sd in (4, 40):
        assert _rows(db.run_script_df(s, {"start": sd})) == \
            _literal(db, s, {"start": sd})
    ent = CozoDb._skel_cache.get(db._skel_key(s, {"start": 4}))
    assert ent is not None and ent.get("template")
    cached = {(p["name"], p["idx"]) for p in ent["repls"]}
    assert ("even", 0) in cached and ("odd", 0) in cached, cached


def test_last_resort_template_negation_param(spark, monkeypatch):
    """r10: shapes the flat skeleton refuses (a param-carrying rule
    applied under negation) fall back to the TEMPLATE — param-free
    support rules still cache, the bind is a full (lazy) evaluation, and
    non-recursive binds land in the per-value plan cache too."""
    db = _db(spark)
    builds = _spy_builds(monkeypatch)
    s = """
    sup[x] := *edge{fr: x, to: y}, y > 0
    bad[x] := *edge{fr: x, to: $t}
    ?[x] := sup[x], x < $hi, not bad[x]
    """
    for t, hi in ((1, 40), (7, 25), (1, 10)):
        assert _rows(db.run_script_df(s, {"t": t, "hi": hi})) == \
            _literal(db, s, {"t": t, "hi": hi})
    assert len(builds) == 1 and builds[0].get("template")
    assert [d["name"] for d in builds[0]["drops"]] == ["sup"]


def test_last_resort_template_agg_argument_param(spark, monkeypatch):
    """A param as an AGGREGATION argument (collect(x, $n)) refused every
    flat path — the template evaluates it per bind."""
    db = _db(spark)
    builds = _spy_builds(monkeypatch)
    s = """
    sup[x] := *edge{fr: x}
    ?[collect(x, $n)] := sup[x], x < 10
    """
    for n in (3, 5, 1):
        got = db.run_script_df(s, {"n": n}).collect()
        assert len(got) == 1 and len(got[0][0]) == n
    assert len(builds) == 1 and builds[0].get("template")


def test_last_resort_template_multiclause_nonrecursive(spark, monkeypatch):
    db = _db(spark)
    builds = _spy_builds(monkeypatch)
    s = """
    sup[x, y] := *edge{fr: x, to: y}
    ?[x] := sup[x, y], y = $a
    ?[x] := sup[x, y], y = $b, x < 100
    """
    for a, b in ((3, 9), (1, 1), (250, 7)):
        assert _rows(db.run_script_df(s, {"a": a, "b": b})) == \
            _literal(db, s, {"a": a, "b": b})
    assert len(builds) == 1 and builds[0].get("template")


def test_template_invalidated_on_mutation(spark):
    """The template's cached clause stores embed the relations' frames at
    build time — any mutation must invalidate the entry (snapshot check)
    so binds never serve pre-mutation data."""
    from cozo_spark.datalog.engine import CozoDb

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
        "template bind served stale pre-mutation stores"


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
    # second value set exercises the cached template
    params2 = {k: v + 1 for k, v in params.items()}
    got2 = _rows(db.run_script_df(script, dict(params2)))
    assert got2 == _literal(db, script, params2), \
        f"seed={seed} (2nd values)\n{script}\n{params2}"

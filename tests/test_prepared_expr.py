"""Prepared statements with params in filter/unification expressions
(r9, VERDICT r8 #3).

The r8 hoist covered params in Rel/Rule/NamedRel ARGUMENT positions; these
tests pin the r9 widening:
- entry-level `y = $k * 2` (binding unification -> bind-time computed
  column), `v = $p` on a bound var (filter), `v in [$a, $b]` (explode),
  chained computed unifies;
- support-rule filter conditions (`sup[x] := ..., x > $lo`) migrated to
  application sites via alias exports + site-side Cond re-insertion;
- the soundness gates that must STILL refuse (recursion, negation,
  nondeterministic unify exprs);
- cache-hit discipline: one skeleton build, binds thereafter.

Reference shape: parse/expr.rs param substitution (the reference inlines
params at parse time and re-compiles per call; we compile once and bind).
"""

from __future__ import annotations

import pytest

from tests.conftest import (SF_SMALL, assert_ineligible_once,
                            spy_skeleton_builds)


def _db(spark, tables=("customer", "orders")):
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    for t in tables:
        db.register_dataframe(t, spark.read.parquet(f"{SF_SMALL}/{t}.parquet"))
    return db


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _literal(db, script, subs):
    s = script
    for k, v in subs.items():
        s = s.replace(f"${k}", repr(v) if isinstance(v, str) else str(v))
    return _rows(db.run_script_df(s))


def _spy(monkeypatch):
    from cozo_spark.datalog.engine import CozoDb

    builds = []
    orig = CozoDb._build_skeleton

    def spy(self, script, params):
        builds.append(script)
        return orig(self, script, params)

    monkeypatch.setattr(CozoDb, "_build_skeleton", spy)
    return builds


def test_entry_cond_and_binding_unify(spark, monkeypatch):
    """The directive's example shape: `*r{a: x}, x > $lo, y = $k * 2`."""
    db = _db(spark, ("customer",))
    builds = _spy(monkeypatch)
    s = ("?[x, y] := *customer{c_custkey: x, c_acctbal: b}, "
         "b > $lo, y = $k * 2")
    for lo, k in ((100.0, 3), (500.0, 5), (0.0, 1)):
        got = _rows(db.run_script_df(s, {"lo": lo, "k": k}))
        assert got == _literal(db, s, {"lo": lo, "k": k})
    assert len(builds) == 1, "one skeleton build; later calls bind"


def test_entry_bound_var_unify_is_filter(spark, monkeypatch):
    db = _db(spark, ("customer",))
    builds = _spy(monkeypatch)
    s = "?[x] := *customer{c_custkey: x, c_nationkey: n}, n = $nk"
    for nk in (1, 3, 22):
        assert _rows(db.run_script_df(s, {"nk": nk})) == \
            _literal(db, s, {"nk": nk})
    assert len(builds) == 1


def test_entry_chained_computed_unifies(spark, monkeypatch):
    db = _db(spark, ("customer",))
    builds = _spy(monkeypatch)
    s = ("?[x, z] := *customer{c_custkey: x}, "
         "y = $k + 1, z = y * 10, x < $hi")
    for k, hi in ((2, 20), (7, 10)):
        assert _rows(db.run_script_df(s, {"k": k, "hi": hi})) == \
            _literal(db, s, {"k": k, "hi": hi})
    assert len(builds) == 1


def test_entry_multi_unify_explodes(spark, monkeypatch):
    db = _db(spark, ("customer",))
    builds = _spy(monkeypatch)
    s = "?[x, v] := *customer{c_custkey: x}, x < 5, v in [$a, $b]"
    for a, b in ((1, 2), (9, 9), (0, 7)):
        assert _rows(db.run_script_df(s, {"a": a, "b": b})) == \
            _literal(db, s, {"a": a, "b": b})
    assert len(builds) == 1


def test_computed_col_with_param_free_cond_on_it(spark, monkeypatch):
    """A param-free filter over the computed column must move to bind time
    with it (it can't evaluate inside the skeleton)."""
    db = _db(spark, ("customer",))
    builds = _spy(monkeypatch)
    s = "?[x, y] := *customer{c_custkey: x}, y = x + $off, y > 100, y < 130"
    for off in (0, 50, 120):
        assert _rows(db.run_script_df(s, {"off": off})) == \
            _literal(db, s, {"off": off})
    assert len(builds) == 1


def test_support_rule_filter_param(spark, monkeypatch):
    db = _db(spark, ("customer", "nation"))
    builds = _spy(monkeypatch)
    s = """
    big[x, n] := *customer{c_custkey: x, c_acctbal: b, c_nationkey: n}, b > $lo
    ?[x] := big[x, n], *nation{n_nationkey: n, n_name: nm}, nm = $nat
    """
    for lo, nat in ((100.0, "CHINA"), (0.0, "FRANCE"), (50.0, "CHINA")):
        assert _rows(db.run_script_df(s, {"lo": lo, "nat": nat})) == \
            _literal(db, s, {"lo": lo, "nat": nat})
    assert len(builds) == 1


def test_support_chain_filter_params(spark, monkeypatch):
    """Two-level chain: the filter migrates bottom rule -> middle rule ->
    entry, gaining alias exports at each hop."""
    db = _db(spark, ("customer",))
    builds = _spy(monkeypatch)
    s = """
    a1[x] := *customer{c_custkey: x, c_acctbal: b}, b > $lo
    a2[x] := a1[x], x < $hi
    ?[x] := a2[x]
    """
    for lo, hi in ((100.0, 50), (500.0, 100), (0.0, 10)):
        assert _rows(db.run_script_df(s, {"lo": lo, "hi": hi})) == \
            _literal(db, s, {"lo": lo, "hi": hi})
    assert len(builds) == 1


def test_support_filter_multiple_sites(spark, monkeypatch):
    """The same filtered rule applied twice in one body: each site gets its
    own fresh args + condition copy."""
    db = _db(spark, ("customer",))
    builds = _spy(monkeypatch)
    s = """
    f[x] := *customer{c_custkey: x, c_acctbal: b}, b > $lo
    ?[x, y] := f[x], f[y], y = x + 1
    """
    for lo in (100.0, 2000.0):
        assert _rows(db.run_script_df(s, {"lo": lo})) == \
            _literal(db, s, {"lo": lo})
    assert len(builds) == 1


def test_support_filter_param_in_disjunction_site(spark):
    """The filtered rule applied inside an inline `or` branch: the
    migrated condition re-inserts INTO that branch (wrapped in a Conj),
    filtering only the rows that came through the rule."""
    db = _db(spark, ("customer",))
    s = """
    f[x] := *customer{c_custkey: x, c_acctbal: w}, w > $lo
    ?[x] := *customer{c_custkey: x}, (f[x] or x > $hi)
    """
    for lo, hi in ((100.0, 140), (5000.0, 20)):
        assert _rows(db.run_script_df(s, {"lo": lo, "hi": hi})) == \
            _literal(db, s, {"lo": lo, "hi": hi})


def test_support_filter_param_under_negation_refuses(spark, monkeypatch):
    """`not f[x]` where f carries a param filter: extending f's arity
    would leave the new column unbound under the negation — the
    skeleton's cond-migration hoist must refuse, and the ordinary path
    answers every call."""
    db = _db(spark, ("customer",))
    builds = spy_skeleton_builds(monkeypatch)
    s = """
    f[x] := *customer{c_custkey: x, c_acctbal: w}, w > $lo
    ?[x] := *customer{c_custkey: x}, x < 20, not f[x]
    """
    for lo in (100.0, 9000.0):
        assert _rows(db.run_script_df(s, {"lo": lo})) == \
            _literal(db, s, {"lo": lo})
    assert_ineligible_once(db, builds, s, {"lo": 100.0})


def test_agg_head_with_computed_unify(spark, monkeypatch):
    """`?[k, sum(y)] := ..., y = v * $rate` — the computed column feeds
    the aggregation input; multiplicities must match the raw multiset
    stream exactly (r9 widening of the r7 agg skeleton)."""
    db = _db(spark, ("orders",))
    builds = _spy(monkeypatch)
    s = ("?[st, sum_t] := *orders{o_orderstatus: st, o_totalprice: p}, "
         "y = p * $rate, p > $lo")
    s = s.replace("sum_t", "sum(y)")
    for rate, lo in ((2.0, 1000.0), (0.5, 50000.0), (1.0, 0.0)):
        got = _rows(db.run_script_df(s, {"rate": rate, "lo": lo}))
        assert got == _literal(db, s, {"rate": rate, "lo": lo})
    assert len(builds) == 1


def test_agg_head_with_computed_group_key(spark, monkeypatch):
    db = _db(spark, ("customer",))
    builds = _spy(monkeypatch)
    s = "?[g, count(x)] := *customer{c_custkey: x}, g = x % $m"
    for m in (3, 7, 11):
        assert _rows(db.run_script_df(s, {"m": m})) == \
            _literal(db, s, {"m": m})
    assert len(builds) == 1


def test_agg_head_with_exploding_unify(spark, monkeypatch):
    """`w in [$a, $b]` pre-aggregation: the explode multiplies the raw
    multiset stream, so count() doubles — bind-time explode must land
    before the groupBy."""
    db = _db(spark, ("customer",))
    builds = _spy(monkeypatch)
    s = "?[w, count(x)] := *customer{c_custkey: x}, x < 9, w in [$a, $b]"
    for a, b in ((1, 2), (5, 5)):
        assert _rows(db.run_script_df(s, {"a": a, "b": b})) == \
            _literal(db, s, {"a": a, "b": b})
    assert len(builds) == 1


def test_agg_consumer_of_cond_widened_rule_refuses(spark, monkeypatch):
    """ADVICE r9 high: a support rule whose filter cond migrates out gains
    alias exports — its store becomes distinct on (head + alias), so an
    AGGREGATION-head consumer would fold one row per (head, alias) pair
    (`?[count(s)] := sup[s]` returned 50 prepared vs 5 literal). The
    hoist must still refuse; the ordinary path then sees exactly the
    literal multiplicities (pinned by the value asserts across cutoffs)."""
    from cozo_spark.datalog.engine import CozoDb

    db = _db(spark, ("customer",))
    builds = spy_skeleton_builds(monkeypatch)
    # entry-level aggregation consumer
    s1 = """
    sup[n] := *customer{c_nationkey: n, c_acctbal: b}, b < $c
    ?[count(n)] := sup[n]
    """
    # intermediate aggregation consumer (entry is plain)
    s2 = """
    sup[n] := *customer{c_nationkey: n, c_acctbal: b}, b < $c
    cnt[count(n)] := sup[n]
    ?[c] := cnt[c]
    """
    for s in (s1, s2):
        builds.clear()
        for c in (100.0, 5000.0, 9999.0):
            assert _rows(db.run_script_df(s, {"c": c})) == \
                _literal(db, s, {"c": c})
        assert_ineligible_once(db, builds, s, {"c": 100.0})
    # a PLAIN-head consumer of the same shape must still prepare
    s3 = """
    sup[n] := *customer{c_nationkey: n, c_acctbal: b}, b < $c
    ?[n] := sup[n]
    """
    for c in (100.0, 5000.0):
        assert _rows(db.run_script_df(s3, {"c": c})) == \
            _literal(db, s3, {"c": c})
    assert db._skel_key(s3, {"c": 100.0}) in CozoDb._skel_cache


@pytest.mark.parametrize("script,params", [
    # nondeterministic unify expr (skeleton distinct would change draws)
    ("?[x, y] := *customer{c_custkey: x}, x < 3, y = rand_float() * $k",
     {"k": 0}),
])
def test_still_refused_shapes_stay_correct(spark, script, params):
    from cozo_spark.datalog.engine import CozoDb

    db = _db(spark, ("customer",))
    got = db.run_script_df(script, dict(params))
    assert got.count() >= 0  # evaluates via the unprepared path
    assert db._skel_key(script, params) not in CozoDb._skel_cache


@pytest.mark.parametrize("script,mkp", [
    # recursion with the param in the BASE clause
    ("""
     r[x] := *customer{c_custkey: x}, x < $n
     r[x] := r[y], x = y + 1, x < 5
     ?[x] := r[x]
     """, lambda i: {"n": i + 2}),
    # param unify under negation
    ("?[x] := *customer{c_custkey: x}, not x = $k",
     lambda i: {"k": i + 1}),
])
def test_refused_shapes_match_literal(spark, script, mkp, monkeypatch):
    """Two shapes the skeleton refuses, value-checked against literal
    inlining per call."""
    db = _db(spark, ("customer",))
    builds = spy_skeleton_builds(monkeypatch)
    for i in range(3):
        p = mkp(i)
        assert _rows(db.run_script_df(script, p)) == \
            _literal(db, script, p), p
    assert_ineligible_once(db, builds, script, mkp(0))


def test_bind_is_cheaper_than_retranslation(spark):
    """The point of preparing: binding a cached skeleton must beat a full
    re-translation by a wide margin (plan-construction time, no actions)."""
    import time

    db = _db(spark, ("customer",))
    s = ("?[x, y] := *customer{c_custkey: x, c_acctbal: b}, "
         "b > $lo, y = $k * 2")
    db.run_script_df(s, {"lo": 1.0, "k": 1})  # build
    t0 = time.perf_counter()
    for i in range(10):
        db.run_script_df(s, {"lo": float(i), "k": i})
    bind = time.perf_counter() - t0
    t0 = time.perf_counter()
    for i in range(10):
        db.run_script_df(
            f"?[x, y] := *customer{{c_custkey: x, c_acctbal: b}}, "
            f"b > {float(i)}, y = {i} * 2")
    full = time.perf_counter() - t0
    assert bind < full, f"bind {bind:.3f}s not cheaper than translate {full:.3f}s"

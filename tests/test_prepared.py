"""Prepared-statement plan skeletons (engine._run_prepared).

A $param-ized script compiles its param-free skeleton once; subsequent
calls with NEW values bind via residual `where` conditions instead of
re-translating (reference parity: runtime/db.rs run_script re-compiles per
call — we do the work once). These tests pin:
- skeleton reuse across different param values (the r5 VERDICT directive's
  "Done" criterion) with results identical to literal-inlined scripts,
- soundness gates (aggregation heads, params in negation/unify/:limit fall
  back to the per-value path),
- invalidation on relation mutation,
- pushdown: the bound literal still reaches the parquet scan.
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


SCRIPT = """
?[name, total] := *customer{c_custkey: $id, c_name: name},
                  *orders{o_custkey: $id, o_totalprice: total},
                  total > $lo
:sort -total
:limit 5
"""


def _literal(db, script, subs):
    s = script
    for k, v in subs.items():
        s = s.replace(f"${k}", repr(v) if isinstance(v, str) else str(v))
    return _rows(db.run_script_df(s))


def test_skeleton_reused_across_values(spark, monkeypatch):
    from cozo_spark.datalog.engine import CozoDb

    db = _db(spark)
    builds = []
    orig = CozoDb._build_skeleton

    def spy(self, script, params):
        builds.append(script)
        return orig(self, script, params)

    monkeypatch.setattr(CozoDb, "_build_skeleton", spy)
    for v, lo in ((1, 100.0), (4, 50.0), (10, 0.0)):
        got = _rows(db.run_script_df(SCRIPT, {"id": v, "lo": lo}))
        want = _literal(db, SCRIPT, {"id": v, "lo": lo})
        assert got == want, f"id={v}"
    # one skeleton build serves every subsequent value: the 2nd/3rd calls
    # must be binds, not recompiles
    assert len(builds) == 1


def test_positional_and_rule_atom_params(spark):
    db = _db(spark, ("customer",))
    script = """
    named[k, n] := *customer{c_custkey: k, c_name: n}
    ?[n] := named[$id, n]
    """
    for v in (2, 7):
        got = _rows(db.run_script_df(script, {"id": v}))
        want = _literal(db, script, {"id": v})
        assert got == want
    # positional stored-relation args go through the same rewrite
    db2 = _db(spark, ("nation",))
    pos = "?[b] := *nation[$a, b, c]"
    for v in (0, 3):
        assert _rows(db2.run_script_df(pos, {"a": v})) == \
            _literal(db2, pos, {"a": v})


def _with_edges(spark, db, n=200, fan=7):
    import pyspark.sql.functions as F

    db.register_dataframe("edge", spark.range(n).select(
        (F.col("id") % n).alias("fr"),
        ((F.col("id") * fan + 1) % n).alias("to")), keys=["fr", "to"])
    return db


@pytest.mark.parametrize("script,mkp", [
    # (aggregation heads became ELIGIBLE in r7 — the skeleton is the raw
    # pre-aggregation stream and the filter binds before aggregate_head;
    # see tests/test_prepared_agg.py)
    # (`:limit $n` became ELIGIBLE in r9 — the skeleton is built without
    # output options and binding applies the per-call parse's limit; see
    # test_limit_param_prepared below)
    # param nested inside an expression used as a column binding
    ("?[n] := *customer{c_custkey: $id + 1, c_name: n}",
     lambda i: {"id": i + 2}),
    # param inside a negated atom of the entry
    ("?[k] := *customer{c_custkey: k}, k < 8, "
     "not *orders{o_custkey: k, o_totalprice: $t}",
     lambda i: {"t": (1.0, 100000.0, 57586.58)[i]}),
    # param in a support-rule unification feeding an aggregation argument
    ("contrib[a, s] := *edge{fr: a, to: b}, s = b * $w\n"
     "?[a, sum(s)] := contrib[a, s]", lambda i: {"w": i + 2}),
    # param-carrying support rule consumed under negation
    ("bad[b] := *edge{fr: b, to: t}, t == $z\n"
     "?[a] := *edge{fr: a, to: b}, not bad[b]", lambda i: {"z": 17 * i}),
    # support-rule unification that projects its driving key away: the
    # rule's distinct result must match the literal run
    ("pv[v2] := *edge{fr: k, to: v}, v2 = v + $d\n?[v2] := pv[v2]",
     lambda i: {"d": (0, 5, 1000)[i]}),
    # multi-clause entry
    ("?[b] := *edge{fr: $s, to: b}\n?[b] := *edge{fr: b, to: $s}",
     lambda i: {"s": 3 * i + 1}),
])
def test_ineligible_shapes_still_correct(spark, script, mkp, monkeypatch):
    db = _with_edges(spark, _db(spark))
    builds = spy_skeleton_builds(monkeypatch)
    for i in range(3):
        p = mkp(i)
        assert _rows(db.run_script_df(script, p)) == \
            _literal(db, script, p), p
    assert_ineligible_once(db, builds, script, mkp(0))


def test_ineligible_script_repeats_value_from_plan_cache(spark, monkeypatch):
    """A $param script the skeleton refuses still gets the per-value plan
    cache: repeating a value translates no clause, a new value translates
    again, and neither makes another skeleton attempt."""
    from cozo_spark.datalog.translate import ClauseTranslator

    db = _with_edges(spark, _db(spark, ()))
    builds = spy_skeleton_builds(monkeypatch)
    script = "?[b] := *edge{fr: $s, to: b}\n?[b] := *edge{fr: b, to: $s}"
    translations = []
    orig = ClauseTranslator.translate

    def counting(self, *a, **k):
        translations.append(1)
        return orig(self, *a, **k)

    monkeypatch.setattr(ClauseTranslator, "translate", counting)
    first = _rows(db.run_script_df(script, {"s": 1}))
    assert translations
    translations.clear()
    assert _rows(db.run_script_df(script, {"s": 1})) == first
    assert translations == []
    assert _rows(db.run_script_df(script, {"s": 4})) == \
        _literal(db, script, {"s": 4})
    assert translations
    assert_ineligible_once(db, builds, script, {"s": 1})


def test_fresh_var_collision_with_user_name(spark):
    """A body already using a variable literally named __prep0_ must not
    unify with the hoisted param binding."""
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.register_dataframe("edge", spark.createDataFrame(
        [(1, 2), (2, 3), (7, 7)], "src long, dst long"))
    script = "?[__prep0_] := *edge[__prep0_, $p]"
    # run twice so the second call goes through the cached skeleton
    first = _rows(db.run_script_df(script, params={"p": 2}))
    second = _rows(db.run_script_df(script, params={"p": 3}))
    assert first == [(1,)]
    assert second == [(2,)]
    # pre-fix, the fresh var collided with the head var: src had to equal
    # dst, returning only the (7, 7) self-loop for p=7
    assert _rows(db.run_script_df(script, params={"p": 7})) == [(7,)]


def test_limit_param_prepared(spark, monkeypatch):
    """`:limit $n` / `:offset $n` bind from the cached skeleton (r9): the
    skeleton carries no output options, so the per-call parse's limit
    applies at bind time — different n values share one skeleton."""
    from cozo_spark.datalog.engine import CozoDb

    db = _db(spark, ("customer",))
    builds = []
    orig = CozoDb._build_skeleton

    def spy(self, script, params):
        builds.append(script)
        return orig(self, script, params)

    monkeypatch.setattr(CozoDb, "_build_skeleton", spy)
    s = "?[k] := *customer{c_custkey: k}, k > $lo\n:sort k\n:limit $n"
    for lo, n in ((0, 3), (5, 7), (0, 1)):
        got = _rows(db.run_script_df(s, {"lo": lo, "n": n}))
        assert got == _literal(db, s, {"lo": lo, "n": n}), (lo, n)
        assert len(got) == n
    assert len(builds) == 1
    s2 = "?[k] := *customer{c_custkey: k}\n:sort k\n:limit $n\n:offset $o"
    for n, o in ((4, 2), (2, 10)):
        assert _rows(db.run_script_df(s2, {"n": n, "o": o})) == \
            _literal(db, s2, {"n": n, "o": o})
    assert len(builds) == 2


def test_mutation_invalidates_skeleton(spark):
    db = _db(spark, ())
    db.run_script("""?[k, v] <- [[1, 'a'], [2, 'b']] :create kv {k => v}""")
    q = "?[v] := *kv{k: $k, v}"
    assert _rows(db.run_script_df(q, {"k": 1})) == [("a",)]
    db.run_script("""?[k, v] <- [[1, 'z']] :put kv {k => v}""")
    assert _rows(db.run_script_df(q, {"k": 1})) == [("z",)]


def test_bound_literal_pushed_to_scan(spark):
    db = _db(spark, ("customer",))
    q = "?[n] := *customer{c_custkey: $id, c_name: n}"
    db.run_script_df(q, {"id": 3}).collect()
    df = db.run_script_df(q, {"id": 41})          # bind path
    assert _rows(df) == _literal(db, q, {"id": 41})
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    import re
    pushed = " ".join(re.findall(r"PushedFilters: \[[^\]]*\]", plan))
    assert "41" in pushed, pushed


def test_repeated_value_hits_exact_cache(spark):
    from cozo_spark.datalog.engine import CozoDb

    db = _db(spark, ("customer",))
    q = "?[n] := *customer{c_custkey: $id, c_name: n}"
    a = db.run_script_df(q, {"id": 5})
    b = db.run_script_df(q, {"id": 5})
    assert a is b  # exact per-value cache serves the same lazy plan
    assert _rows(b) == _literal(db, q, {"id": 5})

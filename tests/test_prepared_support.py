"""Prepared statements with params in SUPPORT rules (r8, VERDICT r7 #5).

A param in a non-recursive support rule body is the entry hoist applied one
level down: _hoist_support_params exports the param position as an extra
head var and migrates the Param to the application site, where the existing
entry machinery (fresh var + eq residual, bind-time filter + distinct)
takes over. Recursion stays structurally refused (the ADVICE-r6 magic-set
hole must not reopen one level down)."""

from __future__ import annotations

import pytest

from tests.conftest import assert_ineligible_once, spy_skeleton_builds


def _db(spark, tables=("customer", "orders")):
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    for t in tables:
        df = spark.read.parquet(f"/root/testdata/sf0.001/{t}.parquet")
        db.register_dataframe(t, df)
    return db


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _literal(db, script, subs):
    s = script
    for k, v in subs.items():
        s = s.replace(f"${k}", repr(v) if isinstance(v, str) else str(v))
    return _rows(db.run_script_df(s))


def _spy_builds(monkeypatch):
    from cozo_spark.datalog.engine import CozoDb

    builds = []
    orig = CozoDb._build_skeleton

    def spy(self, script, params):
        builds.append(script)
        return orig(self, script, params)

    monkeypatch.setattr(CozoDb, "_build_skeleton", spy)
    return builds


def test_support_body_param_cached_and_correct(spark, monkeypatch):
    """The headline shape: `WHERE key = $id` one level down."""
    db = _db(spark)
    builds = _spy_builds(monkeypatch)
    script = """
    mine[o, p] := *orders{o_orderkey: o, o_custkey: $id, o_totalprice: p}
    ?[o, p] := mine[o, p], p > 100.0
    """
    for v in (1, 4, 7):
        got = _rows(db.run_script_df(script, {"id": v}))
        want = _literal(db, script, {"id": v})
        assert got == want, f"id={v}"
    assert len(builds) == 1, "2nd/3rd calls must bind, not rebuild"


def test_support_chain_two_levels(spark, monkeypatch):
    """Param at the bottom of a two-rule chain migrates up both levels."""
    db = _db(spark)
    builds = _spy_builds(monkeypatch)
    script = """
    base[o] := *orders{o_orderkey: o, o_custkey: $id}
    mid[o] := base[o], o >= 0
    ?[o] := mid[o]
    """
    for v in (1, 4):
        assert _rows(db.run_script_df(script, {"id": v})) == \
            _literal(db, script, {"id": v})
    assert len(builds) == 1


def test_support_param_used_twice_and_applied_twice(spark):
    db = _db(spark)
    script = """
    pair[a, b] := *orders{o_orderkey: a, o_custkey: $id},
                  *orders{o_orderkey: b, o_custkey: $id}, a < b
    ?[a, b] := pair[a, b]
    :limit 10
    :sort a, b
    """
    for v in (1, 4):
        assert _rows(db.run_script_df(script, {"id": v})) == \
            _literal(db, script, {"id": v})

    # the same support rule applied twice in the entry
    script2 = """
    ofc[o] := *orders{o_orderkey: o, o_custkey: $id}
    ?[a, b] := ofc[a], ofc[b], a < b
    """
    for v in (1, 4):
        assert _rows(db.run_script_df(script2, {"id": v})) == \
            _literal(db, script2, {"id": v})


def test_support_param_feeding_agg_entry(spark, monkeypatch):
    """Support-rule params compose with the r7 aggregation-head skeleton."""
    db = _db(spark)
    builds = _spy_builds(monkeypatch)
    script = """
    mine[o, p] := *orders{o_orderkey: o, o_custkey: $id, o_totalprice: p}
    ?[count(o), sum(p)] := mine[o, p]
    """

    def _round(rows):  # float sums are order-sensitive; compare rounded
        return [tuple(round(x, 4) if isinstance(x, float) else x
                      for x in r) for r in rows]

    for v in (1, 4, 7):
        assert _round(_rows(db.run_script_df(script, {"id": v}))) == \
            _round(_literal(db, script, {"id": v}))
    assert len(builds) == 1


def test_negated_application_refused_but_correct(spark, monkeypatch):
    """A param rule applied under `not` cannot be hoisted (the appended
    column would be unbound) — the skeleton refuses, and the ordinary
    path answers every call."""
    db = _db(spark)
    builds = spy_skeleton_builds(monkeypatch)
    script = """
    mine[k] := *orders{o_custkey: k, o_orderkey: $o}
    ?[k] := *customer{c_custkey: k}, k < 10, not mine[k]
    """
    for v in (1, 5):
        assert _rows(db.run_script_df(script, {"o": v})) == \
            _literal(db, script, {"o": v})
    assert_ineligible_once(db, builds, script, {"o": 1})


def test_recursive_support_param_still_refused(spark):
    """The ADVICE-r6 hole must not reopen one level down: a param inside a
    transitively-recursive rule refuses the skeleton structurally."""
    from cozo_spark.datalog.engine import CozoDb

    db = _db(spark)
    db.run_script("""
    ?[src, dst] <- [[1, 2], [2, 3], [3, 4], [4, 5], [10, 11]]
    :create e9 {src, dst}
    """)
    script = """
    reach[x] := *e9{src: $s, dst: x}
    reach[x] := reach[y], *e9{src: y, dst: x}
    ?[x] := reach[x]
    """
    for v in (1, 10):
        assert _rows(db.run_script_df(script, {"s": v})) == \
            _literal(db, script, {"s": v})
    assert db._skel_key(script, {"s": 1}) not in CozoDb._skel_cache


def test_agg_head_support_param_refused_but_correct(spark):
    """Param in a support rule whose head AGGREGATES: hoisting would change
    what is aggregated — must refuse, must stay correct."""
    from cozo_spark.datalog.engine import CozoDb

    db = _db(spark)
    script = """
    cnt[k, count(o)] := *orders{o_custkey: k, o_orderkey: o,
                                o_totalprice: $t}
    ?[k, n] := cnt[k, n]
    """
    # $t equality on a float column: match the generated literal exactly
    for v in (100.0, 200.0):
        assert _rows(db.run_script_df(script, {"t": v})) == \
            _literal(db, script, {"t": v})
    assert db._skel_key(script, {"t": 100.0}) not in CozoDb._skel_cache


def test_bind_faster_than_retranslation(spark):
    """The point of the feature: binding must be well under re-translation
    (same criterion the r7 agg-head skeleton met)."""
    import time

    db = _db(spark)
    script = """
    mine[o, p] := *orders{o_orderkey: o, o_custkey: $id, o_totalprice: p}
    ?[o, p] := mine[o, p]
    """
    db.run_script_df(script, {"id": 1}).collect()  # build + cache
    t0 = time.perf_counter()
    for v in (2, 3, 4, 5):
        db.run_script_df(script, {"id": v})
    bind = (time.perf_counter() - t0) / 4
    t0 = time.perf_counter()
    for v in (2, 3, 4, 5):
        db.run_script_df(
            script.replace("$id", str(v)) + f"\n/* uncached {v} */")
    full = (time.perf_counter() - t0) / 4
    assert bind < full, f"bind {bind*1e3:.0f}ms !< retranslate {full*1e3:.0f}ms"

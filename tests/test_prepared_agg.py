"""Prepared statements for aggregation-head scripts (r7, VERDICT r6 #6).

`?[k, count(v)] := *rel{...}, key = $p` was structurally ineligible in r6
(filter hoisting past an agg head is unsound). Now the skeleton is the
RAW pre-aggregation match stream and binding applies the residual filter
BEFORE aggregate_head — the exact evaluation order of the unprepared
plan. These tests pin: skeleton reuse across values, result identity with
literal-inlined scripts, multiset (per-match multiplicity) semantics
through the bind path, header naming, and the soundness gates
(recursion, fixed rules, params as aggregation arguments)."""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL


def _db(spark, tables=("customer", "orders")):
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    for t in tables:
        db.register_dataframe(t, spark.read.parquet(f"{SF_SMALL}/{t}.parquet"))
    return db


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


AGG_SCRIPT = """
?[seg, count(okey), sum(price)] :=
    *customer{c_custkey: ck, c_mktsegment: seg},
    *orders{o_custkey: ck, o_orderkey: okey, o_totalprice: price},
    price > $lo
"""


def _spy_builds(monkeypatch_target=None):
    from cozo_spark.datalog.engine import CozoDb

    builds = []
    orig = CozoDb._build_skeleton

    def spy(self, s, params):
        r = orig(self, s, params)
        builds.append(r)
        return r

    return builds, orig, spy


def test_agg_head_skeleton_reused_and_correct(spark):
    from cozo_spark.datalog.engine import CozoDb

    db = _db(spark)
    builds, orig, spy = _spy_builds()
    CozoDb._build_skeleton = spy
    try:
        r1 = _rows(db.run_script_df(AGG_SCRIPT, params={"lo": 50000.0}))
        r2 = _rows(db.run_script_df(AGG_SCRIPT, params={"lo": 150000.0}))
        r3 = _rows(db.run_script_df(AGG_SCRIPT, params={"lo": 50000.0}))
    finally:
        CozoDb._build_skeleton = orig
    # one real skeleton build; later calls bind (or hit the per-value cache)
    real = [b for b in builds if isinstance(b, dict)]
    assert len(real) == 1 and real[0]["aggs"]
    for lo, got in [(50000.0, r1), (150000.0, r2), (50000.0, r3)]:
        want = _rows(db.run_script_df(AGG_SCRIPT.replace("$lo", str(lo))))
        assert got == want and got
    assert r1 != r2  # the filter actually bound differently


def test_agg_head_multiset_semantics(spark):
    """Join multiplicity must survive the bind path: count(w) counts
    MATCHES, not distinct tuples (air_routes.rs:189-210 semantics)."""
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.register_dataframe(
        "e1", spark.createDataFrame(
            [(1, 10), (1, 11), (2, 10)], "k long, v long"))
    db.register_dataframe(
        "e2", spark.createDataFrame(
            [(10, 7), (10, 7), (11, 7)], "v long, w long"))
    # e2 holds a duplicate row (untrusted keys): k=1 matches 10->7, 10->7,
    # 11->7 = 3; counting distinct (v, w) would give 2
    script = "?[k, count(w)] := *e1[k, v], *e2[v, w], k = $p"
    got = _rows(db.run_script_df(script, params={"p": 1}))
    want = _rows(db.run_script_df(script.replace("$p", "1")))
    assert got == want == [(1, 3)]
    got2 = _rows(db.run_script_df(script, params={"p": 2}))
    assert got2 == [(2, 2)]


def test_agg_head_group_key_param(spark):
    """The canonical WHERE key = $id GROUP BY shape with the param as a
    named-relation binding (column-binding residual)."""
    db = _db(spark, tables=("orders",))
    script = ("?[status, count(okey)] := "
              "*orders{o_orderkey: okey, o_orderstatus: status, "
              "o_custkey: $id}")
    for v in (370, 371, 370):
        got = _rows(db.run_script_df(script, params={"id": v}))
        want = _rows(db.run_script_df(script.replace("$id", str(v))))
        assert got == want


def test_agg_head_headers_and_sort_limit(spark):
    db = _db(spark)
    script = """
    ?[seg, count(ck)] := *customer{c_custkey: ck, c_mktsegment: seg},
                         ck > $lo
    :sort -count(ck)
    :limit 2
    """
    df1 = db.run_script_df(script, params={"lo": 0})
    df2 = db.run_script_df(script, params={"lo": 500})
    assert df1.columns == ["seg", "count(ck)"]
    assert len(df1.collect()) == 2
    lit = db.run_script_df(script.replace("$lo", "500"))
    assert _rows(df2) == _rows(lit)


def test_agg_head_gates_fall_back(spark):
    """Recursive agg-head programs must NOT build a flat agg skeleton —
    r10 routes them to the recursive TEMPLATE (full per-call evaluation
    over cached clause translations) — and still answer correctly."""
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.register_dataframe(
        "edge", spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4)], "src long, dst long"))
    rec = """
    reach[x, y] := *edge[x, y]
    reach[x, y] := reach[x, z], *edge[z, y]
    ?[x, count(y)] := reach[x, y], x >= $lo
    """
    builds, orig, spy = _spy_builds()
    CozoDb._build_skeleton = spy
    try:
        got = _rows(db.run_script_df(rec, params={"lo": 2}))
    finally:
        CozoDb._build_skeleton = orig
    assert got == _rows(db.run_script_df(rec.replace("$lo", "2")))
    # never a FLAT agg skeleton (that would aggregate an unrestricted
    # closure); the recursive template is the only dict allowed
    assert all(b.get("template") for b in builds if isinstance(b, dict))


def test_agg_head_invalidated_on_mutation(spark):
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.register_dataframe(
        "t", spark.createDataFrame([(1, 5), (1, 6), (2, 7)],
                                   "k long, v long"))
    script = "?[k, sum(v)] := *t[k, v], k = $p"
    assert _rows(db.run_script_df(script, params={"p": 1})) == [(1, 11)]
    db.register_dataframe(
        "t", spark.createDataFrame([(1, 100)], "k long, v long"))
    assert _rows(db.run_script_df(script, params={"p": 1})) == [(1, 100)]

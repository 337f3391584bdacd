"""The two loops of ``CozoDb._eval_recursive``: the driver-side semi-naive
loop (``fixpoint.local_semi_naive``) that small recursions take, and the
Spark loop that handles everything its gate refuses. Each test names the
loop it expects in ``_last_fixpoint_path`` and checks the rows against the
other loop, a Python closure or DuckDB."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

import cozo_spark.datalog.fixpoint as FP
from cozo_spark.datalog.engine import CozoDb
from cozo_spark.datalog.translate import QueryError

REACH = """
reach[a, b] := *edge[a, b]
reach[a, c] := reach[a, b], *edge[b, c]
?[a, b] := reach[a, b]
"""

CHAIN = [(i, i + 1) for i in range(10)]


def _closure(edges):
    reach = set(edges)
    while True:
        new = {(a, d) for (a, b) in reach for (c, d) in edges
               if b == c} - reach
        if not new:
            return sorted(reach, key=repr)
        reach |= new


def _db(spark, edges, schema="src long, dst long", keys=("src", "dst")):
    db = CozoDb(spark)
    db.register_dataframe("edge", spark.createDataFrame(edges, schema),
                          keys=list(keys) if keys else None)
    return db


def _run(db, script, params=None):
    rows = [tuple(r) for r in db.run_script(script, params or {}).rows]
    return sorted(rows, key=repr), db._last_fixpoint_path


@pytest.mark.parametrize("cap,path", [(None, "local"), (0, "spark")])
def test_epochs_exhausted_raises(spark, monkeypatch, cap, path):
    """A delta still non-empty when MAX_FIXPOINT_EPOCHS runs out is an
    error on both loops, not a silently truncated answer."""
    if cap is not None:
        monkeypatch.setattr(FP, "LOCAL_FIXPOINT_MAX_ROWS", cap)
    db = _db(spark, CHAIN)
    got, ran = _run(db, REACH)
    assert ran == path
    assert got == _closure(CHAIN) and len(got) == 55
    monkeypatch.setattr(CozoDb, "MAX_FIXPOINT_EPOCHS", 3)
    with pytest.raises(QueryError, match="did not converge within 3 epochs"):
        db.run_script(REACH)
    assert db._last_fixpoint_path == path


def _jobs(spark, fn, tag):
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(tag) or []), out


def test_benchmark_reach_bind_runs_local(spark):
    """perfbench's interactive `reach` bind on its circulant graph: the
    driver-side loop, the seeded closure, at most 4 Spark jobs per call."""
    from perfbench.datagen import EDGE_NODES, EDGE_STEPS
    from perfbench.workloads import _INTERACTIVE_SCRIPTS

    edges = [(i, (i + s) % EDGE_NODES) for i in range(EDGE_NODES)
             for s in EDGE_STEPS]
    db = _db(spark, edges)
    script = _INTERACTIVE_SCRIPTS["reach"]
    full = _closure(edges)
    for i, s in enumerate((0, 7, 0)):
        n, rows = _jobs(spark, lambda: db.run_script(script, {"s": s}).rows,
                        f"reach_bind_{i}")
        assert db._last_fixpoint_path == "local"
        assert sorted(tuple(r) for r in rows) == sorted(
            (b,) for a, b in full if a == s)
        assert n <= 4, n


def test_datalog_recursion_runs_local(spark, monkeypatch):
    """The analytics `datalog_recursion` query on the oracle tables: the
    driver-side loop, DuckDB's recursive CTE rows, at most 3 Spark jobs."""
    import duckdb

    import __spark_entry__ as entry
    from cozo_spark.queries import datalog_recursion
    from tests.conftest import SF_ORACLE as sf

    paths = []
    orig = CozoDb._eval_recursive

    def spy(self, *a):
        orig(self, *a)
        paths.append(self._last_fixpoint_path)

    monkeypatch.setattr(CozoDb, "_eval_recursive", spy)
    datalog_recursion(spark, sf).collect()   # warm the edge plan
    paths.clear()
    n, rows = _jobs(spark, lambda: datalog_recursion(spark, sf).collect(),
                    "datalog_recursion")
    assert paths == ["local"]
    assert n <= 3, n
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{sf}/orders.parquet'")
    want = sorted(con.execute(entry.oracle_sql()["datalog_recursion"])
                  .fetchall())
    assert sorted(tuple(r) for r in rows) == want and len(want) > 100


# local and Spark loops must agree row for row, nulls included
PARITY = {
    "closure": REACH,
    "const_and_repeat": """
        r[a, b] := *edge[a, b]
        r[a, c] := r[a, b], r[b, c], r[0, _]
        s[a] := r[a, a]
        ?[a, b] := r[a, b], s[a]
    """,
    "existence_and_named": """
        r[a, b] := *edge{src: a, dst: b}, a < 4
        r[a, c] := r[a, b], *edge{src: b, dst: c}, *edge[0, 1]
        ?[a, c] := r[a, c]
    """,
    "mutual_no_base": """
        odd[a, b] := *edge[a, b]
        odd[a, c] := even[a, b], *edge[b, c]
        even[a, c] := odd[a, b], *edge[b, c]
        ?[k, a, b] := odd[a, b], k = 'odd'
        ?[k, a, b] := even[a, b], k = 'even'
    """,
    "never_fires": """
        z[a] := z[a]
        ?[n] := n = 1
    """,
}
NULL_EDGES = [(0, 1), (1, 2), (2, 0), (2, None), (None, 3), (None, None),
              (None, None), (3, 3)]


@pytest.mark.parametrize("name", sorted(PARITY))
def test_local_matches_spark_loop(spark, monkeypatch, name):
    db = _db(spark, NULL_EDGES, keys=None)
    local, ran = _run(db, PARITY[name])
    assert ran == "local"
    monkeypatch.setattr(FP, "LOCAL_FIXPOINT_MAX_ROWS", 0)
    on_spark, ran = _run(db, PARITY[name])
    assert ran == "spark"
    assert local == on_spark


def test_string_bool_date_columns_run_local(spark, monkeypatch):
    d0 = datetime.date(2024, 1, 1)
    edges = [(f"n{i}", f"n{i + 1}", i % 2 == 0, d0 + datetime.timedelta(i))
             for i in range(6)]
    db = CozoDb(spark)
    db.register_dataframe("edge", spark.createDataFrame(
        edges, "src string, dst string, even boolean, day date"))
    script = """
    r[a, b, e, d] := *edge[a, b, e, d]
    r[a, c, e, d] := r[a, b, e, d], *edge[b, c, _, _]
    ?[a, c, e, d] := r[a, c, e, d], e == true
    """
    local, ran = _run(db, script)
    assert ran == "local" and len(local) == 12
    monkeypatch.setattr(FP, "LOCAL_FIXPOINT_MAX_ROWS", 0)
    assert _run(db, script) == (local, "spark")


def test_empty_and_nonempty_results_are_local_relations(spark):
    db = CozoDb(spark)
    db.register_dataframe("edge", spark.range(6).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")),
        keys=["src", "dst"])
    for cond, n in (("a < 100", 21), ("a > 100", 0)):
        df = db.run_script_df(REACH.replace(
            ":= *edge[a, b]", f":= *edge[a, b], {cond}"))
        assert db._last_fixpoint_path == "local"
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
        assert df.count() == n


def test_local_frames_stay_local_without_arrow_conf(spark):
    """``local_frame`` converts through a pyarrow.Table, which Spark turns
    into a LocalRelation whatever the session's Arrow conf says; a NaN row
    and a NULL row stay apart."""
    import math

    key = "spark.sql.execution.arrow.pyspark.enabled"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        df = CozoDb(spark).run_script_df(
            "?[a, b] <- [[1, to_float('NAN')], [2, null], [3, 1.5]]")
        plan = df._jdf.queryExecution().analyzed().toString()
        rows = sorted(tuple(r) for r in df.collect())
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert [a for a, _ in rows] == [1, 2, 3]
    assert math.isnan(rows[0][1]) and rows[1][1] is None and rows[2][1] == 1.5


def test_local_frame_keeps_nested_nan_apart_from_null(spark):
    """NaN and NULL stay apart inside an array column too, and an empty
    array stays distinct from a NULL array."""
    import math

    from cozo_spark.plans.local import local_frame

    df = local_frame(spark, [(1, [1.0, float("nan"), None]), (2, None),
                             (3, [])], "k long, v array<double>")
    plan = df._jdf.queryExecution().analyzed().toString()
    rows = sorted(tuple(r) for r in df.collect())
    assert "LocalRelation" in plan and "LogicalRDD" not in plan, plan
    assert [k for k, _ in rows] == [1, 2, 3]
    v = rows[0][1]
    assert v[0] == 1.0 and math.isnan(v[1]) and v[2] is None
    assert rows[1][1] is None and rows[2][1] == []


@pytest.mark.parametrize("cap,path", [(None, "local"), (0, "spark")])
def test_empty_inputs_cap_zero_runs_spark(spark, monkeypatch, cap, path):
    """An SCC whose inputs have no rows fits any cap, but a cap of 0 still
    sends it to the Spark loop."""
    if cap is not None:
        monkeypatch.setattr(FP, "LOCAL_FIXPOINT_MAX_ROWS", cap)
    assert _run(_db(spark, []), REACH) == ([], path)


def test_input_over_cap_runs_spark(spark, monkeypatch):
    db = _db(spark, CHAIN)
    local, ran = _run(db, REACH)
    assert ran == "local"
    monkeypatch.setattr(FP, "LOCAL_FIXPOINT_MAX_ROWS", 5)
    assert _run(db, REACH) == (local, "spark")


def test_mid_loop_overflow_restarts_on_spark(spark, monkeypatch):
    """Inputs (10 edges) fit a cap of 30, the closure (55 rows) does not:
    the local loop starts, overflows and the Spark loop starts over."""
    overflowed = []
    orig = FP.local_semi_naive

    def spy(*a):
        try:
            return orig(*a)
        except FP.LocalOverflow:
            overflowed.append(True)
            raise

    db = _db(spark, CHAIN)
    local, ran = _run(db, REACH)
    assert ran == "local"
    monkeypatch.setattr(FP, "local_semi_naive", spy)
    monkeypatch.setattr(FP, "LOCAL_FIXPOINT_MAX_ROWS", 30)
    assert _run(db, REACH) == (local, "spark")
    assert overflowed


def test_double_column_runs_spark(spark):
    edges = [(float(a), float(b)) for a, b in CHAIN]
    got, ran = _run(_db(spark, edges, "src double, dst double"), REACH)
    assert ran == "spark" and got == _closure(edges)


def test_mixed_integer_types_run_spark(spark):
    """`b` binds a long column of reach and an int column of edge."""
    got, ran = _run(_db(spark, CHAIN, "src int, dst long"), REACH)
    assert ran == "spark" and got == _closure(CHAIN)


def test_negation_in_recursive_clause_runs_spark(spark):
    db = _db(spark, CHAIN)
    db.register_dataframe("blocked", spark.createDataFrame(
        [(5,)], "n long"))
    got, ran = _run(db, """
    reach[a, b] := *edge[a, b]
    reach[a, c] := reach[a, b], *edge[b, c], not *blocked[c]
    ?[a, b] := reach[a, b]
    """)
    # a derived row never ends in 5, so paths from below 4 stop at 4; (4, 5)
    # is a base row, so paths from 4 go on
    want = [p for p in _closure(CHAIN) if not (p[0] < 4 and p[1] >= 5)]
    assert ran == "spark" and got == want


def test_meet_min_recursion_runs_spark(spark):
    db = _db(spark, CHAIN + [(0, 5)])
    got, ran = _run(db, """
    d[b, min(n)] := *edge[0, b], n = 1
    d[c, min(n)] := d[b, m], *edge[b, c], n = m + 1
    ?[b, n] := d[b, n]
    """)
    assert ran == "spark"
    assert got == sorted(((b, b if b < 5 else b - 4) for b in range(1, 11)),
                         key=repr)


def test_unordered_limit_runs_spark(spark):
    got, ran = _run(_db(spark, CHAIN), """
    reach[a, b] := *edge[a, b]
    reach[a, c] := reach[a, b], *edge[b, c]
    ?[b] := reach[0, b]
    :limit 3
    """)
    assert ran == "spark"
    assert len(got) == 3 and {b for (b,) in got} <= set(range(1, 11))


# shortest_hops: the driver-side meet loop against the Spark loop
HOP_CASES = {
    "nulls_dups_cycles": (NULL_EDGES + [(0, 1), (3, 4), (4, 4)],
                          "src long, dst long"),
    "int_src_long_dst": (CHAIN, "src int, dst long"),
    "string_ids": ([(f"n{a}", f"n{b}") for a, b in CHAIN]
                   + [("n3", "n0"), (None, "n1")], "src string, dst string"),
    "empty": ([], "src long, dst long"),
}


def _hops(df, **kw):
    from cozo_spark.fixed_rules import graphs as G

    res = G.shortest_hops(df, **kw)
    info = G.take_run_info()
    rows = sorted((tuple(r) for r in res.collect()), key=repr)
    return rows, res.schema, info["loop"], info["epochs"]


@pytest.mark.parametrize("max_hops", [0, 1, 2, 64])
@pytest.mark.parametrize("case", sorted(HOP_CASES))
def test_shortest_hops_local_matches_spark_loop(spark, monkeypatch, case,
                                                max_hops):
    """Rows (duplicates included), schema (names, types, nullability) and
    epochs agree; ``max_hops=0`` returns the raw edge rows."""
    from cozo_spark.fixed_rules import graphs as G

    edges, schema = HOP_CASES[case]
    df = spark.createDataFrame(edges, schema)
    local = _hops(df, max_hops=max_hops)
    monkeypatch.setattr(G, "_shortest_hops_local", lambda e, m: None)
    on_spark = _hops(df, max_hops=max_hops)
    assert local[2] == "local" and on_spark[2] == "spark"
    assert local[0] == on_spark[0]
    assert local[1] == on_spark[1]
    assert local[3] == on_spark[3]
    if max_hops == 0:
        assert local[0] == sorted(((a, b, 1) for a, b in edges), key=repr)
    if case == "nulls_dups_cycles" and max_hops:
        # null never joins, but null-keyed pairs are kept
        assert {(None, 3, 1), (None, 4, 2), (2, None, 1), (None, None, 1),
                (3, 3, 1), (0, 2, 2)} <= set(local[0])
        # the cycle 0 -> 1 -> 2 -> 0 closes on the third hop
        assert ((0, 0, 3) in local[0]) == (max_hops > 1)
        assert not any(a is None and b is None and n > 1
                       for a, b, n in local[0])


@pytest.mark.parametrize("cap,loop", [(None, "local"), (0, "spark")])
def test_shortest_hops_empty_edges_cap_zero_runs_spark(spark, monkeypatch,
                                                       cap, loop):
    """An empty edge frame fits any cap, but a cap of 0 still sends it to
    the Spark loop."""
    if cap is not None:
        monkeypatch.setattr(FP, "LOCAL_FIXPOINT_MAX_ROWS", cap)
    rows, _, ran, _ = _hops(spark.createDataFrame([], "src long, dst long"))
    assert (rows, ran) == ([], loop)


def test_shortest_hops_mid_loop_overflow_runs_spark(spark, monkeypatch):
    """The 10 chain edges fit a cap of 30, the 55 best pairs do not: the
    local loop starts, overflows and the Spark loop starts over."""
    df = spark.createDataFrame(CHAIN, "src long, dst long")
    local = _hops(df)
    assert local[2:] == ("local", 10)
    overflowed = []
    orig = FP.local_shortest_hops

    def spy(*a):
        try:
            return orig(*a)
        except FP.LocalOverflow:
            overflowed.append(True)
            raise

    monkeypatch.setattr(FP, "local_shortest_hops", spy)
    monkeypatch.setattr(FP, "LOCAL_FIXPOINT_MAX_ROWS", 30)
    assert _hops(df) == (local[0], local[1], "spark", 10)
    assert overflowed
    assert len(local[0]) == 55


def test_shortest_hops_double_ids_run_spark(spark):
    df = spark.createDataFrame([(float(a), float(b)) for a, b in CHAIN],
                               "src double, dst double")
    rows, _, loop, _ = _hops(df)
    assert loop == "spark"
    assert rows == sorted(((float(a), float(b), b - a)
                           for a in range(11) for b in range(a + 1, 11)),
                          key=repr)



def test_graph_shortest_hops_runs_local(spark):
    """The analytics `graph_shortest_hops` query on the oracle tables: the
    driver-side loop, DuckDB's recursive CTE rows, at most 2 Spark jobs (the
    capped edge collect, across the edge plan's distinct)."""
    import duckdb

    import __spark_entry__ as entry
    from cozo_spark.fixed_rules import graphs as G
    from cozo_spark.queries import graph_shortest_hops
    from tests.conftest import SF_ORACLE as sf

    graph_shortest_hops(spark, sf).collect()   # warm the edge plan
    n, rows = _jobs(spark, lambda: graph_shortest_hops(spark, sf).collect(),
                    "graph_shortest_hops")
    assert G.take_run_info()["loop"] == "local"
    assert n <= 2, n
    con = duckdb.connect()
    con.execute(f"CREATE VIEW orders AS SELECT * FROM '{sf}/orders.parquet'")
    want = sorted(con.execute(entry.oracle_sql()["graph_shortest_hops"])
                  .fetchall())
    assert sorted(tuple(r) for r in rows) == want and len(want) > 100

@pytest.mark.parametrize("cap,loop", [(None, "local"), (0, "spark")])
def test_shortest_path_hops_rule_reports_loop(spark, monkeypatch, cap, loop):
    """A ``ShortestPathHops`` call reports its loop and epochs through
    ``CozoDb.last_fixed_rule_info()`` and the result metadata."""
    if cap is not None:
        monkeypatch.setattr(FP, "LOCAL_FIXPOINT_MAX_ROWS", cap)
    db = _db(spark, CHAIN)
    res = db.run_script("?[a, b, n] <~ ShortestPathHops(*edge[])")
    info = db.last_fixed_rule_info()["ShortestPathHops"]
    assert info == {"rule": "ShortestPathHops", "loop": loop, "epochs": 10}
    assert res.metadata["fixed_rules"]["ShortestPathHops"] == info
    assert sorted(tuple(r) for r in res.rows) == sorted(
        (a, b, b - a) for a in range(11) for b in range(a + 1, 11))

"""Differential fuzz: randomly generated CozoScript queries vs equivalent
DuckDB SQL on the sf0.001 TPC-H tables.

Every generated pair exercises the full compile path — parser → translate →
Catalyst — against an independent engine, over shapes nobody hand-picked:
scans with random filter conjunctions, FK joins, head projections with and
without the primary key (which also cross-checks the key-FD distinct
elision against explicit SELECT DISTINCT), and grouped aggregations over
the raw multiset stream.
"""

from __future__ import annotations

import math
import random

import duckdb
import pytest

SF = "/root/testdata/sf0.001"

# (table, pk, numeric cols with plausible ranges, string col, fk: (col, table, key))
TABLES = {
    "orders": {
        "pk": "o_orderkey",
        "nums": [("o_totalprice", 1000.0, 400000.0), ("o_custkey", 1, 1000)],
        "fk": ("o_custkey", "customer", "c_custkey"),
    },
    "customer": {
        "pk": "c_custkey",
        "nums": [("c_acctbal", -500.0, 9000.0), ("c_nationkey", 0, 24)],
        "fk": ("c_nationkey", "nation", "n_nationkey"),
    },
    "supplier": {
        "pk": "s_suppkey",
        "nums": [("s_acctbal", -500.0, 9000.0), ("s_nationkey", 0, 24)],
        "fk": ("s_nationkey", "nation", "n_nationkey"),
    },
    "part": {
        "pk": "p_partkey",
        "nums": [("p_size", 1, 50), ("p_retailprice", 900.0, 1900.0)],
        "fk": None,
    },
    "nation": {
        "pk": "n_nationkey",
        "nums": [("n_regionkey", 0, 4)],
        "fk": None,
    },
}
OPS = [(">", ">"), ("<", "<"), (">=", ">="), ("<=", "<=")]


def _filters(rnd, table, var_of):
    conds_cozo, conds_sql = [], []
    for col, lo, hi in TABLES[table]["nums"]:
        if rnd.random() < 0.5:
            continue
        op_c, op_s = rnd.choice(OPS)
        if isinstance(lo, int):
            v = rnd.randint(lo, hi)
            lit_c = lit_s = str(v)
        else:
            v = round(rnd.uniform(lo, hi), 2)
            lit_c = lit_s = repr(v)
        conds_cozo.append(f"{var_of(col)} {op_c} {lit_c}")
        conds_sql.append(f"{col} {op_s} {lit_s}")
    return conds_cozo, conds_sql


def _gen_case(rnd):
    kind = rnd.choice(["scan", "scan", "join", "agg", "neg", "topk",
                       "union", "disj", "unify", "agg_topk", "offset",
                       "neg_union"])
    if kind == "agg_topk":
        # grouped aggregation + :sort on the AGGREGATE column + :limit —
        # the output stage over aggregate heads (a past bug area)
        t = rnd.choice(list(TABLES))
        meta = TABLES[t]
        gcol = meta["nums"][-1][0]
        vcol = meta["nums"][0][0]
        k = rnd.randint(2, 8)
        desc = rnd.random() < 0.5
        cozo = (f"?[{gcol}, sum({vcol})] := *{t}{{{gcol}, {vcol}}} "
                f":sort {'-' if desc else ''}sum({vcol}), {gcol} :limit {k}")
        sql = (f"SELECT {gcol}, sum({vcol}) AS s FROM {t} GROUP BY {gcol} "
               f"ORDER BY s {'DESC' if desc else 'ASC'}, {gcol} LIMIT {k}")
        return cozo, sql, None
    if kind == "offset":
        t = rnd.choice(list(TABLES))
        meta = TABLES[t]
        scol = meta["nums"][0][0]
        k, off = rnd.randint(3, 10), rnd.randint(1, 6)
        cozo = (f"?[{meta['pk']}, {scol}] := *{t}{{{meta['pk']}, {scol}}} "
                f":sort {scol}, {meta['pk']} :limit {k} :offset {off}")
        sql = (f"SELECT {meta['pk']}, {scol} FROM {t} "
               f"ORDER BY {scol}, {meta['pk']} LIMIT {k} OFFSET {off}")
        return cozo, sql, None
    if kind == "neg_union":
        # negation of a MULTI-CLAUSE rule: not bad[x] where bad has two
        # bodies (stratified negation over a union store)
        t = rnd.choice([x for x in TABLES if TABLES[x]["fk"]])
        fk_col, t2, k2 = TABLES[t]["fk"]
        m1, m2 = TABLES[t], TABLES[t2]
        ncol, lo, hi = m2["nums"][0]
        v1 = rnd.randint(lo, hi) if isinstance(lo, int) else round(rnd.uniform(lo, hi), 2)
        v2 = rnd.randint(lo, hi) if isinstance(lo, int) else round(rnd.uniform(lo, hi), 2)
        head = [m1["pk"], fk_col]
        cozo = (f"bad[k] := *{t2}{{{k2}: k, {ncol}: nv}}, nv > {v1!r}\n"
                f"bad[k] := *{t2}{{{k2}: k, {ncol}: nv}}, nv < {v2!r}\n"
                f"?[{', '.join(head)}] := *{t}{{{m1['pk']}, {fk_col}}}, "
                f"not bad[{fk_col}]")
        sql = (f"SELECT {m1['pk']}, {fk_col} FROM {t} a WHERE NOT EXISTS ("
               f"SELECT 1 FROM {t2} b WHERE b.{k2} = a.{fk_col} "
               f"AND (b.{ncol} > {v1!r} OR b.{ncol} < {v2!r}))")
        return cozo, sql, head
    if kind == "union":
        t = rnd.choice(list(TABLES))
        meta = TABLES[t]
        col, lo, hi = meta["nums"][0]
        v1 = rnd.randint(lo, hi) if isinstance(lo, int) else round(rnd.uniform(lo, hi), 2)
        v2 = rnd.randint(lo, hi) if isinstance(lo, int) else round(rnd.uniform(lo, hi), 2)
        head = [meta["pk"], col]
        binds = ", ".join(sorted({meta["pk"], col}))
        cozo = (f"?[{', '.join(head)}] := *{t}{{{binds}}}, {col} > {v1!r}\n"
                f"?[{', '.join(head)}] := *{t}{{{binds}}}, {col} < {v2!r}")
        sql = (f"SELECT {', '.join(head)} FROM {t} WHERE {col} > {v1!r} "
               f"UNION SELECT {', '.join(head)} FROM {t} WHERE {col} < {v2!r}")
        return cozo, sql, head
    if kind == "disj":
        t = rnd.choice(list(TABLES))
        meta = TABLES[t]
        col, lo, hi = meta["nums"][0]
        v1 = rnd.randint(lo, hi) if isinstance(lo, int) else round(rnd.uniform(lo, hi), 2)
        v2 = rnd.randint(lo, hi) if isinstance(lo, int) else round(rnd.uniform(lo, hi), 2)
        head = [meta["pk"], col]
        binds = ", ".join(sorted({meta["pk"], col}))
        cozo = (f"?[{', '.join(head)}] := *{t}{{{binds}}}, "
                f"({col} > {v1!r} or {col} < {v2!r})")
        sql = (f"SELECT {', '.join(head)} FROM {t} "
               f"WHERE {col} > {v1!r} OR {col} < {v2!r}")
        return cozo, sql, head
    if kind == "unify":
        t = rnd.choice(list(TABLES))
        meta = TABLES[t]
        col, lo, hi = meta["nums"][0]
        mult = rnd.randint(2, 9)
        head = [meta["pk"], "w"]
        binds = ", ".join(sorted({meta["pk"], col}))
        cozo = (f"?[{', '.join(head)}] := *{t}{{{binds}}}, "
                f"w = {col} * {mult} + 1")
        sql = (f"SELECT {meta['pk']}, {col} * {mult} + 1 AS w FROM {t}")
        return cozo, sql, head
    if kind == "neg":
        # anti-join: rows of t with no matching t2 row passing a filter
        t = rnd.choice([x for x in TABLES if TABLES[x]["fk"]])
        fk_col, t2, k2 = TABLES[t]["fk"]
        m1, m2 = TABLES[t], TABLES[t2]
        ncol, lo, hi = m2["nums"][0]
        v = rnd.randint(lo, hi) if isinstance(lo, int) else round(rnd.uniform(lo, hi), 2)
        head = [m1["pk"], fk_col]
        # vars existentially quantified under `not` need an auxiliary rule
        # (the reference rejects negated conjunctions the same way)
        cozo = (f"bad[k] := *{t2}{{{k2}: k, {ncol}: nv}}, nv > {v!r}\n"
                f"?[{', '.join(head)}] := *{t}{{{m1['pk']}, {fk_col}}}, "
                f"not bad[{fk_col}]")
        sql = (f"SELECT {m1['pk']}, {fk_col} FROM {t} a WHERE NOT EXISTS ("
               f"SELECT 1 FROM {t2} b WHERE b.{k2} = a.{fk_col} AND b.{ncol} > {v!r})")
        return cozo, sql, head
    if kind == "topk":
        t = rnd.choice(list(TABLES))
        meta = TABLES[t]
        scol = meta["nums"][0][0]
        k = rnd.randint(3, 12)
        desc = rnd.random() < 0.5
        head = [meta["pk"], scol]
        cozo = (f"?[{', '.join(head)}] := *{t}{{{meta['pk']}, {scol}}} "
                f":sort {'-' if desc else ''}{scol}, {meta['pk']} :limit {k}")
        sql = (f"SELECT {meta['pk']}, {scol} FROM {t} "
               f"ORDER BY {scol} {'DESC' if desc else 'ASC'}, {meta['pk']} LIMIT {k}")
        return cozo, sql, head
    if kind == "scan":
        t = rnd.choice(list(TABLES))
        meta = TABLES[t]
        cols = [meta["pk"]] + [c for c, *_ in meta["nums"]]
        include_pk = rnd.random() < 0.6
        head = [c for c in cols if include_pk or c != meta["pk"]]
        rnd.shuffle(head)
        head = head[: max(1, rnd.randint(1, len(head)))]
        fc, fs = _filters(rnd, t, lambda c: c)
        binds = ", ".join(sorted(set(head) | {c for c, *_ in meta["nums"]}))
        body = f"*{t}{{{binds}}}"
        if fc:
            body += ", " + ", ".join(fc)
        cozo = f"?[{', '.join(head)}] := {body}"
        distinct = "" if meta["pk"] in head else "DISTINCT "
        where = (" WHERE " + " AND ".join(fs)) if fs else ""
        sql = f"SELECT {distinct}{', '.join(head)} FROM {t}{where}"
        return cozo, sql, head
    if kind == "join":
        t = rnd.choice([x for x in TABLES if TABLES[x]["fk"]])
        fk_col, t2, k2 = TABLES[t]["fk"]
        m1, m2 = TABLES[t], TABLES[t2]
        head = [m1["pk"], fk_col] + [m2["nums"][0][0]]
        fc1, fs1 = _filters(rnd, t, lambda c: c)
        binds1 = ", ".join(sorted({m1["pk"], fk_col}
                                  | {c for c, *_ in m1["nums"]}))
        binds2 = ", ".join(sorted({m2["nums"][0][0]}))
        cozo = (f"?[{', '.join(head)}] := *{t}{{{binds1}}}, "
                f"*{t2}{{{k2}: {fk_col}, {binds2}}}"
                + (", " + ", ".join(fc1) if fc1 else ""))
        fs = (" WHERE " + " AND ".join(f"a.{x}" for x in fs1)) if fs1 else ""
        sql = (f"SELECT a.{m1['pk']}, a.{fk_col}, b.{m2['nums'][0][0]} "
               f"FROM {t} a JOIN {t2} b ON a.{fk_col} = b.{k2}{fs}")
        return cozo, sql, head
    # agg
    t = rnd.choice(list(TABLES))
    meta = TABLES[t]
    gcol = meta["nums"][-1][0]
    vcol, *_ = meta["nums"][0]
    fc, fs = _filters(rnd, t, lambda c: c)
    binds = ", ".join(sorted({gcol, vcol, meta["pk"]}))
    cozo = (f"?[{gcol}, count({meta['pk']}), sum({vcol}), min({vcol}), max({vcol})] := "
            f"*{t}{{{binds}}}" + (", " + ", ".join(fc) if fc else ""))
    where = (" WHERE " + " AND ".join(fs)) if fs else ""
    sql = (f"SELECT {gcol}, CAST(count(*) AS BIGINT) AS c, "
           f"sum({vcol}) AS s, min({vcol}) AS mn, max({vcol}) AS mx "
           f"FROM {t}{where} GROUP BY {gcol}")
    return cozo, sql, None


def _norm(rows):
    out = []
    for r in rows:
        t = []
        for v in r:
            if isinstance(v, float):
                t.append("NaN" if math.isnan(v) else round(v, 6))
            elif hasattr(v, "item"):
                t.append(_norm([[v.item()]])[0][0])
            else:
                t.append(v)
        out.append(tuple(t))
    return sorted(out)


def _gen_graph(rnd, n_lo=6, n_hi=12, p=0.3, dag=False, weighted=False):
    """Random edge list as rows. dag=True restricts to a<b (terminating
    weighted recursions); weighted adds a small positive cost."""
    n = rnd.randint(n_lo, n_hi)
    edges = []
    for a in range(n):
        for b in range(n):
            if a == b or (dag and a >= b):
                continue
            if rnd.random() < p:
                edges.append((a, b, rnd.randint(1, 9)) if weighted else (a, b))
    if not edges:
        edges = [(0, 1, 1)] if weighted else [(0, 1)]
    return n, edges


def _gen_recursive_case(rnd):
    """(cozo script, duckdb sql) pairs over random inline graphs: transitive
    closure (cyclic), seeded closure (magic-set path), DAG min-distance
    (meet aggregation in recursion), two-relation union closure."""
    kind = rnd.choice(["closure", "seeded", "shortest", "union_closure"])
    if kind == "shortest":
        n, edges = _gen_graph(rnd, dag=True, weighted=True)
        vals_c = ", ".join(f"[{a}, {b}, {w}]" for a, b, w in edges)
        vals_s = ", ".join(f"({a}, {b}, {w})" for a, b, w in edges)
        cozo = (f"edge[a, b, w] <- [{vals_c}]\n"
                f"sp[b, min(d)] := edge[0, b, w], d = w\n"
                f"sp[c, min(d)] := sp[b, d0], edge[b, c, w], d = d0 + w\n"
                f"?[b, d] := sp[b, d]")
        sql = (f"WITH RECURSIVE e(a, b, w) AS (VALUES {vals_s}),\n"
               f"p(b, d) AS (SELECT b, w FROM e WHERE a = 0\n"
               f"  UNION SELECT e.b, p.d + e.w FROM p JOIN e ON e.a = p.b)\n"
               f"SELECT b, min(d) AS d FROM p GROUP BY b")
        return cozo, sql
    if kind == "seeded":
        n, edges = _gen_graph(rnd)
        seed_node = rnd.randrange(n)
        vals_c = ", ".join(f"[{a}, {b}]" for a, b in edges)
        vals_s = ", ".join(f"({a}, {b})" for a, b in edges)
        cozo = (f"edge[a, b] <- [{vals_c}]\n"
                f"reach[a, b] := edge[a, b]\n"
                f"reach[a, c] := reach[a, b], edge[b, c]\n"
                f"?[b] := reach[{seed_node}, b]")
        sql = (f"WITH RECURSIVE e(a, b) AS (VALUES {vals_s}),\n"
               f"r(b) AS (SELECT b FROM e WHERE a = {seed_node}\n"
               f"  UNION SELECT e.b FROM r JOIN e ON e.a = r.b)\n"
               f"SELECT b FROM r")
        return cozo, sql
    if kind == "union_closure":
        n, e1 = _gen_graph(rnd, p=0.2)
        _, e2 = _gen_graph(rnd, n_lo=n, n_hi=n, p=0.2)
        v1c = ", ".join(f"[{a}, {b}]" for a, b in e1)
        v2c = ", ".join(f"[{a}, {b}]" for a, b in e2)
        v_s = ", ".join(f"({a}, {b})" for a, b in set(e1) | set(e2))
        cozo = (f"e1[a, b] <- [{v1c}]\n"
                f"e2[a, b] <- [{v2c}]\n"
                f"reach[a, b] := e1[a, b]\n"
                f"reach[a, b] := e2[a, b]\n"
                f"reach[a, c] := reach[a, b], e1[b, c]\n"
                f"reach[a, c] := reach[a, b], e2[b, c]\n"
                f"?[a, b] := reach[a, b]")
        sql = (f"WITH RECURSIVE e(a, b) AS (VALUES {v_s}),\n"
               f"r(a, b) AS (SELECT a, b FROM e\n"
               f"  UNION SELECT r.a, e.b FROM r JOIN e ON e.a = r.b)\n"
               f"SELECT a, b FROM r")
        return cozo, sql
    n, edges = _gen_graph(rnd)
    vals_c = ", ".join(f"[{a}, {b}]" for a, b in edges)
    vals_s = ", ".join(f"({a}, {b})" for a, b in edges)
    cozo = (f"edge[a, b] <- [{vals_c}]\n"
            f"reach[a, b] := edge[a, b]\n"
            f"reach[a, c] := reach[a, b], edge[b, c]\n"
            f"?[a, b] := reach[a, b]")
    sql = (f"WITH RECURSIVE e(a, b) AS (VALUES {vals_s}),\n"
           f"r(a, b) AS (SELECT a, b FROM e\n"
           f"  UNION SELECT r.a, e.b FROM r JOIN e ON e.a = r.b)\n"
           f"SELECT a, b FROM r")
    return cozo, sql


# (cozo aggregation over value v / key pk, duckdb equivalent, is_float)
_AGG_POOL = [
    ("mean({v})", "avg({v})", True),
    ("variance({v})", "var_samp({v})", True),
    ("std_dev({v})", "stddev_samp({v})", True),
    ("count_unique({v})", "CAST(count(DISTINCT {v}) AS BIGINT)", False),
    ("sum({v})", "sum({v})", True),
    ("min({v})", "min({v})", False),
    ("max({v})", "max({v})", False),
    ("bit_and({pk})", "bit_and({pk})", False),
    ("bit_or({pk})", "bit_or({pk})", False),
    ("bit_xor({pk})", "bit_xor({pk})", False),
]


def _close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is None and b is None
        fa, fb = float(a), float(b)
        if math.isnan(fa) or math.isnan(fb):
            return math.isnan(fa) and math.isnan(fb)
        return abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b


@pytest.mark.parametrize("seed", [41, 42])
def test_fuzz_aggregation_mixes_vs_duckdb(spark, seed):
    """Random combinations of 3-4 aggregations in one rule head vs DuckDB.
    Floats compare with relative tolerance: partial (map-side) aggregation
    legitimately reorders float summation vs DuckDB's single-stream fold."""
    from cozo_spark.datalog.engine import CozoDb
    from cozo_spark.queries import _PKS, _t

    rnd = random.Random(seed)
    db = CozoDb(spark)
    con = duckdb.connect()
    for t in TABLES:
        db.register_dataframe(t, _t(spark, SF, t), keys=_PKS[t])
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    for case in range(8):
        t = rnd.choice([x for x in TABLES if len(TABLES[x]["nums"]) >= 2])
        meta = TABLES[t]
        gcol = meta["nums"][-1][0]
        vcol = meta["nums"][0][0]
        aggs = rnd.sample(_AGG_POOL, rnd.randint(3, 4))
        cozo_aggs = [a[0].format(v="v", pk="pk") for a in aggs]
        sql_aggs = [a[1].format(v=vcol, pk=meta["pk"]) for a in aggs]
        cozo = (f"?[g, {', '.join(cozo_aggs)}] := "
                f"*{t}{{{meta['pk']}: pk, {gcol}: g, {vcol}: v}}")
        sql = (f"SELECT {gcol}, {', '.join(sql_aggs)} FROM {t} "
               f"GROUP BY {gcol}")
        got = sorted([list(r) for r in db.run_script(cozo).rows])
        want = sorted([list(r) for r in con.execute(sql).fetchall()])
        assert len(got) == len(want), (cozo, len(got), len(want))
        for gr, wr in zip(got, want):
            assert len(gr) == len(wr) and all(
                _close(a, b) for a, b in zip(gr, wr)), (cozo, gr, wr)


@pytest.mark.parametrize("cap", [None, 0], ids=["default_cap", "cap0"])
@pytest.mark.parametrize("seed", [11, 22, 33])
def test_fuzz_recursion_vs_duckdb(spark, seed, cap, monkeypatch):
    """Differential fuzz of the semi-naive fixpoint (incl. the magic-set
    seeded path and meet-min recursion) against DuckDB recursive CTEs on
    random graphs — the engine paths the scan/join fuzz can't reach. Each
    seed runs at the default driver-side fixpoint cap and at cap 0, which
    sends every recursion to the Spark loop."""
    import cozo_spark.datalog.fixpoint as FP
    from cozo_spark.datalog.engine import CozoDb

    if cap is not None:
        monkeypatch.setattr(FP, "LOCAL_FIXPOINT_MAX_ROWS", cap)
    rnd = random.Random(seed)
    db = CozoDb(spark)
    con = duckdb.connect()
    for case in range(8):
        cozo, sql = _gen_recursive_case(rnd)
        got = _norm([list(r) for r in db.run_script(cozo).rows])
        want = _norm(con.execute(sql).fetchall())
        assert got == want, (cozo, sql, got[:5], want[:5], len(got), len(want))


@pytest.mark.parametrize("seed", [101, 202, 303])
def test_fuzz_engine_vs_duckdb(spark, seed):
    from cozo_spark.datalog.engine import CozoDb
    from cozo_spark.queries import _PKS, _t

    rnd = random.Random(seed)
    db = CozoDb(spark)
    con = duckdb.connect()
    for t in TABLES:
        db.register_dataframe(t, _t(spark, SF, t), keys=_PKS[t])
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    for case in range(20):
        cozo, sql, _head = _gen_case(rnd)
        got = _norm([list(r) for r in db.run_script(cozo).rows])
        want = _norm(con.execute(sql).fetchall())
        assert got == want, (cozo, sql, got[:3], want[:3],
                             len(got), len(want))

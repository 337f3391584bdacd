"""Round-12 optimization pins.

1. Magic-restricted SCCs skip the static-side materialization: a seeded
   recursion (literal or prepared) must never checkpoint the FULL static
   relation — its fixpoint is seed-bounded by construction, and an eager
   full-relation checkpoint would undo the magic rewrite at scale
   (VERDICT r11 #2).
2. fixpoint._checkpoint_count keeps its one-positional-arg monkeypatch
   seam (VERDICT r11 #1): the engine's static-side materialization is
   inlined against engine._checkpoint instead of routing a ``ck=`` kwarg
   through the fixpoint seam.
3. Distributed Louvain runs ZERO bare DataFrame.count() actions: the
   per-level community count rides the next level's comm checkpoint
   (VERDICT r11 #3).
"""

from __future__ import annotations

import inspect

from pyspark.sql import functions as F


def test_checkpoint_count_seam_is_one_positional_arg():
    from cozo_spark.datalog.fixpoint import _checkpoint_count

    sig = inspect.signature(_checkpoint_count)
    assert list(sig.parameters) == ["df"], (
        "_checkpoint_count is the test-spy seam for per-epoch delta "
        "materializations; extra parameters break every one-arg spy")


def test_magic_literal_seed_skips_static_materialization(spark):
    """Literal-seeded recursion on a 1000-chain: unrestricted closure is
    ~n²/2; the seeded tail < n. With the r12 gate no action — delta
    checkpoint OR static-side materialization — may touch more than the
    seed-reachable slice (the full edge relation is 999 rows and must
    NOT be materialized)."""
    import cozo_spark.datalog.engine as E
    import cozo_spark.datalog.fixpoint as FP
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    n = 1000
    chain = spark.range(n - 1).select(
        F.col("id").alias("fr"), (F.col("id") + 1).alias("to"))
    db.register_dataframe("edge", chain, keys=["fr", "to"])

    ck_rows = []
    orig_ck = E._checkpoint

    def ck_spy(df, *a, **k):
        out = orig_ck(df, *a, **k)
        ck_rows.append(out.count())
        return out

    cnt_counts = []
    orig_cc = FP._checkpoint_count

    def cc_spy(df):
        out, m = orig_cc(df)
        cnt_counts.append(m)
        return out, m

    E._checkpoint = ck_spy
    FP._checkpoint_count = cc_spy
    try:
        got = sorted(tuple(r) for r in db.run_script_df("""
        reach[a, b] := *edge{fr: a, to: b}
        reach[a, c] := reach[a, b], *edge{fr: b, to: c}
        ?[b] := reach[%d, b]
        :limit 5
        """ % (n - 10)).collect())
    finally:
        E._checkpoint = orig_ck
        FP._checkpoint_count = orig_cc
    assert got == [(n - 9,), (n - 8,), (n - 7,), (n - 6,), (n - 5,)]
    assert cnt_counts and max(cnt_counts) < 50, cnt_counts
    assert all(r < 50 for r in ck_rows), (
        f"a static-side materialization leaked the full relation: {ck_rows}")


def test_magic_restricted_set_recorded_on_prog():
    from cozo_spark.datalog.ast import (
        Call, Cond, Const, HeadVar, Program, RelApply, RuleApply,
        RuleClause, Var)
    from cozo_spark.datalog.magic import magic_restrict

    clause_map = {
        "reach": [
            RuleClause([HeadVar("a"), HeadVar("b")],
                       [RelApply("edge", (Var("a"), Var("b")))]),
            RuleClause([HeadVar("a"), HeadVar("c")],
                       [RuleApply("reach", (Var("a"), Var("b"))),
                        RelApply("edge", (Var("b"), Var("c")))]),
        ],
        "?": [RuleClause([HeadVar("b")],
                         [RuleApply("reach", (Const(1), Var("b")))])],
    }
    prog = Program(rules=dict(clause_map))
    magic_restrict(prog, clause_map)
    assert prog.magic_restricted == {"reach"}
    # the base clause gained the seed filter, the recursive one did not
    base_conds = [a for a in clause_map["reach"][0].body
                  if isinstance(a, Cond)]
    assert len(base_conds) == 1
    assert isinstance(base_conds[0].expr, Call)
    rec_conds = [a for a in clause_map["reach"][1].body
                 if isinstance(a, Cond)]
    assert not rec_conds


def test_unrestricted_recursion_still_materializes_static_side(spark,
                                                               monkeypatch):
    """The r11 static-side checkpoint must keep firing for recursions the
    magic rewrite does NOT bound (full closure reads every edge every
    epoch otherwise — the r11 win this gate must not regress)."""
    import cozo_spark.datalog.engine as E
    import cozo_spark.datalog.fixpoint as FP
    from cozo_spark.datalog.engine import CozoDb

    # pinned to the Spark loop: a graph this small runs on the driver
    monkeypatch.setattr(FP, "LOCAL_FIXPOINT_MAX_ROWS", 0)

    db = CozoDb(spark)
    chain = spark.range(60).select(
        F.col("id").alias("fr"), (F.col("id") + 1).alias("to"))
    db.register_dataframe("edge", chain, keys=["fr", "to"])

    ck_rows = []
    orig_ck = E._checkpoint

    def ck_spy(df, *a, **k):
        out = orig_ck(df, *a, **k)
        ck_rows.append(out.count())
        return out

    E._checkpoint = ck_spy
    try:
        got = db.run_script_df("""
        reach[a, b] := *edge{fr: a, to: b}
        reach[a, c] := reach[a, b], *edge{fr: b, to: c}
        ?[a, b] := reach[a, b]
        """).count()
    finally:
        E._checkpoint = orig_ck
    assert got == 61 * 60 // 2
    # the 60-row edge relation is materialized once by the static-side gate
    assert 60 in ck_rows, ck_rows


def _partition(df, comm_col="community", node_col="node"):
    out = {}
    for r in df.collect():
        out.setdefault(r[comm_col], set()).add(r[node_col])
    return sorted((sorted(v) for v in out.values()), key=str)


def test_louvain_dist_no_bare_count_actions(spark, monkeypatch):
    """Every driver-side scalar in the distributed Louvain loop rides a
    checkpoint Observation or the upfront m2 collect — the per-level
    ``g.select("a").distinct().count()`` job is gone (r12)."""
    from pyspark.sql import DataFrame

    from cozo_spark.fixed_rules.graphs import louvain_communities
    from cozo_spark.fixed_rules.local_graphs import (
        community_detection_louvain)

    calls = []
    orig_count = DataFrame.count

    def spy(self):
        calls.append(self)
        return orig_count(self)

    monkeypatch.setattr(DataFrame, "count", spy)

    def _clique(members):
        return [(a, b, 1.0) for a in members for b in members if a < b]

    # two levels of structure so the level loop iterates more than once
    rows = []
    for base in (0, 10, 20, 30):
        rows += _clique([base, base + 1, base + 2])
    rows += [(2, 10, 0.1), (12, 20, 0.1), (22, 30, 0.1), (32, 0, 0.1)]
    edges = spark.createDataFrame(rows, "src long, dst long, weight double")
    part = _partition(louvain_communities(edges, local_threshold=0))
    assert not calls, (
        f"{len(calls)} bare DataFrame.count() actions inside Louvain")
    # unchanged semantics: every node appears exactly once, triangles whole
    flat = sorted(n for grp in part for n in grp)
    assert flat == sorted({a for r in rows for a in r[:2]})
    monkeypatch.undo()
    local = _partition(community_detection_louvain(
        spark.createDataFrame(rows, "src long, dst long, weight double")))
    for base in (0, 10, 20, 30):
        tri = {base, base + 1, base + 2}
        assert any(tri <= set(grp) for grp in part), (base, part)
        assert any(tri <= set(grp) for grp in local), (base, local)


# ---------------------------------------------------------------------------
# window fuse: single-clause min/max aggregation + join-back → window
# (engine._window_fuse, VERDICT r11 #7)
# ---------------------------------------------------------------------------

def _plan(df) -> str:
    spark = df.sparkSession
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


def _mk_db(spark):
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    rows = [("a", 1, 10.0), ("a", 2, 7.0), ("a", 3, 12.0),
            ("b", 4, 3.0), ("b", 5, 9.0), ("c", 6, 5.0)]
    db.register_dataframe(
        "t", spark.createDataFrame(rows, "grp string, id long, v double"),
        keys=["grp", "id"])
    return db


def test_window_fuse_min_join_back(spark):
    db = _mk_db(spark)
    df = db.run_script_df("""
    base[g, min(v)] := *t{grp: g, v}
    ?[g, id, v, d] := *t{grp: g, id, v}, base[g, m], d = v - m
    """)
    got = sorted(tuple(r) for r in df.collect())
    assert got == [("a", 1, 10.0, 3.0), ("a", 2, 7.0, 0.0),
                   ("a", 3, 12.0, 5.0), ("b", 4, 3.0, 0.0),
                   ("b", 5, 9.0, 6.0), ("c", 6, 5.0, 0.0)]
    # hmm: base reads *t (a relation), not a rule store — fuse only
    # targets rule-store sources; this pins the RELATION case is exact
    # either way (fused or not)


def test_window_fuse_rule_store_source_fuses(spark):
    """The reorder_sort_rank shape: x is a derived rule read twice —
    after the fuse the plan carries a Window and the x subtree once."""
    db = _mk_db(spark)
    df = db.run_script_df("""
    x[g, id, v] := *t{grp: g, id, v}
    base[g, min(v)] := x[g, id, v]
    ?[g, id, rk] := x[g, id, v], base[g, m], rk = v - m
    """)
    got = sorted(tuple(r) for r in df.collect())
    assert got == [("a", 1, 3.0), ("a", 2, 0.0), ("a", 3, 5.0),
                   ("b", 4, 0.0), ("b", 5, 6.0), ("c", 6, 0.0)]
    plan = _plan(db.run_script_df("""
    x[g, id, v] := *t{grp: g, id, v}
    base[g, min(v)] := x[g, id, v]
    ?[g, id, rk] := x[g, id, v], base[g, m], rk = v - m
    """))
    assert "Window" in plan, plan
    # no join remains: the aggregate store was fused away
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_window_fuse_bails_on_non_meet_aggr(spark):
    """sum/count are multiplicity-sensitive over the match stream — the
    fuse must not touch them; the join-back stays and results are the
    reference semantics."""
    db = _mk_db(spark)
    script = """
    x[g, id, v] := *t{grp: g, id, v}
    base[g, sum(v)] := x[g, id, v]
    ?[g, id, s] := x[g, id, v], base[g, s]
    """
    plan = _plan(db.run_script_df(script))
    assert "Window" not in plan
    got = sorted(tuple(r) for r in db.run_script_df(script).collect())
    assert got == [("a", 1, 29.0), ("a", 2, 29.0), ("a", 3, 29.0),
                   ("b", 4, 12.0), ("b", 5, 12.0), ("c", 6, 5.0)]


def test_window_fuse_bails_when_agg_var_bound_elsewhere(spark):
    """m joined against another atom is a VALUE JOIN, not a plain read —
    the fuse must bail and keep the exact join semantics."""
    db = _mk_db(spark)
    got = sorted(tuple(r) for r in db.run_script_df("""
    x[g, id, v] := *t{grp: g, id, v}
    base[g, min(v)] := x[g, id, v]
    ?[g, id] := x[g, id, m], base[g, m]
    """).collect())
    # only the rows whose v IS the group minimum survive
    assert got == [("a", 2), ("b", 4), ("c", 6)]


def test_window_fuse_constant_filter_after_window(spark):
    """A constant in the consumer's x application filters AFTER the
    window: m stays the min over the FULL group, not the filtered rows."""
    db = _mk_db(spark)
    got = sorted(tuple(r) for r in db.run_script_df("""
    x[g, id, v] := *t{grp: g, id, v}
    base[g, min(v)] := x[g, id, v]
    ?[g, id, m] := x[g, 3, v], base[g, m], id = 3
    """).collect())
    assert got == [("a", 3, 7.0)]


def test_window_fuse_max_and_multi_agg(spark):
    db = _mk_db(spark)
    got = sorted(tuple(r) for r in db.run_script_df("""
    x[g, id, v] := *t{grp: g, id, v}
    span[g, min(v), max(v)] := x[g, id, v]
    ?[g, id, lo, hi] := x[g, id, v], span[g, lo, hi], v == hi
    """).collect())
    assert got == [("a", 3, 7.0, 12.0), ("b", 5, 3.0, 9.0),
                   ("c", 6, 5.0, 5.0)]


def test_minhash_simhash_sentinel_no_join_back(spark):
    """r12: minhash_signatures / simhash cover token-less docs via a
    sentinel (id, NULL) gram row through the ONE aggregation — the former
    LeftOuter join-back (broadcast barrier + a second scan of the document
    table) must be gone from both plans, and the token-less outputs must
    keep their documented values (identity signature / simhash 0)."""
    from cozo_spark.operators.dedup import _MERSENNE, minhash_signatures, simhash

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),            # empty text
        (3, "   \t  "),     # whitespace only
        (4, None),          # NULL text
        (5, "one two"),     # shorter than shingle_n=3 -> single short gram
        (6, "the quick brown fox jumps over the lazy dog"),  # dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for hash_fn in ("md5", "xxhash64"):
        sigs_df = minhash_signatures(df, hash_fn=hash_fn)
        plan = sigs_df._jdf.queryExecution().optimizedPlan().toString()
        assert "Join" not in plan, f"join-back resurfaced ({hash_fn}): {plan}"
        sig = {r["doc_id"]: r["sig"] for r in sigs_df.collect()}
        assert set(sig) == {1, 2, 3, 4, 5, 6}  # every doc covered
        for empty_doc in (2, 3, 4):
            assert sig[empty_doc] == [_MERSENNE] * 64
        assert sig[1] == sig[6] and all(v < _MERSENNE for v in sig[1])
        assert all(v < _MERSENNE for v in sig[5])

    sh_df = simhash(df)
    plan = sh_df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan, f"join-back resurfaced (simhash): {plan}"
    sh = {r["doc_id"]: r["simhash"] for r in sh_df.collect()}
    assert set(sh) == {1, 2, 3, 4, 5, 6}
    assert sh[2] == 0 and sh[3] == 0 and sh[4] == 0
    assert sh[1] == sh[6] and sh[1] != 0


def test_spread_small_input_fans_out_heavy_map_stages(spark):
    """r12: the shingle/tokenize/encode map work of substring_dup_spans,
    _shingles consumers, keyword_topk and the ANN builds runs AFTER a
    doc/vec-level spread — a small single-row-group parquet scans as ONE
    task, which serialized those stages on one core. Pin (a) the spread
    fans a 1-partition source out to defaultParallelism, (b) it is a
    no-op when the source already has enough partitions (the real-scale
    shape), and (c) spread changes no results on a representative
    operator."""
    from cozo_spark.operators.dedup import (_spread_small_input,
                                            substring_dup_spans)

    one = spark.createDataFrame(
        [(i, f"tok{i} " * 12) for i in range(40)],
        "doc_id long, text string").coalesce(1)
    assert one.rdd.getNumPartitions() == 1
    spread = _spread_small_input(one, "doc_id")
    assert spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism

    wide = one.repartition(spark.sparkContext.defaultParallelism + 3, "doc_id")
    assert _spread_small_input(wide, "doc_id") is wide  # no added shuffle

    dup_text = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    docs = spark.createDataFrame(
        [(1, dup_text), (2, dup_text + " extra tail words here"),
         (3, "unrelated content entirely different words " * 3)],
        "doc_id long, text string")
    rows = {r["doc_id"]: (r["n_dup_spans"], r["n_dup_tokens"])
            for r in substring_dup_spans(docs).collect()}
    assert set(rows) == {1, 2}  # doc 3 shares no 8-token window
    assert rows[1] == (1, 10)   # the whole 10-token doc is one dup span

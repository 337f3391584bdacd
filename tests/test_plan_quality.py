"""Plan-quality assertions: the properties that decide whether a plan
survives a 100× scale-up. These are the .explain('formatted') checks the
operators were tuned against — kept as tests so regressions surface."""

from __future__ import annotations

import pytest

from tests.conftest import SF_ORACLE


@pytest.fixture(scope="module")
def props(spark):
    from cozo_spark.plans.inspect import plan_properties

    def get(qname):
        from cozo_spark import queries as Q

        return plan_properties(Q.QUERIES[qname](spark, SF_ORACLE))

    return get


def test_scan_pushdown(props):
    p = props("scan_filter_project")
    # range + equality filters reach the parquet scan
    assert p["pushed_filters"], p["plan"][:2000]
    joined = ",".join(p["pushed_filters"])
    assert "l_quantity" in joined and "l_returnflag" in joined
    # projection pruned: none of the 7 unreferenced columns are read
    assert all("l_extendedprice" not in s and "l_shipdate" not in s
               and "l_suppkey" not in s for s in p["read_schemas"]), p["read_schemas"]


def test_join_point_lookup_broadcasts(props):
    p = props("join_point_lookup")
    assert p["n_broadcast_joins"] >= 1
    assert p["n_sortmerge_joins"] == 0


def test_multiway_join_broadcasts_dims(props):
    p = props("join_multiway")
    # nation + region broadcast; orders⋈customer may be any strategy
    assert p["n_broadcast_joins"] >= 2


def test_topk_is_take_ordered(props):
    # :order + :limit compiles to TakeOrdered (per-partition heap + driver
    # merge), not a full sort — the difference between O(n log k) and a
    # cluster-wide range-partitioned sort at 100 TB
    p = props("sort_topk")
    assert p["has_take_ordered"], p["plan"][:1500]


def test_agg_partial_before_shuffle(props):
    p = props("agg_basic")
    # partial_ aggregate functions before the exchange = map-side combine
    assert "partial_sum" in p["plan"] or "partial_count" in p["plan"]


def test_anti_join_no_extra_shuffle(props):
    p = props("neg_join_anti")
    # customer vs orders anti-join: orders side reduced to the join key only
    assert any("o_custkey" in s and "o_orderkey" not in s for s in p["read_schemas"]), \
        p["read_schemas"]


def test_dedup_exact_prunes_text(props):
    # the md5 groupBy needs text but not lang/source columns
    p = props("dedup_exact")
    assert all("lang" not in s and "source" not in s for s in p["read_schemas"]), \
        p["read_schemas"]


def test_vectorized_scans(props):
    # Batched: true = vectorized columnar parquet reader feeding codegen
    # stages (AQE hides codegen ids pre-execution; batched scan is the
    # visible proxy)
    for q in ("agg_basic", "join_multiway", "validity_asof"):
        p = props(q)
        assert p["batched_scan"], f"{q} scan is not vectorized"


def test_datalog_engine_pushes_filters(spark):
    """Filters written in CozoScript reach the parquet scan through the
    engine's translation — Catalyst pushdown composes with our translator."""
    from cozo_spark.datalog.engine import CozoDb
    from cozo_spark.plans.inspect import plan_properties

    db = CozoDb(spark)
    db.register_dataframe(
        "lineitem", spark.read.parquet(f"{SF_ORACLE}/lineitem.parquet"))
    df = db.run_script_df(
        "?[k, q] := *lineitem{l_orderkey: k, l_quantity: q}, q > 45.0")
    p = plan_properties(df)
    assert any("l_quantity" in f for f in p["pushed_filters"]), p["pushed_filters"]
    # column pruning: only the two referenced columns are read
    assert any("l_orderkey" in s and "l_partkey" not in s for s in p["read_schemas"]), \
        p["read_schemas"]


def test_constant_binding_pushed_to_scan(spark):
    """A constant bound in a relation-atom position (the same restriction the
    magic-set rewrite injects into base clauses) materializes as an ordinary
    equality predicate, and Catalyst pushes it into the parquet scan —
    goal-directed queries start from a pruned scan, not a full-table scan.
    (The derived-column edge frames used by the graph queries can't push —
    the filter sits above the projection — so this asserts on a parquet-backed
    relation, the case that matters at 100 TB.)"""
    from pyspark.sql import functions as F

    from cozo_spark.datalog.engine import CozoDb
    from cozo_spark.plans.inspect import plan_properties

    db = CozoDb(spark)
    edges = (
        spark.read.parquet(f"{SF_ORACLE}/orders.parquet")
        .select(F.col("o_custkey").alias("src"), F.col("o_orderkey").alias("dst"))
    )
    db.register_dataframe("edge", edges)
    df = db.run_script_df("?[b] := *edge[1, b]")
    p = plan_properties(df)
    joined = ",".join(p["pushed_filters"])
    assert "o_custkey" in joined and ("EqualTo" in joined or "1" in joined), \
        p["pushed_filters"]


def test_dedup_pipelines_have_no_python_stages(props):
    """MinHash/SimHash/LSH run fully JVM-side: any ArrowEvalPython /
    BatchEvalPython / FlatMapGroupsInPandas node would reintroduce the
    Python-worker stage cost the kernels were rewritten to avoid (and at
    scale, Arrow serialization of the token stream)."""
    for q in ("minhash_lsh_pairs", "simhash_pairs", "dedup_exact",
              "ngram_jaccard", "doc_fingerprint"):
        plan = props(q)["plan"]
        for node in ("ArrowEvalPython", "BatchEvalPython",
                     "FlatMapGroupsInPandas", "MapInPandas"):
            assert node not in plan, f"{q} contains {node}"


def test_minhash_xxhash64_variant_plan(spark):
    """The production shingle hash (hash_fn='xxhash64') keeps the same plan
    shape — xxhash64 in place of the md5+conv chain, still zero Python
    stages, still map-side partial aggregation."""
    from pyspark.sql import functions as F

    from cozo_spark.operators.dedup import minhash_lsh_dedup_pairs
    from cozo_spark.plans.inspect import plan_properties

    docs = (spark.read.parquet(f"{SF_ORACLE}/documents.parquet")
            .filter(F.col("doc_id") < 200))
    df = minhash_lsh_dedup_pairs(docs, threshold=0.3, num_perm=16,
                                 shingle_n=3, bands=4, hash_fn="xxhash64")
    p = plan_properties(df)
    assert "xxhash64" in p["plan"].lower(), p["plan"][:2000]
    assert "md5" not in p["plan"].lower(), "md5 chain should be gone"
    for node in ("ArrowEvalPython", "BatchEvalPython",
                 "FlatMapGroupsInPandas", "MapInPandas"):
        assert node not in p["plan"]
    assert "partial_min" in p["plan"] or "partial min" in p["plan"].lower()
    # and it still finds the planted near-dups (values differ from the md5
    # path only through hash collisions, not semantics)
    assert df.count() > 0


def test_generated_methods_fit_the_jit_limit(spark):
    """HotSpot never JIT-compiles a method over 8000 bytes, so a whole-stage
    method above that runs interpreted. The session caps whole-stage methods
    at 8000 bytes; after collect() no analytics query runs a bigger one.
    Only minhash's 64-term verify stage is over the cap, and it runs as
    per-operator code; under Spark's default cap it would count."""
    from cozo_spark import queries as Q
    from cozo_spark.plans.inspect import (max_method_bytes,
                                          whole_stage_method_bytes)
    from perfbench.workloads import ANALYTICS_QUERIES

    key = "spark.sql.codegen.hugeMethodLimit"
    assert spark.conf.get(key) == "8000"
    over = {}
    for q in ANALYTICS_QUERIES:
        df = Q.QUERIES[q](spark, SF_ORACLE)
        df.collect()
        assert max_method_bytes(df) <= 8000, q
        big = [n for n in whole_stage_method_bytes(df) if n > 8000]
        if big:
            over[q] = (df, max(big))
    assert set(over) == {"minhash_lsh_pairs"}, over
    df, big = over["minhash_lsh_pairs"]
    spark.conf.unset(key)
    try:
        assert max_method_bytes(df) == big
    finally:
        spark.conf.set(key, "8000")


def test_minhash_aggregate_is_partial(props):
    """The 64-min signature aggregate must partial-aggregate map-side so the
    shuffle carries one 512B row per doc, not the token stream."""
    p = props("minhash_lsh_pairs")
    assert "partial_min" in p["plan"] or "partial min" in p["plan"].lower(), \
        p["plan"][:3000]


def test_ann_broadcasts_queries(props):
    """Query side (5 vectors) must broadcast against the corpus scan — as a
    BroadcastNestedLoopJoin (the scoring cross join) — and never fall back to
    a shuffled sort-merge join."""
    p = props("ann_cosine_topk")
    assert p["n_broadcast_joins"] >= 1 or "BroadcastNestedLoopJoin" in p["plan"]
    assert p["n_sortmerge_joins"] == 0


# --- key-FD distinct elision (translate.py ClauseTranslator) -------------------


def _n_aggregates(df):
    return df._jdf.queryExecution().optimizedPlan().toString().count("Aggregate")


def test_fd_elision_keyed_scan(spark):
    """Head covers the relation's declared PK -> set-semantics distinct is
    provably a no-op and the plan has no dedup Aggregate/Exchange."""
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.run_script(":create kv {k: Int => v: Int}")
    db.run_script("?[k, v] <- [[1, 10], [2, 20], [3, 20]] :put kv {k => v}")
    db.run_script("::compact")  # flush the lazy write plan; assert the SCAN
    out = db.run_script_df("?[k, v] := *kv[k, v], v >= 10")
    assert _n_aggregates(out) == 0, out._jdf.queryExecution().optimizedPlan().toString()
    assert out.count() == 3


def test_fd_elision_point_join(spark):
    """Joining a second relation on its FULL key preserves the left key, so
    the join output needs no dedup either."""
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.run_script(":create a {k: Int => fk: Int}")
    db.run_script(":create b {k2: Int => w: Int}")
    db.run_script("?[k, fk] <- [[1, 7], [2, 7], [3, 8]] :put a {k => fk}")
    db.run_script("?[k2, w] <- [[7, 70], [8, 80]] :put b {k2 => w}")
    db.run_script("::compact")  # flush the lazy write plans; assert the JOIN
    out = db.run_script_df("?[k, w] := *a{k, fk}, *b{k2: fk, w}")
    assert _n_aggregates(out) == 0, out._jdf.queryExecution().optimizedPlan().toString()
    assert sorted(tuple(r) for r in out.collect()) == [(1, 70), (2, 70), (3, 80)]


def test_fd_no_elision_without_key_in_head(spark):
    """Head drops the key -> duplicates are semantically possible and the
    distinct must stay (set semantics preserved)."""
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.run_script(":create kv2 {k: Int => v: Int}")
    db.run_script("?[k, v] <- [[1, 10], [2, 10], [3, 20]] :put kv2 {k => v}")
    out = db.run_script_df("?[v] := *kv2[k, v]")
    assert _n_aggregates(out) >= 1
    assert sorted(r[0] for r in out.collect()) == [10, 20]


def test_fd_no_elision_untrusted_registration(spark):
    """register_dataframe without explicit keys makes no uniqueness promise:
    a duplicate-bearing frame still deduplicates (keys_trusted gate)."""
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    dup = spark.createDataFrame([(1, "x"), (1, "x"), (2, "y")], "k long, v string")
    db.register_dataframe("dup", dup)
    out = db.run_script_df("?[k, v] := *dup{k, v}")
    assert sorted(tuple(r) for r in out.collect()) == [(1, "x"), (2, "y")]


def test_fd_elision_join_duplicating_side_keeps_distinct(spark):
    """Semi-join shape: joining lineitem-style child rows duplicates the
    parent; head over parent cols only -> distinct retained for correctness."""
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.run_script(":create p {k: Int => nm: String}")
    db.run_script(":create ch {ck: Int, pk: Int => q: Int}")
    db.run_script("?[k, nm] <- [[1, 'a'], [2, 'b']] :put p {k => nm}")
    db.run_script("?[ck, pk, q] <- [[10, 1, 5], [11, 1, 6], [12, 2, 1]] :put ch {ck, pk => q}")
    out = db.run_script_df("?[k, nm] := *p{k, nm}, *ch{pk: k, q}, q > 2")
    assert sorted(tuple(r) for r in out.collect()) == [(1, "a")]
    assert _n_aggregates(out) >= 1  # dedup stays: child join duplicates parent


# --- bucketing & salting (plans/scale.py) --------------------------------------


def test_bucketed_join_is_exchange_free(spark, tmp_path_factory):
    """Two tables bucketed+sorted on the join key: the join runs with ZERO
    shuffle exchanges — the layout decision that makes repeated fact joins
    cheap at 100 TB."""
    from cozo_spark.plans.scale import (bucketed, join_is_exchange_free,
                                        save_bucketed)

    a = spark.range(0, 10000).selectExpr("id AS k", "id * 2 AS va")
    b = spark.range(0, 5000).selectExpr("id AS k", "id * 3 AS vb")
    save_bucketed(a, "bkt_a", ["k"], buckets=8)
    save_bucketed(b, "bkt_b", ["k"], buckets=8)
    try:
        j = bucketed(spark, "bkt_a").join(bucketed(spark, "bkt_b"), "k")
        assert j.count() == 5000
        assert join_is_exchange_free(j), \
            j._jdf.queryExecution().executedPlan().toString()[:2000]
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_salt_join_matches_plain_join(spark):
    """salt_join = plain join semantics under pathological key skew."""
    from cozo_spark.plans.scale import salt_join

    import random
    rnd = random.Random(5)
    big = spark.createDataFrame(
        [(0 if rnd.random() < 0.8 else rnd.randint(1, 5), i)
         for i in range(5000)], "k long, v long")
    small = spark.createDataFrame([(i, f"dim{i}") for i in range(6)],
                                  "k long, name string")
    plain = big.join(small, "k")
    salted = salt_join(big, small, "k", n_salts=8)
    assert salted.count() == plain.count() == 5000
    ps = sorted(tuple(r) for r in plain.select("k", "v", "name").collect())
    ss = sorted(tuple(r) for r in salted.select("k", "v", "name").collect())
    assert ps == ss


def test_fixpoint_novelty_anti_join_broadcasts(spark):
    """The fixpoint's novelty check (delta = candidates minus total) must be
    a broadcast LEFT-ANTI while the running total is small — one shuffle per
    epoch (the candidate distinct), not two. Past _BROADCAST_FRONTIER it
    degrades to a shuffle anti; either way it must never plan a cartesian."""
    from cozo_spark.datalog.fixpoint import _anti_all_cols
    from cozo_spark.plans.inspect import plan_properties

    cand = spark.range(0, 1000).selectExpr("id AS src", "id + 1 AS dst")
    total = spark.range(0, 500).selectExpr("id AS src", "id + 1 AS dst")
    p = plan_properties(_anti_all_cols(cand, total, broadcast=True))
    assert "BroadcastHashJoin" in p["plan"] and "LeftAnti" in p["plan"], \
        p["plan"][:2000]
    assert "CartesianProduct" not in p["plan"]
    assert "BroadcastNestedLoopJoin" not in p["plan"], p["plan"][:2000]
    # and correctness: equals exceptAll on set inputs
    got = sorted(tuple(r) for r in _anti_all_cols(cand, total, broadcast=True).collect())
    want = sorted(tuple(r) for r in cand.exceptAll(total).collect())
    assert got == want


def test_fixpoint_novelty_anti_join_null_safe(spark):
    """Null tuples dedup correctly through the null-safe anti-join (a plain
    equality anti would treat NULL != NULL and re-emit the tuple forever —
    a fixpoint non-termination bug, not just a wrong answer)."""
    from cozo_spark.datalog.fixpoint import _anti_all_cols

    cand = spark.createDataFrame([(1, None), (2, 5), (None, None)],
                                 "a int, b int")
    total = spark.createDataFrame([(1, None), (None, None)], "a int, b int")
    got = sorted(tuple(r) for r in _anti_all_cols(cand, total, broadcast=True).collect())
    assert got == [(2, 5)]


def test_persist_relation_makes_pk_joins_exchange_free(spark):
    """CozoDb.persist_relation: two relations bucketed on their PKs join
    exchange-free THROUGH the engine, and the relation stays queryable and
    mutable afterwards."""
    from cozo_spark.datalog.engine import CozoDb
    from cozo_spark.plans.scale import join_is_exchange_free

    db = CozoDb(spark)
    db.register_dataframe(
        "pfact", spark.range(0, 20000).selectExpr("id AS k", "id * 2 AS v"),
        keys=["k"])
    db.register_dataframe(
        "pdim", spark.range(0, 20000).selectExpr("id AS k", "id * 3 AS w"),
        keys=["k"])
    try:
        db.persist_relation("pfact", buckets=8)
        db.persist_relation("pdim", buckets=8)
        j = db.run_script_df("?[k, v, w] := *pfact[k, v], *pdim[k, w]")
        assert j.count() == 20000
        assert join_is_exchange_free(j), \
            j._jdf.queryExecution().executedPlan().toString()[:2000]
        # still mutable: a :put rebuilds the in-memory view over the scan
        db.run_script("?[k, v] <- [[20001, 1]] :put pfact {k => v}")
        assert db.run_script("?[v] := *pfact[20001, v]").rows == [[1]]
    finally:
        spark.sql("DROP TABLE IF EXISTS cozo_bucketed_pfact")
        spark.sql("DROP TABLE IF EXISTS cozo_bucketed_pdim")


def test_const_rule_put_runs_zero_jobs(spark):
    """The OLTP write shape — a deterministic const-rule :put — must not
    launch any Spark job: the delta merges lazily and compaction is
    amortized (log-structured write path)."""
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.register_dataframe(
        "wz", spark.range(0, 100000).selectExpr("id AS k", "id AS v"),
        keys=["k"])
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    for i in range(3):  # stay under the compaction threshold
        db.run_script(f"?[k, v] <- [[{900000 + i}, 1]] :put wz {{k => v}}")
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert after == before, f"{after - before} jobs launched by 3 const puts"
    # the merged state is correct once read
    assert db.run_script("?[v] := *wz[900001, v]").rows == [[1]]


def test_substring_dedup_plan(props):
    """Span dedup must stay JVM-side, keep its windows doc-partitioned
    (never 'No Partition Defined'), and pre-aggregate the shingle counts
    map-side before the hash shuffle."""
    p = props("substring_dedup")
    for node in ("ArrowEvalPython", "BatchEvalPython",
                 "FlatMapGroupsInPandas", "MapInPandas"):
        assert node not in p["plan"], f"contains {node}"
    assert "Exchange SinglePartition" not in p["plan"], p["plan"][:2000]
    assert "partial_count" in p["plan"] or "partial count" in p["plan"].lower()


def test_lm_quality_broadcasts_frequency_table(props):
    """The token-frequency table joins back by BROADCAST — re-shuffling
    the exploded token stream on tok would dwarf every other stage at
    corpus scale."""
    p = props("lm_quality_score")
    assert p["n_broadcast_joins"] >= 1, p["plan"][:2000]
    assert p["n_sortmerge_joins"] == 0


def test_pq_topk_plan(spark):
    """PQ ADC: the LUT join must broadcast (the LUT is |q|*m*k rows) and
    the whole scoring path stays JVM-side."""
    from cozo_spark.operators.similarity import pq_build, pq_ip_topk
    from cozo_spark.plans.inspect import plan_properties

    emb = spark.read.parquet(f"{SF_ORACLE}/embeddings.parquet")
    codebook, codes = pq_build(emb, m=4, k_codes=8)
    df = pq_ip_topk(emb.filter("vec_id < 5"), codebook, codes, k=10)
    p = plan_properties(df)
    assert p["n_broadcast_joins"] >= 1, p["plan"][:2000]
    for node in ("ArrowEvalPython", "BatchEvalPython",
                 "FlatMapGroupsInPandas", "MapInPandas"):
        assert node not in p["plan"]


# --- prepared binds -------------------------------------------------------------


def _spark_jobs(spark, df, tag):
    """(number of Spark jobs one collect of ``df`` runs, its sorted rows)"""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        rows = sorted(tuple(r) for r in df.collect())
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(tag) or []), rows


def _inline(script, params):
    for k, v in params.items():
        script = script.replace(f"${k}", repr(v))
    return script


PREPARED_KEYED = {
    "pk": ("?[nm, nk] := *pcust{ck: $k, nm, nk}", {"k": 3}, {"k": 7}),
    "kv_point": ("?[v, w] := *pkv{k: $k, v, w}", {"k": 1}, {"k": 2}),
    "topk": ("?[ok, price] := *pord{ok, price, prio: $prio}, price < $cap\n"
             ":order -price, ok\n:limit 10",
             {"prio": "p1", "cap": 500.0}, {"prio": "p2", "cap": 800.0}),
}


@pytest.mark.parametrize("kind", sorted(PREPARED_KEYED))
def test_prepared_keyed_bind_has_no_dedup_shuffle(spark, kind):
    """A bound skeleton whose rows a key proves unique (the key lies in the
    head plus the vars a `{col: $p}` binding pins) needs no distinct: the
    bind runs as one job like the literal script, not two."""
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.register_dataframe("pcust", spark.range(500).selectExpr(
        "id AS ck", "id % 25 AS nk", "concat('c', id) AS nm"), keys=["ck"])
    db.register_dataframe("pord", spark.range(2000).selectExpr(
        "id AS ok", "cast(id * 7 % 1000 AS double) AS price",
        "concat('p', id % 5) AS prio"), keys=["ok"])
    db.run_script(":create pkv {k: Int => v: Int, w: Int}")
    db.run_script("?[k, v, w] <- [[1, 10, 100], [2, 20, 200]] "
                  ":put pkv {k => v, w}")
    db.run_script("::compact")
    script, first, second = PREPARED_KEYED[kind]
    db.run_script_df(script, first)  # builds the skeleton
    ent = CozoDb._skel_cache.get(db._skel_key(script, second))
    assert ent is not None and "head" in ent, "not a flat skeleton"
    bound = db.run_script_df(script, second)
    plan = bound._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    n_bound, got = _spark_jobs(spark, bound, f"prepared-{kind}")
    n_lit, want = _spark_jobs(
        spark, db.run_script_df(_inline(script, second)), f"literal-{kind}")
    assert got == want and got
    assert n_bound == n_lit, (n_bound, n_lit)


def test_prepared_bind_keeps_distinct_for_user_equality(spark):
    """`b == $x` is a user condition, not a column binding: Cozo's `==`
    equates 115 and 115.0, which are distinct keys, so b does not count as
    pinned and the bind keeps its distinct."""
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.run_script(":create pedge {fr: Int, to: Any}")
    db.run_script("?[a, b] <- [[102, 115]] :put pedge {fr, to}")
    db.run_script("?[a, b] <- [[102, 115.0]] :put pedge {fr, to}")
    assert len(db.run_script("?[a, b] := *pedge{fr: a, to: b}").rows) == 2
    script = "?[a] := *pedge{fr: a, to: b}, b == $x"
    db.run_script_df(script, {"x": 1})
    for x in (115, 115.0, "115"):
        bound = db.run_script_df(script, {"x": x})
        # the analyzed plan: the optimizer folds a type-mismatched
        # equality to an empty relation, the bind's dedup stays visible
        plan = bound._jdf.queryExecution().analyzed().toString()
        assert plan.startswith("Deduplicate [a#"), plan
        got = sorted(tuple(r) for r in bound.collect())
        want = sorted(tuple(r) for r in
                      db.run_script_df(_inline(script, {"x": x})).collect())
        assert got == want, x


# py4j round-trips of one warm bind of the benchmark's interactive `pk` and
# `agg` reads. The limits are the counts measured before the plain-head and
# aggregation-head skeletons were merged into one (49 and 95, the same at
# sf0.001 and sf0.1): plan construction, not execution, is what a bind pays
# on every call.
PREPARED_BIND_CALLS = {
    "pk": ("?[c_name, c_nationkey, c_acctbal, c_mktsegment] := "
           "*customer{c_custkey: $k, c_name, c_nationkey, c_acctbal, "
           "c_mktsegment}", [{"k": 1}, {"k": 2}, {"k": 3}], 49),
    "agg": ("?[o_orderstatus, count(k), sum(p)] := "
            "*customer{c_custkey: c, c_nationkey: $n}, "
            "*orders{o_orderkey: k, o_custkey: c, o_orderstatus, "
            "o_totalprice: p}, p > $min_price",
            [{"n": 1, "min_price": 0.0}, {"n": 2, "min_price": 9000.0},
             {"n": 3, "min_price": 18000.0}], 95),
}


@pytest.mark.parametrize("kind", sorted(PREPARED_BIND_CALLS))
def test_prepared_bind_py4j_calls(spark, kind, monkeypatch):
    import gc
    import threading

    import py4j.java_gateway as jg

    from cozo_spark.datalog.engine import CozoDb
    from cozo_spark.datalog.parser import parse_script
    from tests.conftest import SF_SMALL

    db = CozoDb(spark)
    for t, k in (("customer", "c_custkey"), ("orders", "o_orderkey"),
                 ("nation", "n_nationkey")):
        db.register_dataframe(
            t, spark.read.parquet(f"{SF_SMALL}/{t}.parquet"), keys=[k])
    script, values, limit = PREPARED_BIND_CALLS[kind]
    for params in values[:2]:  # build, then one bind warms the skeleton
        db.run_script_df(script, params).collect()
    ent = CozoDb._skel_cache.get(db._skel_key(script, values[0]))
    assert ent is not None
    parsed = parse_script(script, values[2])
    me = threading.get_ident()
    calls = [0]
    send = jg.GatewayClient.send_command

    def counting(self, *a, **k):
        if threading.get_ident() == me:
            calls[0] += 1
        return send(self, *a, **k)

    def bind_calls() -> int:
        # a cyclic-GC pass mid-bind would add py4j reference releases
        # (also sent through send_command) that the bind did not cause
        gc.collect()
        gc.disable()
        calls[0] = 0
        monkeypatch.setattr(jg.GatewayClient, "send_command", counting)
        try:
            db._bind_skeleton(ent, values[2], parsed)
        finally:
            monkeypatch.setattr(jg.GatewayClient, "send_command", send)
            gc.enable()
        return calls[0]

    n = min(bind_calls() for _ in range(2))
    assert n <= limit, (kind, n)


def test_prepared_window_fuse_keeps_fused_plan(spark):
    """A prepared entry of the window-fuse shape (single-clause min/max
    store joined back onto its source) binds to the fused plan — a Window,
    no join — and the rows of the literal script."""
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    rows = [("a", 1, 10.0), ("a", 2, 7.0), ("a", 3, 12.0),
            ("b", 4, 3.0), ("b", 5, 9.0), ("c", 6, 5.0)]
    db.register_dataframe(
        "t", spark.createDataFrame(rows, "grp string, id long, v double"),
        keys=["grp", "id"])
    script = """
    x[g, id, v] := *t{grp: g, id, v}
    base[g, min(v)] := x[g, id, v]
    ?[g, id, rk] := x[g, id, v], base[g, m], rk = v - m, g == $g
    """
    for g in ("a", "b", "a"):
        df = db.run_script_df(script, {"g": g})
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Window" in plan, plan
        assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
        want = db.run_script_df(_inline(script, {"g": g}))
        assert sorted(tuple(r) for r in df.collect()) == \
            sorted(tuple(r) for r in want.collect())
    ent = CozoDb._skel_cache.get(db._skel_key(script, {"g": "a"}))
    assert ent is not None and "head" in ent, "not a hoisted skeleton"


# --- index search atoms ---------------------------------------------------------


def test_fts_bound_term_read_is_one_job(spark):
    """A bound single-term FTS read that misses the plan cache scores from
    the posting rows alone (each carries its term's doc_freq), reads no
    relation column and needs no distinct (one row per document): the
    whole call is one Spark job, with no exchange in its plan."""
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.register_dataframe("fdocs", spark.range(400).selectExpr(
        "id AS doc_id",
        "concat('w', id % 7, ' w', id % 11, ' common') AS text"),
        keys=["doc_id"])
    db.run_script("::fts create fdocs:ft {extractor: 'text'}")
    script = ("?[doc_id, score] := "
              "~fdocs:ft{doc_id | query: $q, k: 10, bind_score: score}")
    db.run_script(script, {"q": "common"})  # builds the index
    sc = spark.sparkContext
    for i, term in enumerate(("w3", "w5", "w10")):
        tag = f"fts-bound-{i}"
        sc.setJobGroup(tag, tag)
        try:
            rows = db.run_script(script, {"q": term}).rows
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rows) == 10
        assert len(sc.statusTracker().getJobIdsForGroup(tag) or []) == 1
    plan = db.run_script_df(script, {"q": "w6"})._jdf.queryExecution() \
        .executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan  # no shuffle, no broadcast

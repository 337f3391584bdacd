"""Round-6 code-review regressions (findings + fixes).

1. Prepared-statement skeletons must actually BUILD for positional
   stored-atom and rule-atom params (the rewrite emitted a raw string
   where the translator expects Var — silently dead code).
2. The fused random-walk gate must measure REAL bytes (string node ids),
   not count * fixed-width.
3. kmeans join-path assignment must preserve row multiplicity on
   duplicate vec_ids (plan-only switch, never semantics-changing).
4. Skeleton-build EVALUATION failures must not be permanently
   negative-cached (only structural ineligibility is).
5. A type-mismatched param value must behave identically prepared vs
   unprepared (raw Column equality, not compile_expr's static fold).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL


def test_positional_params_build_a_skeleton(spark):
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.register_dataframe(
        "nation", spark.read.parquet(f"{SF_SMALL}/nation.parquet"))
    pos = "?[b] := *nation[$a, b, c]"
    ent = db._build_skeleton(pos, {"a": 0})
    assert isinstance(ent, dict), "positional rewrite must produce a skeleton"
    rule = """
    named[k, n] := *nation{n_nationkey: k, n_name: n}
    ?[n] := named[$id, n]
    """
    ent2 = db._build_skeleton(rule, {"id": 2})
    assert isinstance(ent2, dict), "rule-atom rewrite must produce a skeleton"
    # and the bound results stay correct
    got = sorted(tuple(r) for r in db.run_script_df(pos, {"a": 3}).collect())
    want = sorted(tuple(r) for r in
                  db.run_script_df(pos.replace("$a", "3")).collect())
    assert got == want


def test_checkpoint_count_bytes_measures_strings(spark):
    from cozo_spark.datalog.fixpoint import _checkpoint_count_bytes

    df = spark.createDataFrame(
        [("u" * 100, "v" * 100, 1.0), ("a", "b", 2.0)],
        "src string, dst string, w double")
    out, n, b = _checkpoint_count_bytes(df)
    assert n == 2
    # 2 rows x (8+len(src) + 8+len(dst) + 8): (108+108+8) + (9+9+8)
    assert b == 224 + 26
    assert out.count() == 2


def test_random_walk_gate_counts_string_bytes(spark, monkeypatch):
    import cozo_spark.fixed_rules.graphs as G

    # 50 edges of ~200-byte ids: count*24 = 1200 "bytes" but real width is
    # ~20 KB — with the threshold between the two, the fused path must NOT
    # be taken (min_by shuffle plan remains)
    rows = [("n" * 100 + str(i), "n" * 100 + str(i + 1)) for i in range(50)]
    edges = spark.createDataFrame(rows, "src string, dst string")
    monkeypatch.setattr(G, "RANDOM_WALK_BROADCAST_BYTES", 5_000)
    df = G.random_walks(edges, steps=2, seed=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "min_by" in plan, "wide string ids must take the shuffle path"
    assert len(df.collect()) == 51


def test_kmeans_join_path_keeps_duplicate_ids(spark):
    import cozo_spark.operators.similarity as S

    # duplicate vec_ids with DIFFERENT embeddings: assignment must emit one
    # row per input row (the literal path's semantics), with each row's own
    # argmin — a groupBy(vec_id) would collapse them
    rows = [(i % 5, [i * 10**6, (i % 7) * 10**6]) for i in range(40)]
    c = spark.createDataFrame(rows, "vec_id long, x6 array<long>")
    cents = [[0, 0], [10_000_000, 3_000_000], [30_000_000, 6_000_000]]
    got = sorted((r["vec_id"], tuple(r["x6"]), r["cid"])
                 for r in S._assign_join(c, cents).collect())

    def argmin(x):
        d = [sum((a - b) ** 2 for a, b in zip(x, cc)) for cc in cents]
        return d.index(min(d))
    want = sorted((vid, tuple(x), argmin(x)) for vid, x in rows)
    assert len(got) == 40
    assert got == want


def test_skeleton_eval_failure_not_permanently_cached(spark):
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    q = "?[v] := *latecomer{k: $k, v}"
    with pytest.raises(Exception):
        db.run_script_df(q, {"k": 1})
    assert ("ineligible", db._skel_key(q, {"k": 1})) not in CozoDb._skel_cache
    db.run_script("?[k, v] <- [[1, 'a']] :create latecomer {k => v}")
    assert [tuple(r) for r in db.run_script_df(q, {"k": 1}).collect()] == \
        [("a",)]
    # a second value must now bind via the skeleton
    db.run_script("?[k, v] <- [[2, 'b']] :put latecomer {k => v}")
    assert [tuple(r) for r in db.run_script_df(q, {"k": 2}).collect()] == \
        [("b",)]
    # aggregation heads became ELIGIBLE in r7 (raw-stream skeleton,
    # tests/test_prepared_agg.py) — the skeleton caches positively now;
    # structural ineligibility caching is pinned by
    # tests/test_advice_r7.py::test_recursive_param_neg_cached_structurally
    agg = "?[count(n)] := *latecomer{k: n}, n < $hi"
    assert [tuple(r) for r in db.run_script_df(agg, {"hi": 10}).collect()] \
        == [(2,)]
    assert db._skel_key(agg, {"hi": 10}) in CozoDb._skel_cache


def test_type_mismatched_param_same_prepared_and_not(spark):
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.register_dataframe(
        "customer", spark.read.parquet(f"{SF_SMALL}/customer.parquet"))
    q = "?[n] := *customer{c_custkey: $id, c_name: n}"

    def run(x):
        try:
            return ("ok", sorted(tuple(r)
                                 for r in db.run_script_df(q, x).collect()))
        except Exception as ex:
            return ("err", type(ex).__name__)

    first = run({"id": 1})          # builds + binds the skeleton
    prepared = run({"id": "abc"})   # bind path with a mistyped value
    CozoDb._skel_cache.clear()
    CozoDb._plan_cache.clear()
    unprepared_db = CozoDb(spark)
    unprepared_db.register_dataframe(
        "customer", spark.read.parquet(f"{SF_SMALL}/customer.parquet"))
    lit = q.replace("$id", "'abc'")
    try:
        direct = ("ok", sorted(tuple(r) for r in
                               unprepared_db.run_script_df(lit).collect()))
    except Exception as ex:
        direct = ("err", type(ex).__name__)
    assert first[0] == "ok"
    assert prepared == direct

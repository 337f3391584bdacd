"""The cross-call memo (``cozo_spark.plans.memo.plan_memo``) and the caches
that ride on it: operator plans keyed on input-frame identity, the query
builders' table reads, the ``::explain`` counts, and dedup's rotating
signature slot."""

from __future__ import annotations

import os

from tests.conftest import SF_ORACLE, SF_SMALL


def _rows(df, *cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_plan_memo_conf_invalidation(spark):
    # changing the documented tuning conf must invalidate the memoized plan
    from cozo_spark.operators.similarity import cosine_neardup_pairs

    df = spark.createDataFrame(
        [(i, [float(j == i % 4) for j in range(4)]) for i in range(12)],
        "vec_id long, embedding array<double>")
    conf = spark.conf
    old = conf.get("spark.cozo.neardup.blocks", None)
    try:
        conf.unset("spark.cozo.neardup.blocks")
        p1 = cosine_neardup_pairs(df, threshold=0.9)
        p1b = cosine_neardup_pairs(df, threshold=0.9)
        assert p1 is p1b  # memo hit with unchanged conf
        conf.set("spark.cozo.neardup.blocks", "3")
        p2 = cosine_neardup_pairs(df, threshold=0.9)
        assert p2 is not p1  # conf change rebuilds
        assert _rows(p1, "id_a", "id_b") == _rows(p2, "id_a", "id_b")
    finally:
        conf.unset("spark.cozo.neardup.blocks")
        if old is not None:
            conf.set("spark.cozo.neardup.blocks", old)


def test_plan_memo_rotating_cache_generation(spark):
    # interleaving a different input rotates the signature cache; the memo
    # must NOT serve the old plan (its cached subtree was unpersisted)
    import cozo_spark.operators.dedup as D

    a = spark.createDataFrame(
        [(i, f"alpha beta gamma delta {i}") for i in range(6)],
        "doc_id long, text string")
    b = spark.createDataFrame(
        [(i, f"zeta eta theta iota {i}") for i in range(6)],
        "doc_id long, text string")
    p1 = D.minhash_lsh_dedup_pairs(a, threshold=0.2)
    gen0 = D._CACHE_GEN.get("minhash_sigs", 0)
    D.minhash_lsh_dedup_pairs(b, threshold=0.2)
    assert D._CACHE_GEN.get("minhash_sigs", 0) > gen0  # rotation bumped
    p3 = D.minhash_lsh_dedup_pairs(a, threshold=0.2)
    assert p3 is not p1  # rebuilt (and re-cached) instead of stale memo
    # and the rebuilt plan now memo-hits under the post-rotation generation
    p4 = D.minhash_lsh_dedup_pairs(a, threshold=0.2)
    assert p4 is p3
    assert _rows(p1, "id_a", "id_b") == _rows(p3, "id_a", "id_b")


def test_lazy_query_memo_reruns(spark):
    # pure-lazy headline builders are memoized per
    # (session, sf_dir) — same object across calls, distinct across dirs,
    # and a memo hit still computes from parquet (the memo holds a plan,
    # never data: a count on the memoized frame launches fresh jobs).
    from cozo_spark import queries as Q

    sf, sf2 = SF_SMALL, SF_ORACLE
    for name in ["agg_basic", "join_multiway", "window_running_sum",
                 "graph_degree_centrality", "sessionize"]:
        d1 = Q.QUERIES[name](spark, sf)
        d2 = Q.QUERIES[name](spark, sf)
        assert d1 is d2, name
        assert Q.QUERIES[name](spark, sf2) is not d1, name
        # two actions on the memoized frame agree and really run
        assert d1.count() == d2.count()

    # tz-sensitive builders key on the session timezone: flipping it must
    # MISS the memo (the plan bakes in NTZ->LTZ cast semantics)
    s1 = Q.QUERIES["sessionize"](spark, sf)
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        s2 = Q.QUERIES["sessionize"](spark, sf)
        assert s2 is not s1
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)
    assert Q.QUERIES["sessionize"](spark, sf) is s1


def test_dedup_cache_is_bounded_per_operator(spark):
    """Repeated invocations must not accumulate cached signature tables:
    each call unpersists the previous call's table for its slot (rotating
    cache), so a long-lived session holds at most one per operator."""
    import cozo_spark.operators.dedup as dd
    from cozo_spark.operators.dedup import (minhash_lsh_dedup_pairs,
                                            simhash_near_pairs)

    spark.catalog.clearCache()
    sc = spark.sparkContext._jsc.sc()
    base = len(sc.getRDDStorageInfo())  # other suites' checkpoint blocks
    for rnd in range(3):  # DISTINCT inputs: each call caches a new plan
        docs = [(i, f"round {rnd} quick brown fox jumps over dog {i % 4} "
                    f"with padding tokens {i % 4} again and again")
                for i in range(24)]
        df = spark.createDataFrame(docs, "doc_id long, text string")
        minhash_lsh_dedup_pairs(df, "text", "doc_id", threshold=0.5).count()
        simhash_near_pairs(df, "text", "doc_id").count()
    assert set(dd._CACHE_SLOTS) <= {"minhash_sigs", "simhash_sigs"}
    assert len(dd._CACHE_SLOTS) <= 2, "one cached table per operator, max"
    # rotated-out tables must be gone from executor storage: at most the
    # two live slots (+ ContextCleaner-pending checkpoint blocks from the
    # operators' internal localCheckpoints) may ADD materialized blocks;
    # without rotation the 6 cached signature tables alone exceed this
    import gc
    import time as _t

    gc.collect()
    _t.sleep(1.0)  # let the ContextCleaner drain GC'd checkpoint blocks
    grown = len(sc.getRDDStorageInfo()) - base
    assert grown <= 4, \
        f"+{grown} persisted RDDs after 3 rounds — caches accumulate"


def test_t_memo_is_bounded(spark, tmp_path):
    # _t memoizes one frame per (session, dir, table); past the bound the
    # least recently used frame is dropped and re-read on its next call
    from cozo_spark import queries as Q
    from cozo_spark.plans import memo

    src = os.path.join(SF_SMALL, "region.parquet")
    n = memo._MAXSIZE + 6
    for i in range(n):
        os.symlink(src, tmp_path / f"t{i}.parquet")
    d = str(tmp_path)
    frames = [Q._t(spark, d, f"t{i}") for i in range(n)]
    assert Q._t(spark, d, f"t{n - 1}") is frames[-1]
    assert Q._t(spark, d, "t0") is not frames[0]
    assert len(Q._t._memo) <= memo._MAXSIZE


def test_memo_keeps_non_frame_values(spark, monkeypatch):
    # a count is memoized on its input frame and recomputed for a new frame
    # or once the frame's session reads as stopped
    from cozo_spark.plans import memo

    calls = []

    @memo.plan_memo
    def count_rows(df):
        calls.append(df)
        return df.count()

    a = spark.range(5)
    assert count_rows(a) == 5 and count_rows(a) == 5
    assert len(calls) == 1
    b = a.union(spark.range(3))
    assert count_rows(b) == 8 and len(calls) == 2
    monkeypatch.setattr(memo, "_session_stopped", lambda df: True)
    assert count_rows(a) == 5 and len(calls) == 3


def _explain_detail(db, script):
    res = db.run_script(f"::explain {{ {script} }}")
    rows = [dict(zip(res.headers, r)) for r in res.rows]
    return [r for r in rows if r["op"] == "planned_mode"][0]["detail"]


def test_explain_counts_are_memoized_until_a_write(spark):
    # a repeated ::explain launches no Spark job, also when the input binds
    # named fields; a write to the relation changes the reported count
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.run_script(":create exm_e {fr: Int, to: Int}")
    db.run_script("?[fr, to] <- [[1, 2], [2, 3], [3, 1]] :put exm_e {fr, to}")
    sc = spark.sparkContext
    for i, inp in enumerate(("*exm_e[]", "*exm_e{to, fr}")):
        script = f"?[c, n] <~ CommunityDetectionLouvainDist({inp})"
        d1 = _explain_detail(db, script)
        assert "edges=3" in d1, d1
        group = f"test-explain-memo-{i}"
        sc.setJobGroup(group, "second ::explain", False)
        try:
            d2 = _explain_detail(db, script)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert d2 == d1
        assert sc.statusTracker().getJobIdsForGroup(group) == [], inp
    db.run_script("?[fr, to] <- [[3, 4]] :put exm_e {fr, to}")
    d3 = _explain_detail(db, script)
    assert "edges=4" in d3, d3

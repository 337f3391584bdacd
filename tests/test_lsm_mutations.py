"""Flat LSM mutation view (r9, engine._apply_lsm_delta).

The previous write path stacked one anti-join+union LAYER per mutation,
so between compactions every read paid ~0.4 s of broadcast/stage overhead
PER PENDING MUTATION and the every-8th compaction materialized an O(k²)
plan (the anti-join distributes over the union branches). The flat view
keeps base + pending deltas and rebuilds

    base ANTI-JOIN (pending keys)  ∪  latest-seq-wins(pending)

— plan shape O(1) in the pending count. These tests pin the SHAPE
(host-independent: exactly one Window, one LeftAnti join, no per-delta
dedup window for single-row inline writes) and the semantics (overwrite
order, tombstone + re-insert, within-batch duplicate collapse, key-prefix
rm fallback, compaction, trigger/changefeed visibility).
"""

from __future__ import annotations

import re

import pytest


def _db(spark):
    from cozo_spark.datalog.engine import CozoDb

    db = CozoDb(spark)
    db.run_script("?[k, v] <- [[0, 0]] :create lsm_t {k => v}")
    return db


def _rows(db, q="?[k,v] := *lsm_t{k,v}"):
    return {r[0]: r[1] for r in db.run_script_df(q).collect()}


def test_read_plan_shape_is_flat(spark):
    db = _db(spark)
    db._COMPACT_EVERY = 10 ** 9
    for i in range(6):
        db.run_script(f"?[k, v] <- [[{i}, 1]] :put lsm_t {{k => v}}")
    plan = db.relations["lsm_t"].df._jdf.queryExecution() \
        .executedPlan().toString()
    assert len(re.findall(r"\bWindow\b", plan)) == 1, \
        "one latest-wins window regardless of pending count"
    assert len(re.findall(r"LeftAnti", plan)) == 1, \
        "one anti-join regardless of pending count"
    assert _rows(db) == {i: 1 for i in range(6)}


def test_overwrite_rm_reinsert_ordering(spark):
    db = _db(spark)
    db._COMPACT_EVERY = 10 ** 9  # force everything through the flat view
    db.run_script("?[k, v] <- [[1, 10], [2, 20]] :put lsm_t {k => v}")
    db.run_script("?[k, v] <- [[1, 11]] :put lsm_t {k => v}")  # overwrite
    db.run_script("?[k] <- [[2]] :rm lsm_t {k}")               # tombstone
    db.run_script("?[k, v] <- [[2, 22]] :put lsm_t {k => v}")  # re-insert
    db.run_script("?[k] <- [[0]] :rm lsm_t {k}")               # base rm
    assert _rows(db) == {1: 11, 2: 22}


def test_within_batch_duplicate_keys_collapse(spark):
    db = _db(spark)
    db._COMPACT_EVERY = 10 ** 9
    # reference semantics: largest tuple per key wins within one batch
    db.run_script(
        "?[k, v] <- [[5, 1], [5, 9], [6, 2]] :put lsm_t {k => v}")
    assert _rows(db)[5] == 9 and _rows(db)[6] == 2


def test_compaction_preserves_state(spark):
    db = _db(spark)
    assert db._COMPACT_EVERY == 8
    for i in range(20):  # crosses two compactions
        db.run_script(f"?[k, v] <- [[{i % 7}, {i}]] :put lsm_t {{k => v}}")
    got = _rows(db)
    # key i%7 last written at the largest i with that residue
    want = {k: max(i for i in range(20) if i % 7 == k) for k in range(7)}
    want[0] = max(want[0], 0)
    assert {k: got[k] for k in range(7)} == want
    rel = db.relations["lsm_t"]
    # async (r10): pending may transiently exceed the threshold while a
    # background compaction is in flight, bounded by the lag cap; once the
    # compactor drains (chained respawns included) the bound tightens
    assert rel.pending_merges < db._LSM_MAX_LAG * db._COMPACT_EVERY
    _wait_no_compaction(rel)
    assert rel.pending_merges < db._COMPACT_EVERY


def test_derived_write_and_rm_through_view(spark):
    db = _db(spark)
    db._COMPACT_EVERY = 10 ** 9
    db.run_script("?[k, v] <- [[1, 1], [2, 2], [3, 3]] :put lsm_t {k => v}")
    # derived (non-const) write: doubles every value via a query
    db.run_script(
        "?[k, v] := *lsm_t{k, v: v0}, v = v0 * 10 :put lsm_t {k => v}")
    assert _rows(db) == {0: 0, 1: 10, 2: 20, 3: 30}
    db.run_script("?[k] := *lsm_t{k, v}, v >= 20 :rm lsm_t {k}")
    assert _rows(db) == {0: 0, 1: 10}


def test_triggers_and_changefeed_see_lsm_state(spark, tmp_path):
    from cozo_spark.streaming.changefeed import attach_changefeed

    db = _db(spark)
    feed = attach_changefeed(db, str(tmp_path / "spool"))
    seen = []
    feed.register_callback("lsm_t", lambda op, rows: seen.append((op, rows)))
    db.run_script("?[k, v] <- [[7, 70]] :put lsm_t {k => v}")
    db.run_script("?[k] <- [[7]] :rm lsm_t {k}")
    feed.flush()
    assert seen[0][0] == "put" and seen[0][1][0]["k"] == 7
    assert seen[1][0] == "rm"
    assert 7 not in _rows(db)


def test_update_op_still_correct_after_lsm_puts(spark):
    db = _db(spark)
    db.run_script(
        "?[k, v] <- [[1, 'a'], [2, 'b']] :create lsm_u {k => v, w default 0}")
    db.run_script("?[k, v] <- [[1, 'z']] :update lsm_u {k => v}")
    rows = {r[0]: (r[1], r[2]) for r in
            db.run_script_df("?[k,v,w] := *lsm_u{k,v,w}").collect()}
    assert rows[1] == ("z", 0) and rows[2] == ("b", 0)
    # put after the update-stacked swap re-seeds the LSM cleanly
    db.run_script("?[k, v] <- [[3, 'c']] :put lsm_u {k => v}")
    assert db.run_script_df("?[k] := *lsm_u{k}").count() == 3


def test_mixed_update_put_compaction_bound(spark):
    """ADVICE r9 low: _apply_lsm_delta overwrote pending_merges with
    len(lsm_pending), discarding layers stacked by :update through
    _set_merged — a mixed update/put sequence could defer compaction to
    ~2× the intended read-plan depth. The LSM counter now seeds from the
    pre-existing stack: total tracked depth never exceeds _COMPACT_EVERY."""
    db = _db(spark)
    rel = db.relations["lsm_t"]
    db.run_script("?[k, v] <- [[1, 1], [2, 2]] :put lsm_t {k => v}")
    for round_ in range(3):
        # :update stacks a merge layer via _set_merged (clears LSM state)
        db.run_script(f"?[k, v] <- [[1, {round_ + 10}]] :update lsm_t {{k => v}}")
        stacked = rel.pending_merges
        assert rel.lsm_base is None
        # puts re-seed the LSM; the counter must CARRY the stacked layers
        db.run_script(f"?[k, v] <- [[{round_ + 3}, 0]] :put lsm_t {{k => v}}")
        assert rel.pending_merges == rel.lsm_base_layers + len(rel.lsm_pending)
        # the counter CARRIES the stacked layers — unless the stack already
        # crossed the major trigger, in which case the put folded it into a
        # background major (base_layers reset by the freeze)
        assert (rel.lsm_base_layers == stacked
                or (rel.lsm_base_layers == 0
                    and stacked >= db._COMPACT_EVERY // 2))
        assert rel.pending_merges <= 4 * db._COMPACT_EVERY
    # drive puts: total tracked depth (base layers + pending) must stay
    # bounded throughout — the ADVICE invariant. r11: the minor collapse
    # runs off-thread, so pending may overshoot to 4x _COMPACT_EVERY while
    # a collapse is in flight (the writer backpressures past that); the
    # writer is never charged the collapse job itself.
    for i in range(2 * db._COMPACT_EVERY):
        db.run_script(f"?[k, v] <- [[{90 + i}, {i}]] :put lsm_t {{k => v}}")
        assert rel.pending_merges <= 4 * db._COMPACT_EVERY, \
            "mixed update/put depth exceeded the compaction bound"
    _wait_no_compaction(rel)
    got = _rows(db)
    assert got[1] == 12 and all(got[90 + i] == i
                                for i in range(2 * db._COMPACT_EVERY))


def _wait_no_compaction(rel, timeout=60.0):
    import time

    deadline = time.time() + timeout
    while time.time() < deadline:
        t = rel.lsm_thread or rel.lsm_minor_thread
        if (t is None and not rel.lsm_compacting
                and not rel.lsm_minor_inflight):
            return
        if t is not None:
            t.join(timeout=1.0)
        else:
            time.sleep(0.05)
    raise AssertionError("async compaction did not finish")


def test_async_compaction_preserves_state_and_installs(spark):
    """r10 (VERDICT r9 #3): crossing the compaction threshold freezes the
    flat view and materializes it on a background thread — the writer is
    not charged. After install, the base is the checkpointed frame and
    reads stay correct across further mutations."""
    db = _db(spark)
    rel = db.relations["lsm_t"]
    for i in range(20):  # crosses two thresholds
        db.run_script(f"?[k, v] <- [[{i % 7}, {i}]] :put lsm_t {{k => v}}")
    _wait_no_compaction(rel)
    got = _rows(db)
    want = {k: max(i for i in range(20) if i % 7 == k) for k in range(7)}
    assert {k: got[k] for k in range(7)} == want
    # post-install mutations stack on the materialized base
    db.run_script("?[k, v] <- [[50, 50]] :put lsm_t {k => v}")
    assert _rows(db)[50] == 50
    assert rel.pending_merges < db._COMPACT_EVERY


def test_stale_compaction_discarded_after_import(spark, monkeypatch):
    """A background compaction that finishes AFTER ::import swapped the
    relation must NOT install its stale base (identity guard)."""
    import threading

    import cozo_spark.datalog.engine as EG

    gate = threading.Event()
    orig = EG._checkpoint

    def slow_ck(df):
        # block only the BACKGROUND major (the writer-side delta pins and
        # minor collapses must run normally)
        if threading.current_thread().name.startswith("cozo-lsm-compact"):
            gate.wait(60)
        return orig(df)

    db = _db(spark)
    rel = db.relations["lsm_t"]
    monkeypatch.setattr(EG, "_checkpoint", slow_ck)
    monkeypatch.setattr(type(db), "_LSM_MAJOR_EVERY", 1)
    for i in range(db._COMPACT_EVERY):  # trigger minor + freeze
        db.run_script(f"?[k, v] <- [[{i}, {i}]] :put lsm_t {{k => v}}")
    # r11: the freeze respawns from the ASYNC minor's install — wait for it
    import time as _time
    deadline = _time.time() + 30
    while not rel.lsm_compacting and _time.time() < deadline:
        _time.sleep(0.05)
    assert rel.lsm_compacting, "freeze should have spawned a worker"
    monkeypatch.setattr(EG, "_checkpoint", orig)
    db.import_relations({"lsm_t": {
        "headers": ["k", "v"], "rows": [[100, 100]]}})
    imported_df = rel.df
    gate.set()
    _wait_no_compaction(rel)
    assert rel.df is imported_df, "stale install overwrote the import"
    got = _rows(db)
    assert got[100] == 100 and all(got[i] == i
                                   for i in range(db._COMPACT_EVERY))


def test_backpressure_waits_for_compactor(spark, monkeypatch):
    """With a compaction in flight, pending stacks on the flat view up to
    _LSM_MAX_LAG thresholds, then the writer waits for the compactor."""
    import threading

    import cozo_spark.datalog.engine as EG
    from cozo_spark.datalog.engine import CozoDb

    gate = threading.Event()
    orig = EG._checkpoint

    def slow_ck(df):
        if threading.current_thread().name.startswith("cozo-lsm-compact"):
            gate.wait(120)
        return orig(df)

    db = _db(spark)
    rel = db.relations["lsm_t"]
    monkeypatch.setattr(CozoDb, "_COMPACT_EVERY", 2)
    monkeypatch.setattr(CozoDb, "_LSM_MAJOR_EVERY", 1)
    monkeypatch.setattr(EG, "_checkpoint", slow_ck)
    threading.Timer(4.0, gate.set).start()
    n = 2 * (CozoDb._LSM_MAX_LAG + 2)
    try:
        # first threshold -> minor + freeze (worker blocked on gate); then
        # minors accumulate until the lag cap forces a join on the worker
        for i in range(n):
            db.run_script(f"?[k, v] <- [[{i}, {i}]] :put lsm_t {{k => v}}")
    finally:
        gate.set()
        monkeypatch.setattr(EG, "_checkpoint", orig)
    _wait_no_compaction(rel)
    got = _rows(db)
    assert all(got[i] == i for i in range(n))


def test_over_broadcast_gate_branch_correct(spark, monkeypatch):
    """VERDICT r9 #4: a delta larger than _LSM_BROADCAST_ROWS takes the
    shuffle-anti-join fallback (pending key set not broadcast) and also
    triggers the background major. Reads through the fallback view must be
    exact. Gate lowered so the branch is exercised cheaply."""
    import pyspark.sql.functions as F

    from cozo_spark.datalog.engine import CozoDb

    monkeypatch.setattr(CozoDb, "_LSM_BROADCAST_ROWS", 1000)
    db = _db(spark)
    rel_src = spark.range(50_000).select(
        F.col("id").alias("k"), (F.col("id") % 97).alias("v"))
    db.register_dataframe("src50", rel_src, keys=["k"])
    db.run_script("?[k, v] := *src50{k, v} :create big_t {k => v}")
    rel = db.relations["big_t"]
    # 12.5k-row derived delta > the (lowered) gate
    db.run_script(
        "?[k, v] := *big_t{k, v: v0}, k % 4 == 0, v = v0 + 1000 "
        ":put big_t {k => v}")
    got = db.run_script_df("?[sum(v)] := *big_t{v}").collect()[0][0]
    want = sum((i % 97) + (1000 if i % 4 == 0 else 0) for i in range(50_000))
    assert int(got) == want, "over-gate shuffle anti-join view is wrong"
    _wait_no_compaction(rel)
    got2 = db.run_script_df("?[sum(v)] := *big_t{v}").collect()[0][0]
    assert int(got2) == want, "post-install state diverged"


def test_import_invalidates_pending_lsm_state(spark):
    """::import swaps rel.df wholesale; a put AFTER the import must seed
    from the imported state, not rebuild from the stale pre-import base +
    pending log (which would silently resurrect overwritten rows)."""
    db = _db(spark)
    db._COMPACT_EVERY = 10 ** 9
    for i in range(3):
        db.run_script(f"?[k, v] <- [[{i}, {i}]] :put lsm_t {{k => v}}")
    db.import_relations({"lsm_t": {
        "headers": ["k", "v"], "rows": [[100, 100], [101, 101]]}})
    db.run_script("?[k, v] <- [[200, 200]] :put lsm_t {k => v}")
    got = _rows(db)
    # imported rows + pre-import rows (import merges) + the post-put row
    assert got[100] == 100 and got[101] == 101 and got[200] == 200
    assert got[0] == 0 and got[1] == 1 and got[2] == 2


def test_backpressure_timeout_logs_warning(spark, monkeypatch, caplog):
    """VERDICT r10 nit 1: when the 600 s backpressure join on the major
    compactor expires with the worker still alive, the writer proceeds
    (pending stacks past the lag cap) but the degraded state must be
    VISIBLE — a warning on the cozo_spark.engine logger. Timeout shrunk
    via a monkeypatched join so the test runs in milliseconds."""
    import logging
    import threading

    import cozo_spark.datalog.engine as EG
    from cozo_spark.datalog.engine import CozoDb

    gate = threading.Event()
    orig = EG._checkpoint

    def slow_ck(df):
        if threading.current_thread().name.startswith("cozo-lsm-compact"):
            gate.wait(120)
        return orig(df)

    # make every backpressure join expire instantly (the 600 s constant
    # stays in production code; Thread.join is patched at the class level)
    real_join = threading.Thread.join

    def fast_join(self, timeout=None):
        if self.name.startswith("cozo-lsm-compact") and timeout:
            return real_join(self, 0.05)
        return real_join(self, timeout)

    db = _db(spark)
    rel = db.relations["lsm_t"]
    monkeypatch.setattr(CozoDb, "_COMPACT_EVERY", 2)
    monkeypatch.setattr(CozoDb, "_LSM_MAJOR_EVERY", 1)
    # lag cap of 1: the first async-minor install while the (blocked) major
    # is in flight arms the writer's backpressure join on the very next put
    monkeypatch.setattr(CozoDb, "_LSM_MAX_LAG", 1)
    monkeypatch.setattr(EG, "_checkpoint", slow_ck)
    monkeypatch.setattr(threading.Thread, "join", fast_join)
    n = 16
    try:
        with caplog.at_level(logging.WARNING, logger="cozo_spark.engine"):
            for i in range(n):
                db.run_script(
                    f"?[k, v] <- [[{i}, {i}]] :put lsm_t {{k => v}}")
    finally:
        gate.set()
        monkeypatch.setattr(EG, "_checkpoint", orig)
        monkeypatch.setattr(threading.Thread, "join", real_join)
    assert any("backpressure join" in r.message for r in caplog.records), \
        "expired backpressure join must log a warning"
    # writes kept landing while degraded; state stays exact once drained
    _wait_no_compaction(rel)
    got = _rows(db)
    assert all(got[i] == i for i in range(n))


def test_seq_monotonic_across_collapse_install(spark, monkeypatch):
    """r11 invariant: delta sequence numbers are MONOTONIC per relation,
    not len(lsm_pending)-based. After an async collapse splices 8 pending
    entries down to 1, a len-based seq for the next put would be 1 —
    sorting BELOW the live suffix deltas appended during the collapse
    (seqs 9, 10, ...), so the NEWEST write would lose latest-wins to an
    older one. Reproduces that exact interleaving: gate the collapse
    checkpoint, write k=1 before the threshold and again while the
    collapse is in flight, then assert the post-install put wins."""
    import threading

    import cozo_spark.datalog.engine as EG

    gate = threading.Event()
    entered = threading.Event()
    orig = EG._checkpoint

    def slow_ck(df):
        if threading.current_thread().name.startswith("cozo-lsm-minor"):
            entered.set()
            gate.wait(60)
        return orig(df)

    db = _db(spark)
    rel = db.relations["lsm_t"]
    monkeypatch.setattr(EG, "_checkpoint", slow_ck)
    try:
        # seed 7 pending deltas incl. an early write to key 1
        db.run_script("?[k, v] <- [[1, 10]] :put lsm_t {k => v}")
        for i in range(6):
            db.run_script(f"?[k, v] <- [[{i + 50}, 0]] :put lsm_t {{k => v}}")
        # 8th put crosses the threshold -> async collapse spawns (blocked)
        db.run_script("?[k, v] <- [[60, 0]] :put lsm_t {k => v}")
        assert entered.wait(30), "collapse worker never started"
        # suffix deltas stacked while the collapse is in flight
        db.run_script("?[k, v] <- [[1, 20]] :put lsm_t {k => v}")
        db.run_script("?[k, v] <- [[61, 0]] :put lsm_t {k => v}")
        gate.set()  # install the collapsed prefix under the suffix
        _wait_no_compaction(rel)
        # the write AFTER the install must still win over both earlier ones
        db.run_script("?[k, v] <- [[1, 30]] :put lsm_t {k => v}")
        assert rel.lsm_seq > len(rel.lsm_pending), \
            "seq must outrun the spliced pending length"
    finally:
        gate.set()
        monkeypatch.setattr(EG, "_checkpoint", orig)
    got = _rows(db)
    assert got[1] == 30, f"stale value resurrected: {got[1]}"
    _wait_no_compaction(rel)
    assert _rows(db)[1] == 30


def test_view_broadcast_gate_honors_class_attr(spark, monkeypatch):
    """r11 review fix: the lazy view's broadcast decision must read the
    CozoDb class attribute (the advertised tuning knob), not a module
    constant — otherwise lowering the gate never exercises the shuffle
    anti-join branch and raising it still stops broadcasting at 100k."""
    from cozo_spark.datalog.engine import CozoDb

    def hinted(rel):
        # the broadcast() hint survives as ResolvedHint in the LOGICAL
        # plan (the optimizer consumes it into the join strategy later)
        return "ResolvedHint" in rel.df._jdf.queryExecution() \
            .logical().toString()

    db = _db(spark)
    rel = db.relations["lsm_t"]
    db.run_script("?[k, v] <- [[1, 1], [2, 2], [3, 3]] :put lsm_t {k => v}")
    assert hinted(rel), "small delta should broadcast the pending keyset"
    monkeypatch.setattr(CozoDb, "_LSM_BROADCAST_ROWS", 2)
    db.run_script("?[k, v] <- [[4, 4], [5, 5], [6, 6]] :put lsm_t {k => v}")
    assert not hinted(rel), \
        "over-gate delta must take the shuffle anti-join branch"
    assert _rows(db) == {i: (i if 1 <= i <= 6 else 0) for i in range(7)} | {0: 0}

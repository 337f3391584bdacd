"""Per-relation validity of cached plans and skeletons.

An entry is stamped with the state of exactly the relations its
translation read (CozoDb._read_stamps). A write to any OTHER relation must
leave it hittable; any change to a relation it read — a put or rm, a new
index, an access-level change, a drop and re-create — must invalidate it.
Both caches are least-recently-used."""

from __future__ import annotations

import pytest

READ = "?[v] := *b{k: $k, v}"


@pytest.fixture
def db(spark):
    from cozo_spark.datalog.engine import CozoDb

    CozoDb._skel_cache.clear()
    CozoDb._plan_cache.clear()
    db = CozoDb(spark)
    for rel in ("a", "b"):
        db.run_script(f":create {rel} {{k: Int => v: Int}}")
        db.run_script(f"?[k, v] <- [[1, 10], [2, 20], [3, 30]] "
                      f":put {rel} {{k => v}}")
    return db


@pytest.fixture
def calls(monkeypatch):
    """Counts skeleton builds and binds (a per-value plan hit binds
    nothing)."""
    from cozo_spark.datalog.engine import CozoDb

    seen = {"build": 0, "bind": 0}
    build, bind = CozoDb._build_skeleton, CozoDb._bind_skeleton

    def spy_build(self, script, params):
        seen["build"] += 1
        return build(self, script, params)

    def spy_bind(self, ent, params, parsed):
        seen["bind"] += 1
        return bind(self, ent, params, parsed)

    monkeypatch.setattr(CozoDb, "_build_skeleton", spy_build)
    monkeypatch.setattr(CozoDb, "_bind_skeleton", spy_bind)
    return seen


def _rows(db, script, params=None):
    return sorted(tuple(r) for r in db.run_script_df(script, params).collect())


def _literal(db, script, params):
    for k, v in params.items():
        script = script.replace(f"${k}", repr(v))
    return _rows(db, script)


def test_unrelated_writes_keep_entries(db, calls):
    assert _rows(db, READ, {"k": 1}) == [(10,)]
    assert calls == {"build": 1, "bind": 1}
    db.run_script("?[k, v] <- [[4, 40]] :put a {k => v}")
    db.run_script("?[k] <- [[1]] :rm a {k}")
    # same value: the per-value plan entry still hits (no bind)
    assert _rows(db, READ, {"k": 1}) == [(10,)]
    assert calls == {"build": 1, "bind": 1}
    # new value: the skeleton still hits (bind only)
    assert _rows(db, READ, {"k": 2}) == [(20,)]
    assert calls == {"build": 1, "bind": 2}


def test_unrelated_write_keeps_unprepared_plan(db, monkeypatch):
    from cozo_spark.datalog.engine import CozoDb

    runs = []
    orig = CozoDb._run_program

    def spy(self, prog, *a, **kw):
        runs.append(1)
        return orig(self, prog, *a, **kw)

    monkeypatch.setattr(CozoDb, "_run_program", spy)
    q = "?[k, v] := *b{k, v}, v > 15"

    def compiles(want):
        n = len(runs)
        assert _rows(db, q) == want
        return len(runs) - n

    assert compiles([(2, 20), (3, 30)]) == 1
    db.run_script("?[k, v] <- [[4, 40]] :put a {k => v}")
    assert compiles([(2, 20), (3, 30)]) == 0, \
        "a write to `a` discarded a plan that reads only `b`"
    db.run_script("?[k, v] <- [[4, 40]] :put b {k => v}")
    assert compiles([(2, 20), (3, 30), (4, 40)]) == 1


CHANGES_TO_B = {
    "put": ["?[k, v] <- [[1, 11]] :put b {k => v}"],
    "rm": ["?[k] <- [[1]] :rm b {k}"],
    "index": ["::index create b:byv {v}"],
    "access_level": ["::access_level protected b"],
    "remove_recreate": ["::remove b", ":create b {k: Int => v: Int}",
                        "?[k, v] <- [[1, 12]] :put b {k => v}"],
}


@pytest.mark.parametrize("change", sorted(CHANGES_TO_B))
def test_changes_to_read_relation_invalidate(db, calls, change):
    from cozo_spark.datalog.engine import CozoDb

    assert _rows(db, READ, {"k": 1}) == [(10,)]
    assert calls["build"] == 1
    for script in CHANGES_TO_B[change]:
        db.run_script(script)
    if change in ("put", "rm", "remove_recreate"):
        # the write path swept the stale entry right away
        assert db._skel_key(READ, {"k": 1}) not in CozoDb._skel_cache
    for k in (1, 2):
        assert _rows(db, READ, {"k": k}) == _literal(db, READ, {"k": k})
    assert calls["build"] == 2, f"{change} on `b` did not invalidate"


def test_creating_an_absent_relation_invalidates(db):
    # a lookup of a name that does not exist is stamped as absent
    with db._recording_reads() as reads:
        assert db._resolve_relation("later") is None
        db._resolve_keys("b")
    ent = db._entry_validity(reads)
    assert [n for n, _ in ent["reads"]] == ["b", "later"]
    assert db._entry_valid(ent)
    db.run_script("?[k, v] <- [[5, 50]] :put a {k => v}")
    assert db._entry_valid(ent)
    db.run_script(":create later {k: Int}")
    assert not db._entry_valid(ent)


def test_unrecorded_build_stamps_every_relation(db):
    # a direct build has no active recording: it depends on everything
    ent = db._build_skeleton(READ, {"k": 1})
    assert sorted(n for n, _ in ent["reads"]) == ["a", "b"]
    db.run_script("?[k, v] <- [[5, 50]] :put a {k => v}")
    assert not db._entry_valid(ent)


def test_txn_shadow_never_sweeps_base_entries(db, calls):
    from cozo_spark.datalog.engine import CozoDb

    key = db._skel_key(READ, {"k": 1})
    assert _rows(db, READ, {"k": 1}) == [(10,)]
    tx = db.multi_transaction()
    tx.run_script("?[k, v] <- [[1, 99]] :put b {k => v}")
    assert key in CozoDb._skel_cache, "shadow write swept a base entry"
    assert _rows(db, READ, {"k": 2}) == [(20,)]
    assert calls["build"] == 1
    tx.commit()
    # the commit published a new `b`: the base entry is stale and swept
    assert key not in CozoDb._skel_cache
    assert _rows(db, READ, {"k": 1}) == [(99,)]
    assert calls["build"] == 2



def test_txn_shadow_sweep_spares_base_aggregation_skeleton(db, spark):
    """The write-path cache sweep is scoped to the RECORDING db's
    identity. A MultiTransaction's shadow db mirrors the base's relation
    names exactly — its mutations must not wipe the base db's skeleton
    entries (they are still valid for the base until commit), and base
    mutations must still sweep the base's own."""
    import pyspark.sql.functions as F

    from cozo_spark.datalog.engine import CozoDb

    n = 200
    db.register_dataframe("edge", spark.range(n).select(
        (F.col("id") % n).alias("fr"),
        ((F.col("id") * 7 + 1) % n).alias("to")), keys=["fr", "to"])
    s = "?[a, sum(s)] := *edge{fr: a, to: b}, s = b * $w"
    db.run_script_df(s, {"w": 2})
    key = db._skel_key(s, {"w": 2})
    assert key in CozoDb._skel_cache
    db.run_script("?[k, v] <- [[1, 1]] :create txn_t {k => v}")
    db.run_script_df(s, {"w": 3})
    assert key in CozoDb._skel_cache
    with db.multi_transaction() as tx:
        tx.run_script("?[k, v] <- [[2, 2]] :put txn_t {k => v}")
        # the SHADOW's mutation swept only shadow-scoped entries
        assert key in CozoDb._skel_cache, \
            "txn shadow mutation wiped the base db's skeleton cache"
        # and the base entry still binds correctly mid-txn
        assert _rows(db, s, {"w": 5}) == _literal(db, s, {"w": 5})
    # post-commit the registry frames changed -> base sweep on next write
    db.run_script("?[k, v] <- [[3, 3]] :put txn_t {k => v}")
    assert _rows(db, s, {"w": 7}) == _literal(db, s, {"w": 7})


def test_unhoisted_param_script_sees_mutation(db):
    """A support-rule unification with a param is not hoisted; the
    ordinary path's per-value plans must still follow writes to the
    relation they read, for the cached value and for a new one."""
    db.run_script(
        "?[fr, to] <- [[1, 2], [2, 4], [3, 6]] :create sed {fr => to}")
    s = ("ss[a, s] := *sed{fr: a, to: b}, s = b + $d\n"
         "?[a, s] := ss[a, s]")
    assert _rows(db, s, {"d": 10}) == \
        [(1, 12), (2, 14), (3, 16)]
    db.run_script("?[fr, to] <- [[5, 8]] :put sed {fr => to}")
    assert _rows(db, s, {"d": 10}) == \
        [(1, 12), (2, 14), (3, 16), (5, 18)]
    assert _rows(db, s, {"d": 100}) == \
        [(1, 102), (2, 104), (3, 106), (5, 108)]

def test_caches_evict_least_recently_used(db, monkeypatch):
    from cozo_spark.datalog.engine import CozoDb

    monkeypatch.setattr(CozoDb, "_PLAN_CACHE_MAX", 3)
    scripts = [f"?[v] := *b{{k: $k, v}}, v > {i}" for i in range(4)]
    for s in scripts[:3]:
        db.run_script_df(s, {"k": 1})
    # hits refresh the oldest plan, then the oldest skeleton ...
    db.run_script_df(scripts[0], {"k": 1})
    db.run_script_df(scripts[0], {"k": 2})
    db.run_script_df(scripts[3], {"k": 1})
    # ... so the least recently used entries go instead (FIFO would have
    # evicted scripts[0]'s first skeleton and plan)
    skel = CozoDb._skel_cache
    assert len(skel) == 3
    assert db._skel_key(scripts[0], {"k": 1}) in skel
    assert db._skel_key(scripts[1], {"k": 1}) not in skel
    plans = [(k[0], k[1]) for k in CozoDb._plan_cache]
    assert len(plans) == 3
    assert (scripts[0], repr([("k", 1)])) in plans
    assert not any(s in (scripts[1], scripts[2]) for s, _ in plans)


def test_concurrent_reads_see_committed_writes(db):
    """Reads recorded on one thread must not pick up, or lose, another
    thread's recording: a reader of `a` that starts after a write to `a`
    committed sees it (a stale cached plan would not), while readers of
    `b` keep hitting through the writes to `a`."""
    import sys
    import threading

    committed = [0]
    errors: list = []
    lock = threading.Lock()

    def writer():
        for i in range(1, 7):
            db.run_script(f"?[k, v] <- [[1, {i}]] :put a {{k => v}}")
            with lock:
                committed[0] = i

    def reader(rel, k):
        try:
            for _ in range(4):
                with lock:
                    floor = committed[0]
                got = _rows(db, f"?[v] := *{rel}{{k: $k, v}}", {"k": k})
                # `a` starts at 10 and the writer puts 1..6 in order
                if rel == "a" and floor and not floor <= got[0][0] <= 6:
                    errors.append((rel, floor, got))
                if rel == "b" and got != [(k * 10,)]:
                    errors.append((rel, k, got))
        except Exception as e:  # surfaced through `errors` below
            errors.append(repr(e))

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=writer)]
        threads += [threading.Thread(target=reader, args=("a", 1))
                    for _ in range(3)]
        threads += [threading.Thread(target=reader, args=("b", k))
                    for k in (1, 2, 3)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
        assert not any(t.is_alive() for t in threads), "threads hung"
    finally:
        sys.setswitchinterval(old)
    assert not errors, errors
    assert _rows(db, "?[v] := *a{k: 1, v}") == [(6,)]

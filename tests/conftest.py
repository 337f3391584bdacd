from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_SMALL = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from cozo_spark.session import get_spark

    s = get_spark("cozo_spark_tests", **{"spark.sql.shuffle.partitions": "8"})
    yield s


def spy_hops_loop(monkeypatch, cap) -> list:
    """Set ``LOCAL_FIXPOINT_MAX_ROWS`` to ``cap`` (None keeps the default)
    and record every ``graphs._checkpoint_sum`` call: ``shortest_hops``
    makes one per Spark-loop epoch and none on the driver-side loop."""
    import cozo_spark.datalog.fixpoint as FP
    from cozo_spark.fixed_rules import graphs

    if cap is not None:
        monkeypatch.setattr(FP, "LOCAL_FIXPOINT_MAX_ROWS", cap)
    calls: list = []
    orig = graphs._checkpoint_sum

    def spy(*a):
        calls.append(a[1])
        return orig(*a)

    monkeypatch.setattr(graphs, "_checkpoint_sum", spy)
    return calls


def spy_skeleton_builds(monkeypatch) -> list:
    """Record the result of every ``CozoDb._build_skeleton`` attempt.

    The skeleton cache is class-level and an ``("ineligible", key)`` marker
    does not depend on any relation, so the cache starts empty: a marker an
    earlier test left for the same script would hide the attempt."""
    from cozo_spark.datalog.engine import CozoDb

    CozoDb._skel_cache.clear()
    builds: list = []
    orig = CozoDb._build_skeleton

    def spy(self, script, params):
        r = orig(self, script, params)
        builds.append(r)
        return r

    monkeypatch.setattr(CozoDb, "_build_skeleton", spy)
    return builds


def assert_ineligible_once(db, builds: list, script: str, params: dict):
    """The prepared-read contract for a $param script the skeleton refuses:
    one build attempt over every call so far, no skeleton entry, and an
    ``("ineligible", key)`` marker that spares later calls the attempt."""
    from cozo_spark.datalog.engine import CozoDb

    assert builds == [None], builds
    key = db._skel_key(script, params)
    assert key not in CozoDb._skel_cache
    assert CozoDb._skel_cache[("ineligible", key)]["ineligible"]

"""The one cross-call memo: values derived from immutable lazy plans.

A DataFrame is an immutable lazy plan; building one costs real driver time
(py4j round-trips per Column op — measured 1.0-1.5 s for the 64-perm MinHash
expression tree, guide §1/§7.3 "driver-side work"). Returning the SAME
DataFrame object for the same (input frame, params) removes that rebuild, and
a stable frame identity lets the engine's compiled-plan caches hit across
calls. Execution is untouched: every action on a memoized frame recomputes
from the parquet inputs. A non-DataFrame value (an ``::explain`` count) is
memoized the same way: it is a function of its input frames, and a mutation
swaps the relation's frame, so the next call misses.

Every memo outside the engine uses this decorator: ``queries._t``/``_edges``
and the pure-lazy query builders, the dedup/similarity operators and the
engine's ``::explain`` counts. It stays separate from the engine's
relation-stamped ``_plan_cache``/``_skel_cache`` and from dedup's rotating
signature slot.

Each decorated function holds a bounded LRU of ``_MAXSIZE`` entries, keyed on
``id()`` of the input DataFrame(s) — safe because the entry holds a strong
reference (the id cannot be reused while the entry lives). Entries whose
frames belong to a stopped session are swept.
"""

from __future__ import annotations

import threading
from collections import OrderedDict
from functools import wraps

from pyspark.sql import DataFrame

_LOCK = threading.Lock()
_MAXSIZE = 64


def _session_stopped(df: DataFrame) -> bool:
    """Python-side liveness check (SparkContext.stop() nulls _jsc) — no
    py4j round-trip, so it is cheap enough to sweep the whole cache."""
    try:
        sc = df.sparkSession._sc
        return sc is None or getattr(sc, "_jsc", None) is None
    except Exception:
        return False


def _entry_stopped(out, pins: tuple) -> bool:
    """An entry is dead when its output frame (or, for a non-DataFrame
    value, any pinned input frame) belongs to a stopped session."""
    frames = (out,) if isinstance(out, DataFrame) else pins
    return any(_session_stopped(f) for f in frames)


def plan_memo(fn=None, *, extra_key=None):
    """Memoize ``fn`` on (input frames, params); any non-``None`` return
    value is kept. ``fn``'s value must depend on nothing else: a query
    builder that ran a Spark action and baked its rows into the plan would
    serve those rows after the inputs changed.

    Positional/keyword args that are DataFrames key on identity (and are
    pinned by the memo entry); everything else must be hashable.
    Non-hashable params fall through to a plain call.

    ``extra_key(*args, **kwargs) -> hashable`` injects call-time state the
    value BAKES IN but the arguments don't carry — a tuning conf or the
    session timezone read at build time, or a rotating-cache generation —
    so changing that state invalidates the memo instead of silently serving
    a stale plan. The extra key is re-evaluated at STORE time too: when the
    operator's own body advances the state (e.g. rotating a cache slot
    unpersists the previous table), the entry is recorded under the
    post-call state and the next identical call hits.
    """
    if fn is None:
        return lambda f: plan_memo(f, extra_key=extra_key)

    cache: "OrderedDict[tuple, tuple]" = OrderedDict()

    def _make_key(args, kwargs, pinned):
        key_parts = []
        for a in args:
            if isinstance(a, DataFrame):
                key_parts.append(("df", id(a)))
                pinned.append(a)
            else:
                key_parts.append(("v", a))
        for k in sorted(kwargs):
            v = kwargs[k]
            if isinstance(v, DataFrame):
                key_parts.append((k, "df", id(v)))
                pinned.append(v)
            else:
                key_parts.append((k, "v", v))
        if extra_key is not None:
            key_parts.append(("x", extra_key(*args, **kwargs)))
        key = tuple(key_parts)
        hash(key)
        return key

    @wraps(fn)
    def wrapper(*args, **kwargs):
        try:
            key = _make_key(args, kwargs, [])
        except Exception:
            return fn(*args, **kwargs)
        with _LOCK:
            hit = cache.get(key)
            if hit is not None:
                # a value from a stopped session must not be served
                if _entry_stopped(*hit):
                    cache.pop(key, None)
                else:
                    cache.move_to_end(key)
                    return hit[0]
        out = fn(*args, **kwargs)
        if out is not None:
            try:
                pinned: list = []
                store_key = _make_key(args, kwargs, pinned)
            except Exception:
                return out
            with _LOCK:
                # sweep dead-session entries (they would otherwise pin py4j
                # refs until pushed out by LRU)
                dead = [k for k, e in cache.items() if _entry_stopped(*e)]
                for k in dead:
                    cache.pop(k, None)
                cache[store_key] = (out, tuple(pinned))
                while len(cache) > _MAXSIZE:
                    cache.popitem(last=False)
        return out

    wrapper.__wrapped__ = fn
    # the live entries, for tests that check the bound
    wrapper._memo = cache
    return wrapper

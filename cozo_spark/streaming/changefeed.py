"""Change feed: relation mutations as a Structured Streaming source.

The reference's closest capabilities (SURVEY §2.8) are mutation callbacks
(Db::register_callback, runtime/callback.rs:19-57) delivering
(CallbackOp::Put|Rm, new_rows, old_rows), and an SSE endpoint
(/changes/:relation). This module is the Spark-native upgrade:

- every mutation appends a JSON-lines increment to a spool directory
  (relation, op, ts, row payload) — the mutation log;
- ``stream(spark)`` returns ``spark.readStream`` over the spool: a real
  Structured Streaming source supporting watermarks, windowed aggregations,
  and ``foreachBatch`` sinks — trigger logic across micro-batches becomes
  idempotent foreachBatch (exactly-once when the sink is transactional);
- in-process callbacks fire once per mutation, in commit order, on one
  dispatch worker, like the reference's channel-based API.

At scale the spool directory is an object-store prefix and the stream runs
continuously; locally, ``Trigger.AvailableNow`` drains it in tests.
"""

from __future__ import annotations

import json
import os
import threading
import time
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

CHANGE_SCHEMA = T.StructType([
    T.StructField("relation", T.StringType()),
    T.StructField("op", T.StringType()),          # 'put' | 'rm'
    T.StructField("ts", T.DoubleType()),          # event time, epoch seconds
    T.StructField("row", T.StringType()),         # JSON-encoded row payload
])


class ChangeFeed:
    def __init__(self, spool_dir: str):
        self.spool_dir = spool_dir
        os.makedirs(spool_dir, exist_ok=True)
        self._lock = threading.Lock()
        self._seq = 0
        self.callbacks: dict[str, list[Callable]] = {}
        # async dispatch (r10): the reference delivers callbacks over a
        # channel consumed by the receiver's own thread
        # (runtime/callback.rs:19-57) — the committing thread never pays for
        # row materialization or slow subscribers. record() snapshots the
        # callback list and enqueues the LAZY row plans; one ordered worker
        # collects, spools and dispatches. This removes the ~450-550 ms
        # per-mutation spool+collect from the write path (the r9 ~1 put/s
        # ceiling). flush() drains the queue for asserting tests.
        import queue as _queue

        self._q: "_queue.Queue" = _queue.Queue(maxsize=4096)
        self._worker: Optional[threading.Thread] = None
        # Ordering lock for seq-assignment + enqueue. DISTINCT from
        # self._lock on purpose: callbacks running on the worker thread
        # take self._lock (register/unregister), so a producer blocked on
        # a full queue while holding self._lock would deadlock the drain.
        # The worker never takes _emit_lock, so enqueue backpressure can
        # always drain.
        self._emit_lock = threading.Lock()

    # -- producer side (engine hooks) -----------------------------------------

    def record(self, relation: str, op: str, rows: DataFrame,
               old_rows: Optional[DataFrame] = None) -> None:
        # Snapshot under the lock (ADVICE r9 medium): the SSE overflow
        # handler unregisters a stalled subscriber from inside its own
        # callback, and list.remove() during `for cb in cbs` skipped the
        # NEXT healthy subscriber's delivery. Snapshotting at RECORD time
        # also pins which subscribers observe this mutation.
        self._ensure_worker()
        with self._emit_lock:
            with self._lock:
                self._seq += 1
                path = os.path.join(self.spool_dir,
                                    f"changes-{self._seq:08d}.json")
                cbs = list(self.callbacks.get(relation, ()))
            now = time.time()
            if threading.current_thread() is self._worker:
                # re-entrant record (a subscriber callback mutated a
                # relation): queueing from the worker can self-deadlock on
                # a full queue — deliver inline instead (the nested event
                # lands within its parent's delivery, the recursive-trigger
                # ordering)
                self._deliver(relation, op, rows, old_rows, now, path, cbs)
            else:
                # enqueue UNDER the emit lock: concurrent mutators must
                # reach the worker in seq (commit) order. A full queue
                # blocks here (bounded backpressure) — and can always
                # drain, because the worker takes only self._lock, never
                # _emit_lock.
                self._q.put((relation, op, rows, old_rows, now, path, cbs))

    def _spool(self, relation: str, op: str, rows: DataFrame, now: float,
               path: str) -> list:
        payload = [r.asDict(recursive=True) for r in rows.collect()]
        lines = [json.dumps({"relation": relation, "op": op, "ts": now,
                             "row": json.dumps(p, default=str)})
                 for p in payload]
        with open(path, "w") as f:
            f.write("\n".join(lines) + ("\n" if lines else ""))
        return payload

    def _deliver(self, relation: str, op: str, rows: DataFrame,
                 old_rows: Optional[DataFrame], now: float, path: str,
                 cbs: list) -> None:
        payload = self._spool(relation, op, rows, now, path)
        self._notify(relation, op, payload, old_rows, cbs)

    def _notify(self, relation: str, op: str, payload: list,
                old_rows: Optional[DataFrame], cbs: list) -> None:
        # old rows (replaced on put / removed on rm) materialize only when a
        # three-argument callback wants them — reference callbacks deliver
        # (op, new_rows, old_rows), runtime/callback.rs:19-57. The old-rows
        # plan was built over the PRE-mutation frame, so a deferred collect
        # still reads the pre-state.
        old_payload = None
        for cb, wants_old in cbs:
            try:
                if wants_old:
                    if old_payload is None:
                        old_payload = ([r.asDict(recursive=True)
                                        for r in old_rows.collect()]
                                       if old_rows is not None else [])
                    cb(op, payload, old_payload)
                else:
                    cb(op, payload)
            except Exception as e:
                # a raising subscriber must not rob the REMAINING
                # subscribers of this change (the reference's channel
                # receivers are independent)
                import sys

                print(f"changefeed subscriber error ({relation}/{op}): "
                      f"{e!r}", file=sys.stderr)

    def _ensure_worker(self) -> None:
        w = self._worker
        if w is not None and w.is_alive():
            return
        with self._lock:
            w = self._worker
            if w is not None and w.is_alive():
                return
            w = threading.Thread(target=self._worker_loop, daemon=True,
                                 name="cozo-changefeed-dispatch")
            self._worker = w
            w.start()

    def _worker_loop(self) -> None:
        import sys

        while True:
            item = self._q.get()
            try:
                self._deliver(*item)
            except Exception as e:  # collect/spool failure for this change
                print(f"changefeed dispatch error: {e!r}", file=sys.stderr)
            finally:
                self._q.task_done()

    def flush(self) -> None:
        """Block until every recorded mutation is spooled and delivered."""
        self._q.join()

    def register_callback(self, relation: str, fn: Callable) -> None:
        """Reference Db::register_callback (db.rs:789-830). A two-argument
        callable gets fn(op, new_rows); a three-argument one gets
        fn(op, new_rows, old_rows) — old rows are the replaced (put) or
        removed (rm) full rows, matching CallbackOp delivery."""
        import inspect

        try:
            wants_old = len(inspect.signature(fn).parameters) >= 3
        except (TypeError, ValueError):
            wants_old = False
        with self._lock:
            self.callbacks.setdefault(relation, []).append((fn, wants_old))

    def unregister_callback(self, relation: str, fn: Callable) -> bool:
        """Reference Db::unregister_callback (db.rs:832-845): drop one
        registration so dead subscribers don't accumulate for the db's
        lifetime (long-running SSE server)."""
        with self._lock:
            cbs = self.callbacks.get(relation, [])
            for entry in cbs:
                if entry[0] is fn:
                    cbs.remove(entry)
                    break
            else:
                return False
            if not cbs:
                self.callbacks.pop(relation, None)
            return True

    # -- consumer side ----------------------------------------------------------

    def stream(self, spark: SparkSession, relation: Optional[str] = None) -> DataFrame:
        s = (spark.readStream.schema(CHANGE_SCHEMA)
             .option("maxFilesPerTrigger", 64)
             .json(self.spool_dir))
        if relation is not None:
            s = s.filter(s.relation == relation)
        return s

    def batch(self, spark: SparkSession, relation: Optional[str] = None) -> DataFrame:
        """The same log as a batch DataFrame (for replay / backfill)."""
        b = spark.read.schema(CHANGE_SCHEMA).json(self.spool_dir)
        if relation is not None:
            b = b.filter(b.relation == relation)
        return b


def attach_changefeed(db, spool_dir: str) -> ChangeFeed:
    """Enable the change feed on a CozoDb: every put/rm is spooled."""
    feed = ChangeFeed(spool_dir)
    db.changefeed = feed
    return feed

"""The benchmark's two closed-loop workloads.

Each workload is driven by one client thread that sends its next operation
only after the previous one returned. An operation is a zero-argument
callable; everything the benchmark checks about its answer happens outside
the timed call, in `check` (inline) or `verify` (after the timed window).

- Interactive: seeded `$param` CozoScript reads over customer/orders/nation,
  an FTS index on documents and a small edge relation, interleaved with
  puts, removes and point reads on one `:create`d relation that is checked
  against a latest-wins Python model.
- Analytics: fixed-order passes over nine queries of `cozo_spark.queries`,
  checked against their DuckDB oracles.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

ZIPF_S = 1.1


class Zipf:
    """Zipf-skewed draws over `values`: rank r has weight r**-s, and ranks
    are assigned to values by a seeded permutation."""

    def __init__(self, rng: np.random.Generator, values, s: float = ZIPF_S):
        self.values = np.asarray(values)[rng.permutation(len(values))]
        w = np.arange(1, len(values) + 1, dtype=np.float64) ** -s
        self.cdf = np.cumsum(w) / w.sum()
        self.rng = rng

    def draw(self):
        i = int(np.searchsorted(self.cdf, self.rng.random(), side="right"))
        return self.values[min(i, len(self.values) - 1)].item()


@dataclass
class Op:
    kind: str
    is_read: bool
    run: Callable[[], Any]
    params: dict = field(default_factory=dict)
    result: Any = None


def _rows(named) -> list[tuple]:
    return [tuple(r) for r in named.rows]


# -- answer comparison ------------------------------------------------------

def _norm(v):
    import datetime as dt
    import decimal

    if isinstance(v, bool) or v is None or isinstance(v, (str, dt.datetime)):
        return v
    if isinstance(v, (int, np.integer)):
        return int(v)
    if isinstance(v, (float, decimal.Decimal, np.floating)):
        return float(v)
    if isinstance(v, (list, tuple)):  # also pyspark Rows (structs)
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(row):
    return tuple((0, round(x, 4)) if isinstance(x, float)
                 else (0, x) if isinstance(x, int) and not isinstance(x, bool)
                 else (1, repr(x)) for x in row)


def _close(a, b) -> bool:
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
            and not isinstance(a, bool) and not isinstance(b, bool):
        # both sides round their doubles to fixed precision, and summation
        # order differs between Spark and DuckDB, so allow one unit in the
        # last rounded digit (0.01) plus relative float noise
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=0.0101)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    return a == b


def same_rows(got, want) -> bool:
    """Order-insensitive comparison of two row lists."""
    g = sorted((tuple(_norm(x) for x in r) for r in got), key=_sort_key)
    w = sorted((tuple(_norm(x) for x in r) for r in want), key=_sort_key)
    return len(g) == len(w) and all(_close(a, b) for a, b in zip(g, w))


class DuckOracle:
    """DuckDB views over the generated parquet tables."""

    def __init__(self, data_dir: str, work_dir: str):
        import duckdb

        from datagen import TABLES

        self.con = duckdb.connect()
        self.con.execute("SET threads = 2")
        self.con.execute("SET memory_limit = '1GB'")
        self.con.execute(f"SET temp_directory = '{os.path.join(work_dir, 'duckdb')}'")
        for t in TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{os.path.join(data_dir, t + '.parquet')}'")

    def rows(self, sql: str, params: list | None = None) -> list[tuple]:
        return self.con.execute(sql, params or []).fetchall()

    def close(self) -> None:
        self.con.close()


# -- workloads ----------------------------------------------------------------

class Workload:
    cycle: list[str] = []
    keep_results = False  # whether verify needs every op's answer
    # untimed whole cycles before the window. One op of each kind is not
    # enough: the first timed cycle after it still runs interactive puts and
    # pk reads at 1.5-2x their steady latency
    warm_cycles = 1
    min_cycles = 1  # the window has at least this many cycles

    def __init__(self, spark, data_dir: str, work_dir: str, seed: int):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.rng = np.random.default_rng(seed)
        self._i = 0

    def table(self, name: str):
        return self.spark.read.parquet(os.path.join(self.data_dir, name + ".parquet"))

    def setup(self) -> None:  # the timed set-up
        raise NotImplementedError

    def next_op(self) -> Op:
        """Kinds repeat in a fixed interleaved cycle, so every run sends the
        same sequence of kinds with the exact mix; the seed picks keys and
        values."""
        kind = self.cycle[self._i % len(self.cycle)]
        self._i += 1
        return self.op_for(kind)

    def op_for(self, kind: str) -> Op:
        raise NotImplementedError

    def check(self, op: Op) -> bool:
        """Inline check of a completed op; False is a wrong answer."""
        return True

    def quiesce(self) -> None:
        """After the window: wait for the system's background work, so the
        memory reading and the final checks see a settled state."""


    def start_checks(self) -> None:
        """Start input-only answer checks in the background; they must
        finish in `wait_checks`, before the timed window opens."""

    def wait_checks(self) -> None:
        pass

    def verify(self, ops: list[Op]) -> int:
        """Post-window check of recorded answers; returns the failures."""
        return 0


_INTERACTIVE_SCRIPTS = {
    "pk": "?[c_name, c_nationkey, c_acctbal, c_mktsegment] := "
          "*customer{c_custkey: $k, c_name, c_nationkey, c_acctbal, c_mktsegment}",
    "join": "?[o_orderkey, o_totalprice, n_name] := "
            "*customer{c_custkey: $k, c_nationkey: nk}, "
            "*orders{o_orderkey, o_custkey: $k, o_totalprice}, "
            "*nation{n_nationkey: nk, n_name}",
    "agg": "?[o_orderstatus, count(k), sum(p)] := "
           "*customer{c_custkey: c, c_nationkey: $n}, "
           "*orders{o_orderkey: k, o_custkey: c, o_orderstatus, o_totalprice: p}, "
           "p > $min_price",
    "neg": "has_f[c] := *orders{o_custkey: c, o_orderstatus: 'F'}\n"
           "?[c] := *customer{c_custkey: c, c_nationkey: $n, c_acctbal: b}, "
           "b > $min_bal, not has_f[c]",
    "topk": "?[o_orderkey, o_totalprice] := "
            "*orders{o_orderkey, o_totalprice, o_orderpriority: $prio}, "
            "o_totalprice < $cap\n:order -o_totalprice, o_orderkey\n:limit 10",
    "fts": "?[doc_id, score] := "
           "~documents:ft{doc_id | query: $q, k: 10, bind_score: score}",
    "reach": "reach[a, b] := *edge[a, b]\n"
             "reach[a, c] := reach[a, b], *edge[b, c]\n"
             "?[b] := reach[$s, b]",
}

_INTERACTIVE_ORACLES = {
    "pk": ("SELECT c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer "
           "WHERE c_custkey = ?", ("k",)),
    "join": ("SELECT o.o_orderkey, o.o_totalprice, n.n_name FROM customer c "
             "JOIN orders o ON o.o_custkey = c.c_custkey "
             "JOIN nation n ON n.n_nationkey = c.c_nationkey "
             "WHERE c.c_custkey = ?", ("k",)),
    "agg": ("SELECT o.o_orderstatus, count(DISTINCT o.o_orderkey), sum(o.o_totalprice) "
            "FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey "
            "WHERE c.c_nationkey = ? AND o.o_totalprice > ? GROUP BY 1",
            ("n", "min_price")),
    "neg": ("SELECT c_custkey FROM customer c WHERE c_nationkey = ? "
            "AND c_acctbal > ? AND NOT EXISTS (SELECT 1 FROM orders o "
            "WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')",
            ("n", "min_bal")),
    "topk": ("SELECT o_orderkey, o_totalprice FROM orders "
             "WHERE o_orderpriority = ? AND o_totalprice < ? "
             "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10", ("prio", "cap")),
    # Simple tokenizer + Lowercase over single-space-separated lowercase
    # words: a term's tf is its occurrence count, idf = ln(1 + N/df)
    "fts": ("WITH t AS (SELECT doc_id, len(list_filter(string_split(text, ' '), "
            "x -> x = $1)) AS tf FROM documents), "
            "n AS (SELECT count(*) AS n FROM documents), "
            "d AS (SELECT count(*) AS df FROM t WHERE tf > 0) "
            "SELECT doc_id, tf * ln(1 + n.n / d.df) AS score FROM t, n, d "
            "WHERE tf > 0 ORDER BY score DESC, doc_id LIMIT 10", ("q",)),
    "reach": ("WITH RECURSIVE r(b) AS (SELECT dst FROM edge WHERE src = $1 "
              "UNION SELECT e.dst FROM r JOIN edge e ON e.src = r.b) "
              "SELECT b FROM r", ("s",)),
}


class Interactive(Workload):
    """Reads on the TPC-H tables, an FTS index and an edge relation, with
    writes on a 200k-row `:create`d relation `kv` interleaved: 20% pk, 10%
    join, 10% agg, 5% negation, 5% top-k, 10% FTS, 5% reach, 10% kv point
    reads (half on keys written by the last 100 ops), 20% kv puts of 1-8
    rows and 5% kv removes.

    The latest-wins model of `kv` is the generated base (keys 0..n-1, held
    as two numpy columns) plus a dict of the keys written since set-up,
    where None marks a removed key."""
    cycle = ["pk", "put", "join", "kv_read", "fts", "pk", "put", "agg", "neg", "put",
             "pk", "rm", "topk", "join", "put", "kv_read", "agg", "pk", "fts", "reach"]
    keep_results = True
    # two cycles, so that every read kind has at least two samples
    min_cycles = 2
    PUT = "?[k, v, w] <- $rows :put kv {k => v, w}"
    RM = "?[k] <- $rows :rm kv {k}"
    KV_READ = "?[v, w] := *kv{k: $k, v, w}"
    DUMP = "?[k, v, w] := *kv{k, v, w}"

    def __init__(self, spark, data_dir, work_dir, seed):
        super().__init__(spark, data_dir, work_dir, seed)
        import pyarrow.parquet as pq

        from datagen import EDGE_NODES, VOCAB

        n_cust = pq.read_metadata(os.path.join(data_dir, "customer.parquet")).num_rows
        keys = np.arange(n_cust)
        self.cust = Zipf(self.rng, keys)
        self.nation = Zipf(self.rng, np.arange(25))
        self.terms = Zipf(self.rng, np.array(VOCAB + ("dup",)))
        self.node = Zipf(self.rng, np.arange(EDGE_NODES))
        self.prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        base = pq.read_table(os.path.join(data_dir, "kv.parquet"), columns=["v", "w"])
        self.base_v = base["v"].to_numpy()
        self.base_w = base["w"].to_numpy()
        self.n_base = len(self.base_v)
        self.old = Zipf(self.rng, np.arange(self.n_base))
        self.pending_widths: list[int] = []

    def setup(self) -> None:
        from cozo_spark.datalog.engine import CozoDb

        db = CozoDb(self.spark)
        db.register_dataframe("customer", self.table("customer"), keys=["c_custkey"])
        db.register_dataframe("orders", self.table("orders"), keys=["o_orderkey"])
        db.register_dataframe("nation", self.table("nation"), keys=["n_nationkey"])
        db.register_dataframe("edge", self.table("edge"), keys=["src", "dst"])
        db.register_dataframe("documents", self.table("documents").select("doc_id", "text"),
                              keys=["doc_id"])
        db.run_script("::fts create documents:ft {extractor: 'text', tokenizer: 'Simple'}")
        # the FTS index is built lazily by its first search
        db.run_script(_INTERACTIVE_SCRIPTS["fts"], {"q": "dup"})
        db.register_dataframe("kv_src", self.table("kv"), keys=["k"])
        db.run_script(":create kv {k: Int => v: Int, w: Int}")
        db.run_script("?[k, v, w] := *kv_src{k, v, w} :put kv {k => v, w}")
        db.run_script("::compact")
        db.run_script(self.KV_READ, {"k": 0})
        self.db = db
        self.written: dict = {}
        self.next_key = self.n_base
        self.recent: list[int] = []  # keys written by the last 100 ops

    def params(self, kind: str) -> dict:
        r = self.rng
        if kind == "pk":
            return {"k": self.cust.draw()}
        if kind == "join":
            return {"k": self.cust.draw()}
        if kind == "agg":
            return {"n": self.nation.draw(), "min_price": int(r.integers(0, 50)) * 9000.0}
        if kind == "neg":
            return {"n": self.nation.draw(), "min_bal": int(r.integers(0, 50)) * 200.0}
        if kind == "topk":
            return {"prio": self.prios[int(r.integers(0, 5))],
                    "cap": int(r.integers(1, 200)) * 2500.0}
        if kind == "fts":
            return {"q": self.terms.draw()}
        if kind == "reach":
            return {"s": self.node.draw()}
        if kind == "kv_read":
            if self.recent and r.random() < 0.5:
                return {"k": self.recent[int(r.integers(0, len(self.recent)))]}
            return {"k": self.old.draw()}
        if kind == "put":
            rows, seen = [], set()
            for _ in range(int(r.integers(1, 9))):
                if r.random() < 0.5:
                    k, self.next_key = self.next_key, self.next_key + 1
                else:
                    k = self.old.draw()
                if k not in seen:  # one row per key in a batch
                    seen.add(k)
                    rows.append([k, int(r.integers(0, 1 << 30)), int(r.integers(0, 1000))])
        else:  # rm
            rows = [[self.old.draw()] for _ in range(int(r.integers(1, 4)))]
        self.recent.extend(row[0] for row in rows)
        del self.recent[:-100]
        return {"rows": rows}

    def op_for(self, kind: str) -> Op:
        p = self.params(kind)
        if kind in ("put", "rm"):
            script = self.PUT if kind == "put" else self.RM
            return Op(kind, False, lambda: self.db.run_script(script, p), p)
        script = self.KV_READ if kind == "kv_read" else _INTERACTIVE_SCRIPTS[kind]
        return Op(kind, True, lambda: _rows(self.db.run_script(script, p)), p)

    def latest(self, k: int):
        if k in self.written:
            return self.written[k]
        return (int(self.base_v[k]), int(self.base_w[k])) if k < self.n_base else None

    def check(self, op: Op) -> bool:
        """kv ops against the latest-wins model; other reads in verify."""
        self.pending_widths.append(len(self.db.relations["kv"].lsm_pending))
        if op.kind == "put":
            for k, v, w in op.params["rows"]:
                self.written[k] = (v, w)
        elif op.kind == "rm":
            for (k,) in op.params["rows"]:
                self.written[k] = None
        elif op.kind == "kv_read":
            vw = self.latest(op.params["k"])
            return same_rows(op.result, [vw] if vw is not None else [])
        return True

    def quiesce(self) -> None:
        rel = self.db.relations["kv"]
        for t in (rel.lsm_minor_thread, rel.lsm_thread):
            if t is not None:
                t.join(timeout=60)

    def verify(self, ops: list[Op]) -> int:
        model = dict(zip(range(self.n_base),
                         zip(self.base_v.tolist(), self.base_w.tolist())))
        for k, vw in self.written.items():
            if vw is None:
                model.pop(k, None)
            else:
                model[k] = vw
        got = sorted(tuple(r) for r in self.db.run_script_df(self.DUMP).collect())
        bad = int(got != sorted((k, v, w) for k, (v, w) in model.items()))
        oracle = DuckOracle(self.data_dir, self.work_dir)
        try:
            expected: dict = {}
            for op in ops:
                if op.kind not in _INTERACTIVE_ORACLES:
                    continue
                key = (op.kind, tuple(sorted(op.params.items())))
                if key not in expected:
                    sql, names = _INTERACTIVE_ORACLES[op.kind]
                    expected[key] = oracle.rows(sql, [op.params[n] for n in names])
                bad += not same_rows(op.result, expected[key])
            return bad
        finally:
            oracle.close()


ANALYTICS_QUERIES = [
    "agg_basic", "join_multiway", "validity_asof", "datalog_recursion",
    "graph_shortest_hops", "graph_degree_centrality", "minhash_lsh_pairs",
    "ann_cosine_topk", "text_word_topk",
]


def _minhash_oracle_banded(sql: str) -> str:
    """The minhash oracle with its all-pairs band test replaced by an
    equi-join on (band, slice): the same pairs, without the quadratic join
    that makes the oracle take minutes on thousands of documents."""
    head, sep, _ = sql.rpartition("SELECT a.doc_id AS id_a")
    if not sep:
        return sql
    return head.rstrip() + """,
    bands AS (SELECT doc_id, b, sig[b * 4 + 1:b * 4 + 4] AS sl
              FROM sigs, range(0, 16) t(b)),
    cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
             FROM bands x JOIN bands y
               ON x.b = y.b AND x.sl = y.sl AND x.doc_id < y.doc_id)
    SELECT cand.id_a, cand.id_b,
           round(len(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i])) / 64.0,
                 6) AS est_jaccard
    FROM cand JOIN sigs a ON a.doc_id = cand.id_a
              JOIN sigs b ON b.doc_id = cand.id_b
    WHERE len(list_filter(range(1, 65), i -> a.sig[i] = b.sig[i])) / 64.0 >= 0.3
    """


class Analytics(Workload):
    cycle = ANALYTICS_QUERIES
    # datalog_recursion still takes three times its steady latency in the
    # second pass
    warm_cycles = 2
    min_cycles = 3

    def __init__(self, spark, data_dir, work_dir, seed):
        super().__init__(spark, data_dir, work_dir, seed)
        from cozo_spark import queries

        self.queries = queries.QUERIES
        self.first: dict[str, list] = {}

    def setup(self) -> None:
        from cozo_spark.session import load_tables

        for df in load_tables(self.spark, self.data_dir).values():
            df.count()

    def op_for(self, name: str) -> Op:
        q = self.queries[name]
        return Op(name, True, lambda: q(self.spark, self.data_dir).collect())

    def start_checks(self) -> None:
        # the DuckDB oracles depend on the inputs only: compute them in a
        # child process while the untimed warm pass runs
        self.expected_path = os.path.join(self.work_dir, "tmp", "analytics_expected.json")
        self.oracle_proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), self.data_dir, self.work_dir,
             self.expected_path])

    def wait_checks(self) -> None:
        if self.oracle_proc.wait() != 0:
            raise RuntimeError("analytics oracle process failed")

    def check(self, op: Op) -> bool:
        # every pass must return what the first (warm) pass returned; the
        # first pass itself is checked against DuckDB in verify
        if op.kind not in self.first:
            self.first[op.kind] = op.result
            return True
        return same_rows(op.result, self.first[op.kind])

    def verify(self, ops: list[Op]) -> int:
        with open(self.expected_path) as f:
            expected = json.load(f)
        return sum(1 for op in ops
                   if not same_rows(self.first[op.kind], expected[op.kind]))


def analytics_expected(data_dir: str, work_dir: str) -> dict:
    """DuckDB answers of the analytics queries' oracles on the inputs."""
    import __spark_entry__

    sqls = __spark_entry__.oracle_sql()
    oracle = DuckOracle(data_dir, work_dir)
    try:
        return {name: oracle.rows(_minhash_oracle_banded(sqls[name])
                                  if name == "minhash_lsh_pairs" else sqls[name])
                for name in ANALYTICS_QUERIES}
    finally:
        oracle.close()


WORKLOADS = {"interactive": Interactive, "analytics": Analytics}


if __name__ == "__main__":
    # python3 workloads.py <data_dir> <work_dir> <out.json>: analytics oracles
    sys.path[:0] = [os.path.dirname(os.path.abspath(__file__)),
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))]
    with open(sys.argv[3], "w") as f:
        json.dump(analytics_expected(sys.argv[1], sys.argv[2]), f, default=str)

"""Benchmark of the cozo_spark engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Workloads (see workloads.py): interactive, analytics. Each runs a
single client thread in a closed loop against one long-lived SparkSession on
local[nproc]. Inputs are generated from --seed into .perfbench_work/ (not part
of the measured set-up). The set-up is timed once, cold: session start plus
the workload's table registration and index build. Untimed cycles of the op
mix then warm the paths, memory is read, and whole cycles run until --seconds
have passed and at least the workload's minimum number of cycles has run.
Answers are checked outside the timed calls. In untraced runs a reference
Spark job (ref_job_ms) follows every op, and the end-to-end latencies are
reported in units of its median, and the set-up time scaled by it: a shared
host's speed changes by up to 2x between minutes, and the ratio cancels that
out. The raw figures go to the details line.

--trace 0 prints the end-to-end metrics; --trace 1 installs span wrappers
(tracing.py), traces every other op, prints the per-layer
metrics, and writes the spans to .perfbench_work/spans/. The last stdout line
is {"correct", "attempted", "failed", "metrics"}; the line before it holds
details (sample counts, per-kind latencies, host and versions).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# input scale per workload: sf0.1 is 15k customers, 150k orders, 600k
# lineitems, 5k documents and a 200k-row kv relation
SCALE = {"interactive": 0.1, "analytics": 0.1}

# per-layer metric -> the analytics query whose median latency it reports
QUERY_LAYERS = {
    "fixpoint.datalog_recursion_ms": "datalog_recursion",
    "fixpoint.graph_shortest_hops_ms": "graph_shortest_hops",
    "fixed_rules.degree_centrality_ms": "graph_degree_centrality",
    "operators.dedup.minhash_ms": "minhash_lsh_pairs",
}


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    if not values:
        return 0.0
    s = sorted(values)
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def host_ram_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 0


def configure_env(cpus: int) -> None:
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    # the engine defaults (32 cores, 48g) oversubscribe small hosts: take a
    # quarter of physical RAM, at most 4g, for the single local JVM
    gb = max(1, min(4, host_ram_bytes() // (4 << 30)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for d in ("spark-local", "tmp", "spans", "duckdb"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)


def start_spark():
    from cozo_spark.session import get_spark

    return get_spark("perfbench", **{
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # Spark's status store keeps every job, stage and SQL plan string
        # up to these counts; at the defaults it grows through a run and
        # swamps the engine's own live heap in memory_mb
        "spark.ui.retainedJobs": "200",
        "spark.ui.retainedStages": "200",
        "spark.ui.retainedTasks": "5000",
        "spark.sql.ui.retainedExecutions": "20",
    })


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def rss_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return int(line.split()[1])
    return 0


def memory_mb(spark, base_kb: int) -> dict:
    """Memory held by the system: the JVM heap still live after a full GC,
    plus JVM non-heap in use (metaspace, code cache), plus the current RSS
    of this Python process above `base_kb` (the benchmark's own interpreter
    and libraries, read before Spark starts) and of the Spark Python
    workers. The JVM's own RSS is left out: it follows how far the
    collector let the heap grow, which swings by a quarter between
    identical runs."""
    import gc

    gc.collect()
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    # Spark frees the blocks of collected RDDs and broadcasts asynchronously
    # after a GC finds them unreachable: collect, let it clean, collect again
    mx.gc()
    time.sleep(1.0)
    mx.gc()
    jvm = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    parents: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parents[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parents.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    workers = 0
    for pid in tree - {os.getpid()}:
        try:
            with open(f"/proc/{pid}/comm") as f:
                if f.read().strip() == "java":
                    continue
            workers += rss_kb(pid)
        except OSError:
            continue
    return {"jvm_live_mb": jvm / 2**20,
            "driver_python_mb": (rss_kb(os.getpid()) - base_kb) / 1024.0,
            "python_workers_mb": workers / 1024.0}


def jvm_jit_ms(spark) -> float:
    """Time the JVM's JIT compiler threads have spent so far."""
    return float(spark.sparkContext._jvm.java.lang.management.ManagementFactory
                 .getCompilationMXBean().getTotalCompilationTime())


def host_cpu() -> tuple[int, int]:
    """(all CPU time, stolen CPU time) of the host so far, in clock ticks."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return sum(t), t[7]


def ref_job_ms(spark) -> float:
    """One run of the reference job: a bare Spark aggregation over 2M
    generated rows, split like the engine's jobs into one task per core,
    untouched by cozo_spark. Timed right after every op, it tracks the
    speed the shared host gives the JVM at that moment."""
    t0 = time.perf_counter()
    spark.range(0, 2_000_000, 1, spark.sparkContext.defaultParallelism) \
        .selectExpr("sum(hash(id))").collect()
    return (time.perf_counter() - t0) * 1e3


# the reference job's nominal time: setup_s is the set-up time scaled to a
# host on which the reference job takes this long
REF_NOMINAL_MS = 60.0


def job_floor_ms(spark, n: int = 5) -> list[float]:
    """The bare per-job cost: a data-free range(1).count()."""
    out = []
    for _ in range(n):
        t0 = time.perf_counter()
        spark.range(1).count()
        out.append((time.perf_counter() - t0) * 1e3)
    return out


def execute(op) -> tuple[float, bool]:
    t0 = time.perf_counter()
    try:
        op.result = op.run()
        ok = True
    except Exception as e:  # an op failure is counted, not fatal
        log(f"op {op.kind} failed: {type(e).__name__}: {str(e)[:300]}")
        ok = False
    return (time.perf_counter() - t0) * 1e3, ok


def checked(w, op) -> bool:
    if w.check(op):
        return True
    log(f"wrong answer: {op.kind} {str(op.params)[:200]} -> {str(op.result)[:200]}")
    return False


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    import datagen
    from workloads import WORKLOADS

    base_kb = rss_kb(os.getpid())  # the harness alone, before Spark

    # generated in a child process, so its memory stays out of memory_mb
    t0 = time.perf_counter()
    data_dir = datagen.table_dir(os.path.join(WORK, "data"), seed, SCALE[workload])
    subprocess.run([sys.executable, os.path.join(HERE, "datagen.py"), data_dir,
                    str(seed), str(SCALE[workload])], check=True)
    gen_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    spark = start_spark()
    session_s = time.perf_counter() - t0
    try:
        return _run(spark, WORKLOADS[workload], workload, data_dir, seed, seconds,
                    trace, gen_s, session_s, base_kb)
    finally:
        stop_spark(spark)


def _run(spark, cls, workload, data_dir, seed, seconds, trace, gen_s, session_s,
         base_kb):
    from tracing import JobCounter, Tracer, jvm_gc_ms

    tracer = jobs = None
    if trace:
        tracer = Tracer()
        tracer.install()

    w = cls(spark, data_dir, WORK, seed)
    t0 = time.perf_counter()
    w.setup()
    setup_s = session_s + time.perf_counter() - t0
    log(f"set-up (s): {setup_s:.3f}, of which session start {session_s:.3f}")

    w.start_checks()
    failed = 0
    t0 = time.perf_counter()
    for _ in range(w.warm_cycles * len(w.cycle)):  # untimed warm-up
        op = w.next_op()
        _, ok = execute(op)
        if not trace:
            ref_job_ms(spark)
        failed += (not ok) or (not checked(w, op))
    warm_s = time.perf_counter() - t0
    w.wait_checks()
    # read after the fixed warm-up, not after the window, so the figure does
    # not grow with the number of ops a faster program fits in the window
    w.quiesce()
    mem = memory_mb(spark, base_kb)

    sc = spark.sparkContext
    floor = []
    if trace:
        sc.setJobGroup("perfbench-aux", "perfbench bookkeeping", False)
        floor += job_floor_ms(spark)
        sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = JobCounter(spark)
        gc0 = jvm_gc_ms(spark)

    jit_start, cpu_start = jvm_jit_ms(spark), host_cpu()
    ops, lat, ok_flags, traced_flags, job_counts = [], [], [], [], []
    py4j_per_op, ref = [], []
    n_cycle = len(w.cycle)
    # whole cycles only, so every run measures the exact op mix: the window
    # closes at the first cycle boundary after --seconds, and after at
    # least w.min_cycles cycles, so that every kind has samples. A traced
    # run closes it on a boundary of two cycles, see below
    unit = 2 * n_cycle if trace else n_cycle
    t_start = time.perf_counter()
    deadline = t_start + seconds
    while (time.perf_counter() < deadline or len(ops) % unit
           or len(ops) < w.min_cycles * n_cycle):
        op = w.next_op()
        # every other op is traced, shifted by one each cycle: each position
        # of the cycle is traced in one cycle of a pair and untraced in the
        # other, so over whole pairs both halves see the same mix
        traced = trace and (len(ops) % n_cycle + len(ops) // n_cycle) % 2 == 1
        if trace:
            jobs.begin(len(ops))
            tracer.op = len(ops)
            p0 = tracer.py4j_calls
            tracer.enabled = traced
        ms, ok = execute(op)
        if not trace:  # outside any op, so it stays out of the traced jobs
            ref.append(ref_job_ms(spark))
        if trace:
            tracer.enabled = False
            py4j_per_op.append(tracer.py4j_calls - p0)
            job_counts.append(jobs.end(len(ops)))
        ok = ok and checked(w, op)
        if not w.keep_results:
            op.result = None
        ops.append(op)
        lat.append(ms)
        ok_flags.append(ok)
        traced_flags.append(traced)
    t_end = time.perf_counter()
    window_s = t_end - t_start
    jit_window_ms = jvm_jit_ms(spark) - jit_start
    cpu_end = host_cpu()
    steal_pct = 100.0 * (cpu_end[1] - cpu_start[1]) / max(1, cpu_end[0] - cpu_start[0])

    if trace:
        gc_ms = jvm_gc_ms(spark) - gc0
        bg_jobs = jobs.background_jobs()
        sc.setJobGroup("perfbench-aux", "perfbench bookkeeping", False)
        floor += job_floor_ms(spark)
    w.quiesce()

    t0 = time.perf_counter()
    wrong = w.verify(ops)
    verify_s = time.perf_counter() - t0
    failed += sum(not f for f in ok_flags) + wrong

    good = [m for m, f in zip(lat, ok_flags) if f]
    reads = [m for m, f, op in zip(lat, ok_flags, ops) if f and op.is_read]
    writes = [m for m, f, op in zip(lat, ok_flags, ops) if f and not op.is_read]
    kinds: dict[str, list[float]] = {}
    is_read: dict[str, bool] = {}
    for m, f, op in zip(lat, ok_flags, ops):
        if f:
            kinds.setdefault(op.kind, []).append(m)
            is_read[op.kind] = op.is_read

    details = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "host": {"nproc": int(os.environ["SPARK_GRAFT_CPUS"]),
                 "ram_gb": round(host_ram_bytes() / 2**30, 1),
                 "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
                 "python": platform.python_version(), "spark": spark.version,
                 "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version")},
        "scale": SCALE[workload], "data_gen_s": round(gen_s, 3),
        "session_start_s": round(session_s, 3), "warm_s": round(warm_s, 3),
        "memory_mb": {k: round(v, 1) for k, v in mem.items()},
        # what the host took from the window: CPU time stolen by other
        # guests and spent by the JVM's JIT compiler
        "window_s": round(window_s, 3), "steal_pct": round(steal_pct, 2),
        "jit_window_ms": round(jit_window_ms, 1),
        "ops": len(ops), "reads": len(reads), "writes": len(writes),
        "read_p50_ms": round(pct(reads, 50), 3), "read_p95_ms": round(pct(reads, 95), 3),
        "write_p50_ms": round(pct(writes, 50), 3), "write_p95_ms": round(pct(writes, 95), 3),
        "failed": failed, "wrong_answers": wrong, "verify_s": round(verify_s, 3),
        "error_rate": failed / max(1, len(ops)),
        "ops_ms": [[op.kind, round(m, 2)] for op, m in zip(ops, lat)],
        "kinds": {k: {"n": len(v), "p50_ms": round(pct(v, 50), 3),
                      "p90_ms": round(pct(v, 90), 3)} for k, v in sorted(kinds.items())},
    }
    def read_mix(q: float) -> float:
        """Each read kind's q-th percentile, geometric mean over the read
        kinds weighted by their share of the mix. A percentile over all
        reads of a mix of fast and slow kinds falls in the gaps between
        kinds and jumps between runs."""
        ks = {k: v for k, v in kinds.items() if is_read[k]}
        n = sum(w.cycle.count(k) for k in ks)
        return math.exp(sum(math.log(pct(v, q)) * w.cycle.count(k) / n
                            for k, v in ks.items()))

    metrics = {}
    if not trace:
        # one client, closed loop: the mean op latency of a cycle at each
        # kind's median latency; its inverse is the throughput
        op_ms = sum(w.cycle.count(k) * pct(v, 50) for k, v in kinds.items()) / n_cycle
        read_p50_ms = read_mix(50)
        # the shared host's speed swings by up to 2x from one minute to the
        # next, so latencies are reported in units of the reference job
        # timed between the same ops (ref_job_ms), and the set-up time is
        # scaled by it to REF_NOMINAL_MS; raw figures in details
        ref_ms = pct(ref, 50)
        metrics = {
            "setup_s": (setup_s * REF_NOMINAL_MS / ref_ms, "s"),
            "op_rel": (op_ms / ref_ms, "x"),
            "read_p50_rel": (read_p50_ms / ref_ms, "x"),
            "memory_mb": (sum(mem.values()), "MB"),
        }
        details.update({"setup_raw_s": round(setup_s, 3),
                        "ops_per_s": round(1e3 / op_ms, 4), "op_ms": round(op_ms, 3),
                        "read_p50_mix_ms": round(read_p50_ms, 3),
                        "ref_job_ms": {"p25": round(pct(ref, 25), 3), "p50": round(ref_ms, 3),
                                       "p75": round(pct(ref, 75), 3)}})
        details["samples"] = {"op": len(good), "read": len(reads), "write": len(writes),
                              "kinds": {k: len(v) for k, v in sorted(kinds.items())},
                              "ref_job": len(ref), "setup": 1}
    else:
        metrics, extra = layer_metrics(tracer, w, ops, lat, ok_flags, traced_flags,
                                       job_counts, py4j_per_op, floor, gc_ms, bg_jobs)
        details.update(extra)
        path = os.path.join(WORK, "spans", f"{workload}-seed{seed}.json")
        tracer.dump(path, t_start)
        details["spans_file"] = os.path.relpath(path, ROOT)
        tracer.uninstall()
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return details, result


def layer_metrics(tracer, w, ops, lat, ok_flags, traced_flags, job_counts,
                  py4j_per_op, floor, gc_ms, bg_jobs):
    spans = tracer.spans
    by_op: dict[int, list[dict]] = {}
    for s in spans:
        if s["op"] is not None and s["end"] is not None:
            by_op.setdefault(s["op"], []).append(s)
    children: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def dur(s):
        return (s["end"] - s["start"]) * 1e3

    def outermost(s) -> bool:
        p = s["parent"]
        while p is not None:
            if spans[p]["name"] == s["name"]:
                return False
            p = spans[p]["parent"]
        return True

    traced = [i for i, t in enumerate(traced_flags) if t]
    n = max(1, len(traced))

    def per_op_total(name: str) -> float:
        return sum(dur(s) for i in traced for s in by_op.get(i, [])
                   if s["name"] == name and outermost(s)) / n

    def per_op_calls(name: str) -> float:
        return sum(1 for i in traced for s in by_op.get(i, [])
                   if s["name"] == name) / n

    eval_self = 0.0
    engine_ops = hits = 0
    for i in traced:
        sp = by_op.get(i, [])
        for s in sp:
            if s["name"] == "datalog.engine" and outermost(s):
                eval_self += dur(s) - sum(
                    dur(c) for c in children.get(s["id"], [])
                    if c["name"] in ("datalog.parser", "datalog.translate"))
        # the plan cache serves reads only; writes never consult it
        if ops[i].is_read and any(s["name"] == "datalog.engine" for s in sp):
            engine_ops += 1
            hits += not any(s["name"] == "datalog.translate" for s in sp)

    def kind_p50(kind: str) -> float:
        return pct([m for m, op, f, t in zip(lat, ops, ok_flags, traced_flags)
                    if op.kind == kind and f and t], 50)

    def rate(flag: bool) -> float:
        v = [m for m, t in zip(lat, traced_flags) if t == flag]
        return len(v) / (sum(v) / 1e3) if v else 0.0

    widths = getattr(w, "pending_widths", [])  # LSM pending width after each op
    untraced_rate, traced_rate = rate(False), rate(True)
    m = {
        "parser.parse_ms": (per_op_total("datalog.parser"), "ms"),
        "translate.translate_ms": (per_op_total("datalog.translate"), "ms"),
        "translate.calls_per_op": (per_op_calls("datalog.translate"), "count"),
        "py4j.calls_per_op": (sum(py4j_per_op[i] for i in traced) / n, "count"),
        "engine.plan_cache_hit_ratio": (hits / engine_ops if engine_ops else 0.0, "ratio"),
        "engine.eval_self_ms": (eval_self / n, "ms"),
        "engine.put_ms": (kind_p50("put"), "ms"),
        "engine.lsm_pending_width_p50": (pct(widths, 50), "count"),
        "engine.lsm_pending_width_max": (float(max(widths, default=0)), "count"),
        "engine.lsm_background_jobs": (float(bg_jobs), "count"),
        "spark.jobs_per_op": (statistics.mean(j for j, _ in job_counts) if job_counts else 0.0, "count"),
        "spark.tasks_per_op": (statistics.mean(t for _, t in job_counts) if job_counts else 0.0, "count"),
        "spark.job_floor_ms": (pct(floor, 50), "ms"),
        "spark.execute_ms": (per_op_total("spark.execute"), "ms"),
        "operators.fts.search_ms": (kind_p50("fts"), "ms"),
        "jvm.gc_ms_per_op": (gc_ms / max(1, len(ops)), "ms"),
        "trace.overhead_pct": (
            100.0 * (untraced_rate - traced_rate) / untraced_rate if untraced_rate else 0.0, "%"),
    }
    for name, q in QUERY_LAYERS.items():
        m[name] = (kind_p50(q), "ms")
    extra = {
        "traced_ops": len(traced), "untraced_ops": len(ops) - len(traced),
        "plan_cache_base_ops": engine_ops,
        "ops_per_busy_s": {"untraced": round(untraced_rate, 3), "traced": round(traced_rate, 3)},
        "spans": len(spans),
    }
    return m, extra


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, help="input scale (default: SCALE)")
    args = ap.parse_args(argv)
    if args.scale:
        SCALE[args.workload] = args.scale

    if not os.path.isfile(os.path.join(ROOT, "cozo_spark", "datalog", "engine.py")):
        log(f"no cozo_spark sources under {ROOT}; run from a full checkout")
        return 2
    configure_env(len(os.sched_getaffinity(0)))  # as nproc counts them
    sys.path[:0] = [HERE, ROOT]
    details, result = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(details))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

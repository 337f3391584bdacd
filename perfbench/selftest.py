"""Fast self-test of the benchmark: every workload, untraced and traced, at a
tiny input scale (sf0.001) for a few seconds. Asserts that each run exits 0,
that the result line carries exactly the metrics BENCHMARK.json names for
its mode, and that no operation failed or answered wrongly (error rate 0).

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = {0: {m["name"]: m["unit"] for m in spec["end_to_end"]},
            1: {m["name"]: m["unit"] for m in spec["per_layer"]}}
    problems = []
    for wl in (w["name"] for w in spec["workloads"]):
        for trace in (0, 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", "7", "--seconds", "3", "--trace", str(trace),
                   "--scale", "0.001"]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
            tag = f"{wl} trace={trace}"
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}\n{p.stderr[-3000:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"missing {sorted(set(want[trace]) - set(got))}, "
                                f"extra {sorted(set(got) - set(want[trace]))}")
            if res["failed"] or not res["correct"] or res["attempted"] < 1:
                problems.append(f"{tag}: {res['failed']} of {res['attempted']} ops failed")
            bad = [k for k, v in res["metrics"].items()
                   if not isinstance(v["value"], (int, float))]
            if bad:
                problems.append(f"{tag}: non-numeric values {bad}")
            print(f"ok   {tag}: {res['attempted']} ops, {len(got)} metrics", flush=True)
    for msg in problems:
        print(f"FAIL {msg}", flush=True)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Self-test of the benchmark: runs every workload end to end at the
smallest input size, untraced and traced, and checks that

* each run exits 0 and ends stdout with one result line of exactly the
  keys ``correct``, ``attempted``, ``failed``, ``metrics``;
* every output matched its oracle (``correct`` true, ``failed`` 0);
* the metric names and units are exactly ``BENCHMARK.json``'s
  ``end_to_end`` list (untraced) or ``per_layer`` list (traced);
* the traced run wrote its artifact.

It prints the traced pass's span coverage but does not gate on it: on
the smoke inputs the drains are so short that result conversion and Py4J
calls, which no layer span claims, are a larger share than at the bench
sizes (README.md gives the bench-size figures).

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
        bench = json.load(f)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems: list[str] = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            tag = f"{w} trace={trace}"
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w, "--seed", "1",
                 "--seconds", "1", "--trace", str(trace), "--size", "smoke"],
                capture_output=True, text=True, timeout=300,
            )
            if p.returncode != 0:
                problems.append(f"{tag}: exit {p.returncode}: {p.stderr[-500:]}")
                continue
            res = json.loads(p.stdout.strip().splitlines()[-1])
            if sorted(res) != ["attempted", "correct", "failed", "metrics"]:
                problems.append(f"{tag}: result keys {sorted(res)}")
                continue
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                problems.append(f"{tag}: correct={res['correct']} failed={res['failed']} "
                                f"attempted={res['attempted']}")
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{tag}: metrics differ from BENCHMARK.json: "
                                f"{sorted(set(got.items()) ^ set(want[trace].items()))}")
            if trace:
                art = os.path.join(ROOT, ".perfbench_out", f"{w}-c{len(os.sched_getaffinity(0))}"
                                   f"-seed1-trace1-smoke.json")
                if not os.path.isfile(art):
                    problems.append(f"{tag}: no artifact at {art}")
                cov = res["metrics"]["trace.span_coverage"]["value"]
                print(f"{tag}: named spans cover {cov:.2f} of the traced pass", flush=True)
            print(f"{tag}: ok" if not any(x.startswith(tag) for x in problems) else f"{tag}: FAIL",
                  flush=True)
    for p in problems:
        print(p, file=sys.stderr)
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())

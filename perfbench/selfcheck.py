#!/usr/bin/env python3
"""Quick self-check of the benchmark at small size (sf0.001, a small tree).

    python3 perfbench/selfcheck.py

Runs every workload of BENCHMARK.json untraced and traced with
``--size small`` and confirms that each record names exactly the metrics
BENCHMARK.json declares, with their units, that every end-to-end value is
above 0, that the layers each workload calls report more than 0, and that no
operation failed and every correctness check passed. Takes about three
minutes; exits 1 on the first mismatch.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)

# per-layer metrics that must be above 0 on each workload
POSITIVE = {
    "mirror": ("session.", "round.jobs", "round.tasks", "round.spark_job_s", "round.wall_s",
               "round.driver_s", "remote.", "cas.", "sparse.chunks",
               "sparse.bytes", "sparse.cold", "datasource."),
    "spark_queries": ("session.", "round.jobs", "round.tasks", "round.spark_job_s", "round.wall_s",
                      "round.driver_s", "round.executor", "round.shuffle_bytes"),
}


def run(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = spec["command"] + ["--workload", workload, "--seed", "1", "--seconds", "1",
                             "--trace", str(trace), "--size", "small"]
    p = subprocess.run(cmd, cwd=CHECKOUT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        return [f"exit code {p.returncode}: {p.stderr[-2000:]}"]
    rec = json.loads(p.stdout.strip().splitlines()[-1])
    problems = []
    if set(rec) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"record keys {sorted(rec)}")
    if not rec["correct"] or rec["failed"] or rec["attempted"] < 1:
        problems.append(f"correct={rec['correct']} attempted={rec['attempted']} "
                        f"failed={rec['failed']}")
    declared = spec["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in rec["metrics"].items()}
    if got != want:
        problems.append(f"metric names/units differ: missing {sorted(set(want) - set(got))}, "
                        f"extra {sorted(set(got) - set(want))}, units "
                        f"{sorted(k for k in want.keys() & got.keys() if want[k] != got[k])}")
    for name, m in rec["metrics"].items():
        v = m["value"]
        must = not trace or name.startswith(POSITIVE[workload])
        if not isinstance(v, (int, float)) or v < 0 or (must and v <= 0):
            problems.append(f"{name} = {v!r}")
    return problems


def main() -> int:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    failed = False
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems = run(spec, w["name"], trace)
            print(f"{w['name']} trace={trace}: {'ok' if not problems else 'FAIL'}")
            for p in problems:
                print(f"  {p}")
            failed |= bool(problems)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

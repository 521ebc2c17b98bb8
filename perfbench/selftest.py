"""Tiny-scale self-test of the benchmark (about 10k turns per input).

    python3 perfbench/selftest.py

Runs every workload (the ones BENCHMARK.json schedules and
incremental_rollup) once untraced and once traced, and checks that each
metric BENCHMARK.json names is printed with its unit and that no operation
failed. Takes a few minutes; exits non-zero on the first problem.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

from run import WORKLOADS

ROOT = Path(__file__).resolve().parent.parent


def run(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} trace={trace}: exit {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = {0: spec["end_to_end"], 1: spec["per_layer"]}
    for wl in WORKLOADS:
        for trace in (0, 1):
            out = run(wl, trace)
            got = out["metrics"]
            problems = [
                f"{m['name']}: missing or unit {got.get(m['name'])}"
                for m in wanted[trace]
                if got.get(m["name"], {}).get("unit") != m["unit"]
            ]
            extra = set(got) - {m["name"] for m in wanted[trace]}
            if extra:
                problems.append(f"unexpected metrics {sorted(extra)}")
            if out["failed"] or not out["correct"] or out["attempted"] < 1:
                problems.append(f"{out['failed']} of {out['attempted']} "
                                "operations failed")
            if problems:
                raise SystemExit(f"{wl} trace={trace}: " + "; ".join(problems))
            print(f"ok {wl} trace={trace}: {len(got)} metrics, "
                  f"{out['attempted']} operations, none failed", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

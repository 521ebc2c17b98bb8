"""Interleaved parent/change pairs of the perfbench benchmark.

    python scripts/perfbench_pairs.py --parent c3605fb \
        --workload global_scan --seeds 301 302 303 304 305 306 307 308 309 310

Exports the parent commit with ``git archive`` into ``--parent-dir``
(default ``.bench_cache/parent_<rev>``; a plain copy of the committed
files, as the benchmark runs them), then for each seed runs
``python3 perfbench/run.py --workload W --seed S --seconds N`` once from
that copy and once from this working tree, alternating which side runs
first. Each pair prints one JSON line; the last line is the summary: per
end-to-end metric of ``BENCHMARK.json``, and per timed operation (the
per-label medians perfbench prints, e.g. ``approx_distinct_multi.jvm``),
each side's median and quartiles and the pairs the change won (ties count
for neither side). Reads the lines perfbench prints; changes nothing under
``perfbench/``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import statistics
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# perfbench's per-operation line: "[perfbench]   <label>: n=<n> median <s> s"
OP_LINE = re.compile(r"^\[perfbench\]\s+(\S+): n=\d+ median ([\d.]+) s$")


def export(rev: str, path: str) -> str:
    """The committed files of ``rev`` under ``path`` (made once)."""
    if not os.path.isfile(os.path.join(path, "perfbench", "run.py")):
        os.makedirs(path, exist_ok=True)
        archive = subprocess.run(["git", "archive", rev], cwd=REPO,
                                 check=True, capture_output=True).stdout
        subprocess.run(["tar", "-x", "-C", path], input=archive, check=True)
    return path


def run(root: str, workload: str, seed: int, seconds: float) -> dict:
    """One perfbench run: its result line, plus ``"ops"``, the median
    seconds of each timed operation."""
    out = subprocess.run(
        ["python3", "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds)],
        cwd=root, capture_output=True, text=True, timeout=1800, check=True,
    )
    lines = out.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    res["ops"] = {m[1]: float(m[2]) for m in map(OP_LINE.match, lines) if m}
    return res


def quartiles(xs: list[float]) -> list[float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return [round(q1, 4), round(q2, 4), round(q3, 4)]


def compare(par: list[float], chg: list[float], sign: int) -> dict:
    q_par = quartiles(par)
    return {
        "parent_q1_med_q3": q_par,
        "change_q1_med_q3": quartiles(chg),
        "parent_iqr": round(q_par[2] - q_par[0], 4),
        "change_wins": sum(sign * (c - p) > 0 for p, c in zip(par, chg)),
        "pairs": len(par),
    }


def summary(pairs: list[dict], metrics: list[dict]) -> dict:
    out = {}
    for m in metrics:
        name, sign = m["name"], 1 if m["better"] == "higher" else -1
        out[name] = compare([p["parent"][name] for p in pairs],
                            [p["change"][name] for p in pairs], sign)
    return out


def op_summary(pairs: list[dict]) -> dict:
    """Per timed operation both sides ran in every pair (lower is better)."""
    labels = set.intersection(*(set(p[s]["ops"]) for p in pairs
                                for s in ("parent", "change")))
    return {label: compare([p["parent"]["ops"][label] for p in pairs],
                           [p["change"]["ops"][label] for p in pairs], -1)
            for label in sorted(labels)}


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="git rev of the parent")
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--parent-dir", help="where to export the parent")
    args = ap.parse_args()
    sides = {
        "parent": export(args.parent, args.parent_dir or os.path.join(
            REPO, ".bench_cache", f"parent_{args.parent}")),
        "change": REPO,
    }
    pairs = []
    for i, seed in enumerate(args.seeds):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {"seed": seed, "first": order[0]}
        for side in order:
            res = run(sides[side], args.workload, seed, args.seconds)
            pair[side] = {k: v["value"] for k, v in res["metrics"].items()}
            pair[side]["correct"] = res["correct"]
            pair[side]["ops"] = res["ops"]
        pairs.append(pair)
        print(json.dumps(pair), flush=True)
    print(json.dumps({"workload": args.workload, "parent": args.parent,
                      "seeds": args.seeds, "seconds": args.seconds,
                      "all_correct": all(p[s]["correct"] for p in pairs
                                         for s in ("parent", "change")),
                      "metrics": summary(pairs, bench["end_to_end"]),
                      "ops": op_summary(pairs)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

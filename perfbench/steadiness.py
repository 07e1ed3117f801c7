"""Steadiness report: run every workload on several seeds and record,
per end-to-end metric, the median, the quartiles and the quartile
spread ((Q3 - Q1) / median) next to the metric's bound.

    python3 perfbench/steadiness.py --runs 10 [--first-seed 100] \
        [--workload dashboard ...] [--baseline earlier-steadiness.json]

Run from the repository root. Writes ``perfbench/steadiness.json``
(every run's result line) and ``perfbench/STEADINESS.md``. With
``--baseline``, each metric's median is also compared with an earlier
report's: "worse by" is the share by which this set's median is worse
than the earlier one's, in the metric's direction, to set against its
bound.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def summarize(runs: list[dict], spec: dict) -> dict:
    out = {}
    for m in spec["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs]
        q1, med, q3 = statistics.quantiles(vals, n=4)
        out[m["name"]] = {"unit": m["unit"], "bound": m["bound"],
                          "q1": q1, "median": statistics.median(vals), "q3": q3,
                          "spread": (q3 - q1) / statistics.median(vals),
                          "values": vals}
    return out


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=100)
    p.add_argument("--workload", action="append")
    p.add_argument("--baseline")
    args = p.parse_args()
    base = None
    if args.baseline:
        with open(args.baseline) as f:
            base = json.load(f)["workloads"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]

    report = {"machine": f"{platform.machine()}, {os.cpu_count()} CPUs",
              "run_seconds": spec["run_seconds"], "workloads": {}}
    for w in workloads:
        runs, walls = [], []
        for i in range(args.runs):
            seed = args.first_seed + i
            t = time.time()
            proc = subprocess.run(
                spec["command"] + ["--workload", w, "--seed", str(seed),
                                   "--seconds", str(spec["run_seconds"]),
                                   "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, check=True)
            walls.append(time.time() - t)
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            res["seed"] = seed
            runs.append(res)
            print(w, seed, round(walls[-1], 1), json.dumps(res), flush=True)
        report["workloads"][w] = {
            "runs": runs, "wall_s": walls,
            "all_correct": all(r["correct"] and r["failed"] == 0 for r in runs),
            "metrics": summarize(runs, spec)}

    with open(os.path.join(HERE, "steadiness.json"), "w") as f:
        json.dump(report, f, indent=1)
    lines = [
        "# Steadiness report",
        "",
        f"Machine: {report['machine']}. `run_seconds` = {spec['run_seconds']}.",
        f"{args.runs} runs per workload, seeds {args.first_seed}.."
        f"{args.first_seed + args.runs - 1}, untraced. Spread is "
        "(Q3 - Q1) / median with `statistics.quantiles(values, n=4)`.",
        "",
    ]
    better = {m["name"]: m["better"] for m in spec["end_to_end"]}
    for w, wr in report["workloads"].items():
        cmp = base.get(w) if base else None
        head = "| metric | unit | Q1 | median | Q3 | spread | bound |"
        rule = "|---|---|---|---|---|---|---|"
        if cmp:
            head += " earlier median | worse by |"
            rule += "---|---|"
        lines += [f"## {w}", "",
                  f"All runs correct: {wr['all_correct']}. Wall time per run: "
                  f"median {statistics.median(wr['wall_s']):.1f} s, "
                  f"max {max(wr['wall_s']):.1f} s.", "", head, rule]
        for name, s in wr["metrics"].items():
            row = (f"| `{name}` | {s['unit']} | {s['q1']:.4g} | "
                   f"{s['median']:.4g} | {s['q3']:.4g} | "
                   f"{s['spread']:.3f} | {s['bound']} |")
            if cmp and name in cmp["metrics"]:
                old = cmp["metrics"][name]["median"]
                worse = (s["median"] - old) / old
                if better[name] == "higher":
                    worse = -worse
                row += f" {old:.4g} | {worse:+.3f} |"
            elif cmp:
                row += " — | — |"
            lines.append(row)
        lines.append("")
    with open(os.path.join(HERE, "STEADINESS.md"), "w") as f:
        f.write("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Steadiness report: run workloads over many seeds and show how much
each end-to-end metric spreads.

    python3 perfbench/steadiness.py --seeds 1-10 [--workloads etl_listings ...]
                                    [--sets 2] [--out report.json]

Runs ``BENCHMARK.json``'s command once per (set, workload, seed), one
at a time, from the checkout root. For every metric it prints the
median, the quartiles (``statistics.quantiles(n=4)``) and the spread
``(q3 - q1) / median`` next to the metric's bound; with ``--sets 2`` it
also prints how far the second set's median moved from the first. The
median duration of each job position (cold, warm-up, warm) is printed
too: that is the evidence for each workload's warm-up depth.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    if "-" in text:
        lo, hi = (int(x) for x in text.split("-"))
        return list(range(lo, hi + 1))
    return [int(x) for x in text.split(",")]


def run_once(bench: dict, workload: str, seed: int) -> dict:
    cmd = bench["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(bench["run_seconds"]), "--trace", "0",
    ]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed:\n{proc.stderr[-2000:]}")
    jobs = [ln for ln in lines if ln.startswith("jobs: ")]
    return {
        "result": json.loads(lines[-1]),
        "jobs": [float(j.split("=")[1].rstrip("s")) for j in jobs[0][6:].split(", ")]
        if jobs else [],
        "run_s": time.perf_counter() - t0,
    }


def summarize(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--out")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workloads or [w["name"] for w in bench["workloads"]]
    seeds = parse_seeds(args.seeds)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    runs: dict[str, list[list[dict]]] = {w: [] for w in names}
    for s in range(args.sets):
        for w in names:
            runs[w].append([])
            for seed in seeds:
                r = run_once(bench, w, seed)
                runs[w][s].append(r)
                res = r["result"]
                print(
                    f"set {s + 1} {w} seed {seed}: {r['run_s']:.1f}s "
                    f"correct={res['correct']} failed={res['failed']}/{res['attempted']} "
                    + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                    flush=True,
                )

    report: dict = {}
    ok = True
    for w in names:
        report[w] = {"metrics": {}, "job_positions": [], "run_s": []}
        print(f"\n{w}")
        for s, rs in enumerate(runs[w]):
            report[w]["run_s"].append(statistics.median(r["run_s"] for r in rs))
            for r in rs:
                ok &= r["result"]["correct"]
        for name, bound in bounds.items():
            sets = [summarize([r["result"]["metrics"][name]["value"] for r in rs])
                    for rs in runs[w]]
            entry = {"bound": bound, "sets": sets}
            line = (f"  {name:12s} bound {bound:.2f}  " + "  ".join(
                f"median {x['median']:.4g} q1 {x['q1']:.4g} q3 {x['q3']:.4g} "
                f"spread {x['spread']:.3f}" for x in sets))
            if len(sets) > 1:
                entry["median_shift"] = sets[1]["median"] / sets[0]["median"] - 1
                line += f"  shift {entry['median_shift']:+.3f}"
            print(line)
            report[w]["metrics"][name] = entry
        depth = min(len(r["jobs"]) for rs in runs[w] for r in rs)
        positions = [statistics.median(r["jobs"][i] for rs in runs[w] for r in rs)
                     for i in range(depth)]
        report[w]["job_positions"] = positions
        print("  median job time by position: " + ", ".join(f"{p:.3f}" for p in positions))
        print(f"  median run time: {report[w]['run_s']}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

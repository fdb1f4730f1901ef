"""Interleaved A/B harness: same-session comparison of two or more arms.

An ARM is a (tree, cores) pair. The trees are the working tree
(``new``) and, with ``--ref``, a second tree checked out as a git
worktree (``ref``); the cores are the ``--cpus`` list. Every arm runs
once per cycle, each run in a fresh subprocess JVM, and the arm order
rotates by one every cycle so a slow window on the box hits every arm
equally (the box drifts +/-25% between sessions, so only same-session
interleaved runs are admissible evidence for a speed claim).

Each child follows bench.py's protocol: touch every table and fork the
Python worker pool, then run each query ``--runs`` times to the noop
sink (run 1 is cold, runs 2+ are warm), releasing managed caches
between queries. ``--heavy`` runs ``bench.heavy_bench`` unchanged
instead (sf1-equivalent inputs, 3 runs per entry, including the k=256
semantic dedup entry).

    python scripts/ab.py --ref <commit> --names q1,q2 [--cycles 3] [--runs 3]
    python scripts/ab.py --cpus 1,4 --heavy [--cycles 2] [--out FILE]

Registry queries read ``$SPARK_GRAFT_SF_DIR`` (default: the sf0.1
testdata, ``sources.testdata.DEFAULT_SF_DIR``). The
summary gives, per query and arm, the median cold run over cycles and
the min and median of all warm runs, plus each arm's ratio to the
first arm (>1 = slower than the first arm). Raw per-cycle lines and
the summary go to stdout and, with ``--out``, to a file, so the
adjudication is replayable. The ref worktree is removed on exit.
"""

from __future__ import annotations

import argparse
import itertools
import json
import os
import statistics
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PREFIX = "ABRESULT "


def child(tree: str, names: list[str], runs_n: int, heavy: bool) -> None:
    """Measure in this process and print one ``ABRESULT`` line:
    ``{query: [run seconds, ...]}``."""
    sys.path.insert(0, tree)
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    from cloud_dataflow_batch_processing_spark.caching import release_managed_caches
    from cloud_dataflow_batch_processing_spark.queries import REGISTRY, queries
    from cloud_dataflow_batch_processing_spark.session import get_spark
    from cloud_dataflow_batch_processing_spark.sources.testdata import (
        DEFAULT_SF_DIR as sf_dir,
        load_tables,
    )

    spark = get_spark(app_name="cdbp-ab")
    spark.sparkContext.setLogLevel("ERROR")
    queries()
    if not heavy:
        for df in load_tables(spark, sf_dir).values():
            df.count()
    _touch = pandas_udf(lambda s: s, "long")
    spark.range(10_000).repartition(
        int(spark.sparkContext.defaultParallelism)
    ).select(_touch(F.col("id"))).write.format("noop").mode("overwrite").save()

    out: dict[str, list[float]] = {}
    if heavy:
        import bench

        out = {q: e["runs"] for q, e in bench.heavy_bench(spark).items()}
    for name in names:
        fn = REGISTRY[name].fn
        runs = []
        for _ in range(runs_n):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.perf_counter() - t0, 4))
        release_managed_caches()
        out[name] = runs
    print(PREFIX + json.dumps(out), flush=True)


def arm_order(arms: list, cycle: int) -> list:
    """The arms rotated left by ``cycle``: every arm takes every slot
    once per ``len(arms)`` cycles (for two arms: alternate)."""
    k = cycle % len(arms)
    return arms[k:] + arms[:k]


def parse_result(stdout: str) -> dict[str, list[float]]:
    for line in stdout.splitlines():
        if line.startswith(PREFIX):
            return json.loads(line[len(PREFIX):])
    raise ValueError("no ABRESULT line in child output")


def summarize(results: dict[str, list[dict[str, list[float]]]]) -> dict:
    """``results``: arm label -> one ``{query: runs}`` dict per cycle
    (insertion order: the first arm is the ratio base)."""
    arms = list(results)
    summary: dict[str, dict] = {}
    for q in results[arms[0]][0]:
        per_arm = {}
        for arm in arms:
            cycles = [r[q] for r in results[arm]]
            warm = [t for runs in cycles for t in runs[1:]]
            per_arm[arm] = {
                "cold": round(statistics.median(runs[0] for runs in cycles), 4),
                "warm_min": min(warm),
                "warm_med": round(statistics.median(warm), 4),
            }
        base = dict(per_arm[arms[0]])
        for s in per_arm.values():
            s["ratio"] = {k: round(s[k] / max(v, 1e-9), 3) for k, v in base.items()}
        summary[q] = per_arm
    return summary


def format_summary(summary: dict) -> list[str]:
    lines = [f"{'query':34} {'arm':10} {'cold':>8} {'warm_min':>9} {'warm_med':>9}"
             "  ratio cold/warm_min/warm_med"]
    for q, per_arm in summary.items():
        for arm, s in per_arm.items():
            r = s["ratio"]
            lines.append(
                f"{q:34} {arm:10} {s['cold']:8.3f} {s['warm_min']:9.3f} "
                f"{s['warm_med']:9.3f}  {r['cold']}/{r['warm_min']}/{r['warm_med']}"
            )
    return lines


def run_child(tree: str, cpus: str, args) -> dict[str, list[float]]:
    # PYTHONPATH: the Python workers import the package from this tree too.
    env = dict(os.environ, PYTHONDONTWRITEBYTECODE="1", PYTHONPATH=tree,
               SPARK_GRAFT_CPUS=cpus)
    cmd = [sys.executable, os.path.abspath(__file__), "--run-child", tree,
           "--names", args.names, "--runs", str(args.runs)]
    p = subprocess.run(cmd + ["--heavy"] * args.heavy, capture_output=True,
                       text=True, env=env, cwd=tree, timeout=3600)
    try:
        return parse_result(p.stdout)
    except ValueError:
        raise RuntimeError(
            f"child failed rc={p.returncode}\n{p.stdout[-2000:]}\n{p.stderr[-2000:]}"
        ) from None


def add_worktree(ref: str) -> str:
    path = os.path.join(REPO, ".ab_worktrees", ref.replace("/", "_"))
    subprocess.run(["git", "worktree", "remove", "--force", path], cwd=REPO,
                   check=False, capture_output=True)
    subprocess.run(["git", "worktree", "add", "--force", "--detach", path, ref],
                   cwd=REPO, check=True)
    return path


def remove_worktree(path: str) -> None:
    subprocess.run(["git", "worktree", "remove", "--force", path], cwd=REPO,
                   check=False, capture_output=True)
    subprocess.run(["git", "worktree", "prune"], cwd=REPO, check=False)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--ref", default="", help="second tree (git ref)")
    ap.add_argument("--cpus", default=os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())))
    ap.add_argument("--names", default="", help="registry queries, comma-separated")
    ap.add_argument("--heavy", action="store_true", help="run bench.heavy_bench")
    ap.add_argument("--cycles", type=int, default=3)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--out", default="")
    ap.add_argument("--run-child", dest="run_child_tree", default=None)
    args = ap.parse_args()
    names = [n.strip() for n in args.names.split(",") if n.strip()]
    if not names and not args.heavy:
        ap.error("give --names and/or --heavy")
    if args.runs < 2:
        ap.error("--runs must be >= 2 (run 1 is cold)")
    if args.run_child_tree:
        child(args.run_child_tree, names, args.runs, args.heavy)
        return

    ref_tree = add_worktree(args.ref) if args.ref else None
    try:
        trees = {"ref": ref_tree, "new": REPO} if ref_tree else {"new": REPO}
        cpus = [c.strip() for c in args.cpus.split(",") if c.strip()]
        arms = list(itertools.product(trees, cpus))
        label = {a: f"{a[0]}:c{a[1]}" for a in arms}
        results: dict[str, list[dict]] = {label[a]: [] for a in arms}
        lines: list[str] = []

        def emit(s: str) -> None:
            print(s, flush=True)
            lines.append(s)

        for c in range(args.cycles):
            for arm in arm_order(arms, c):
                t0 = time.time()
                res = run_child(trees[arm[0]], arm[1], args)
                results[label[arm]].append(res)
                emit(f"cycle {c} {label[arm]}: {time.time() - t0:.1f}s " + json.dumps(res))
        summary = summarize(results)
        for s in format_summary(summary):
            emit(s)
        emit("ABSUMMARY " + json.dumps(summary))
    finally:
        if ref_tree:
            remove_worktree(ref_tree)
    if args.out:
        with open(args.out, "w") as f:
            f.write("\n".join(lines) + "\n")


if __name__ == "__main__":
    main()

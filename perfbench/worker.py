"""One benchmark driver process: start the session, run one workload's
jobs one after another, and write what it measured as JSON.

Started by ``run.py`` with the generated input already in place; the
program sees only that input. The phases are:

1. ``setup``: from the moment ``run.py`` launched this process until
   ``session.get_spark`` returns (``PERFBENCH_T0`` carries the launch
   time);
2. ``cold``: the first job in the fresh session;
3. ``warmup``: jobs run and checked but not timed as warm;
4. ``warm``: jobs until ``--seconds`` have passed (at least
   ``--min-jobs``), each timed in wall and process-tree CPU seconds.

With ``--trace 1`` the warm phase alternates untraced jobs with traced
ones (see ``layers.py``), and the file also holds the spans and the
per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input-dir", required=True)
    ap.add_argument("--extra", action="append", default=[],
                    help="NAME=INPUT_DIR of a workload the traced run also traces")
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--warmup", type=int, required=True)
    ap.add_argument("--min-jobs", type=int, default=2,
                    help="warm jobs to run even when --seconds have passed")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    t0 = float(os.environ["PERFBENCH_T0"])

    sys.path[:0] = [ROOT, HERE]
    import proctree
    import workloads
    from cloud_dataflow_batch_processing_spark.caching import release_managed_caches
    from cloud_dataflow_batch_processing_spark.session import get_spark

    spark = get_spark()
    setup_s = time.time() - t0
    spark.sparkContext.setLogLevel("ERROR")

    w = workloads.WORKLOADS[args.workload]
    input_dirs = dict(e.split("=", 1) for e in args.extra)
    input_dirs[w.name] = args.input_dir
    expected = {}
    for name, input_dir in input_dirs.items():
        with open(os.path.join(input_dir, f"oracle-{name}.json")) as f:
            expected[name] = json.load(f)
    me = os.getpid()

    def job(name: str, run=None) -> dict:
        """One job of workload ``name``: run, collect, check. Timing
        covers the program call and collecting its result, not the
        comparison with the oracle."""
        work_dir = workloads.reset_dir(os.path.join(args.work_dir, "job"))
        cpu0, w0 = proctree.cpu_seconds(me), time.perf_counter()
        try:
            run = run or workloads.WORKLOADS[name].run
            result = run(spark, input_dirs[name], work_dir)
            error = None
        except Exception as exc:  # a failed job is counted, not fatal
            result, error = None, f"{type(exc).__name__}: {exc}"[:500]
        wall, cpu = time.perf_counter() - w0, proctree.cpu_seconds(me) - cpu0
        release_managed_caches()
        errors = [error] if error else workloads.check(name, result, expected[name])
        return {"workload": name, "wall_s": wall, "cpu_s": cpu, "ok": not errors,
                "errors": errors[:3], "result": result}

    jobs = []

    def record(phase: str, rec: dict) -> dict:
        rec["phase"] = phase
        jobs.append(rec)
        return rec

    record("cold", job(w.name))
    for _ in range(args.warmup):
        record("warmup", job(w.name))

    layers_out = None
    if args.trace:
        import layers

        extras = {k: v for k, v in input_dirs.items() if k != w.name}
        layers_out = layers.traced_phase(spark, w, args, job, record, extras)
    else:
        start = time.perf_counter()
        n = 0
        while n < args.min_jobs or time.perf_counter() - start < args.seconds:
            record("warm", job(w.name))
            n += 1

    for rec in jobs:
        rec.pop("result", None)
    out = {"setup_s": setup_s, "jobs": jobs, "layers": layers_out}
    tmp = args.out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(out, f)
    os.replace(tmp, args.out)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

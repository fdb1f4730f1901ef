"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload etl_listings --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The input for
``--seed`` is generated (or reused from ``.perfbench_cache/``) and its
oracle result computed before anything is timed; the input's digest is
printed so two runs can show they measured the same bytes. Then one
fresh driver process (``worker.py``) runs the workload's jobs one at a
time at ``local[--cores]`` while this process samples the resident
memory of its process tree. Two more fresh processes follow that only
start a session, so ``setup_s`` is a median of 3.

With ``--trace 0`` the last line holds the end-to-end metrics (see
``README.md``); with ``--trace 1`` it holds the per-layer metrics of
a traced run, and the spans are written to ``.perfbench_cache/traces/``.
Every job's result is checked against the oracle; a wrong result
counts as a failed job and makes ``correct`` false.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cloud_dataflow_batch_processing_spark"
CACHE = os.path.join(ROOT, ".perfbench_cache")
WORKER_TIMEOUT_S = 150
# How long the processes a driver leaves behind (its JVM, Python
# workers) get to end on their own before they are killed.
ORPHAN_GRACE_S = 30
# The session's default 8g heap lets the JVM grow to ~7 GB of resident
# memory on these small inputs; 1536m holds them.
DRIVER_MEMORY = "1536m"
# Fresh processes per run timed until get_spark returns: the main one
# and setup-only probes.
SETUPS = 3


def worker_env(cores: int) -> dict[str, str]:
    """Environment of a driver process. Python workers forked by the JVM
    import the package, so the checkout root goes on their
    ``PYTHONPATH`` here instead of relying on the working directory.
    Scratch space stays inside the checkout."""
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEMORY,
        SPARK_LOCAL_DIRS=os.path.join(CACHE, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONHASHSEED="0",
    )
    return env


def launch(cmd: list[str], env: dict[str, str], cwd: str) -> tuple[int, int]:
    """Run a driver process to completion while sampling its tree's
    memory every 0.2 s, then wait until every process it started has
    ended too, so none of them overlaps the next launch or outlives the
    run. Returns the exit code and the memory peak: the largest sum,
    over the processes alive at one sample and seen at an earlier one,
    of each one's own peak resident set size, broken down by process
    name."""
    import proctree

    env = dict(env, PERFBENCH_T0=repr(time.time()))
    with open(os.path.join(cwd, "driver.log"), "ab") as log:
        proc = subprocess.Popen(cmd, env=env, cwd=cwd, stdout=log, stderr=log)
    peak: dict[str, int] = {}
    seen: set[int] = set()
    stop = threading.Event()

    def sample() -> None:
        nonlocal peak
        while not stop.wait(0.2):
            now: dict[str, int] = {}
            for pid, (name, hwm) in proctree.peak_rss_bytes(proc.pid).items():
                # A process counts from its second sample on: a child the
                # JVM has forked but not yet exec'd reports the JVM's own
                # pages, which would count them twice.
                if pid in seen:
                    now[name] = now.get(name, 0) + hwm
                seen.add(pid)
            if sum(now.values()) > sum(peak.values()):
                peak = now

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    try:
        code = proc.wait(timeout=WORKER_TIMEOUT_S)
        grace = ORPHAN_GRACE_S
    except subprocess.TimeoutExpired:
        code, grace = -1, 0
    finally:
        stop.set()
        sampler.join()
    killed = proctree.reap_descendants(grace)
    if killed and code == 0:
        print(f"killed {len(killed)} processes still running {grace}s after "
              "the driver process ended", file=sys.stderr)
    return code, peak


def end_to_end(main: dict, setups: list[float], peak_rss: dict[str, int]) -> dict:
    warm = [j for j in main["jobs"] if j["phase"] == "warm"]
    cold = [j for j in main["jobs"] if j["phase"] == "cold"]
    return {
        "setup_s": (statistics.median(setups), "s"),
        "first_job_s": (cold[0]["wall_s"], "s"),
        "job_s": (statistics.median(j["wall_s"] for j in warm), "s"),
        "job_cpu_s": (statistics.median(j["cpu_s"] for j in warm), "CPU-s"),
        "peak_rss_mb": (sum(peak_rss.values()) / (1 << 20), "MB"),
    }


def _terminate(signum, frame) -> None:
    raise SystemExit(128 + signum)


def main(argv: list[str] | None = None) -> int:
    """Run the benchmark; whichever way it ends, no process it started
    is left running."""
    import proctree

    proctree.become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, _terminate)
    try:
        return _main(argv)
    finally:
        proctree.reap_descendants(0)


def _main(argv: list[str] | None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=3)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to {os.path.basename(HERE)}/", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[args.workload]
    cores = max(1, min(args.cores, os.cpu_count() or 1))

    cmd_extra: list[str] = []
    t_prep = time.perf_counter()
    input_dir, meta, _ = workloads.prepare(w, os.path.join(CACHE, "inputs"), args.seed)
    print(
        f"input {meta['kind']} seed={args.seed} size={meta['size']} "
        f"sha256={meta['digest']} prepared in {time.perf_counter() - t_prep:.1f}s"
    )

    if args.trace:
        for name in w.traced_extras:
            extra_dir, extra_meta, _ = workloads.prepare(
                workloads.WORKLOADS[name], os.path.join(CACHE, "inputs"), args.seed
            )
            print(f"traced extra {name}: sha256={extra_meta['digest']}")
            cmd_extra.append(f"--extra={name}={extra_dir}")

    run_dir = workloads.reset_dir(os.path.join(CACHE, "runs", f"{w.name}-{os.getpid()}"))
    env = worker_env(cores)
    out = os.path.join(run_dir, "worker.json")
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", w.name, "--input-dir", input_dir,
        "--work-dir", run_dir, "--seconds", str(args.seconds),
        "--trace", str(args.trace), *cmd_extra,
        "--warmup", str(w.warmup), "--out", out,
    ]
    code, peak = launch(cmd, env, run_dir)
    if code != 0 or not os.path.exists(out):
        print(f"driver process failed with exit code {code}; see "
              f"{os.path.join(run_dir, 'driver.log')}", file=sys.stderr)
        return 1
    with open(out) as f:
        main_run = json.load(f)

    jobs = list(main_run["jobs"])
    failed = sum(not j["ok"] for j in jobs)
    for j in jobs:
        if not j["ok"]:
            print(f"failed {j['phase']} job: {j['errors']}", file=sys.stderr)

    if args.trace:
        metrics = {k: (v, u) for k, (v, u) in main_run["layers"]["metrics"].items()}
        metrics["session.get_spark_s"] = (main_run["setup_s"], "s")
        for note in main_run["layers"]["notes"]:
            print(f"note: {note}")
        traces = os.path.join(CACHE, "traces")
        os.makedirs(traces, exist_ok=True)
        spans_path = os.path.join(traces, f"{w.name}-s{args.seed}-{os.getpid()}.json")
        with open(spans_path, "w") as f:
            json.dump(main_run["layers"]["spans"], f)
        print(f"spans: {spans_path}")
    else:
        # More fresh processes that only start a session.
        setups = [main_run["setup_s"]]
        for i in range(1, SETUPS):
            probe_out = os.path.join(run_dir, f"probe-{i}.json")
            probe = [sys.executable, os.path.join(HERE, "setup_probe.py"), probe_out]
            if launch(probe, env, run_dir)[0] != 0:
                print(f"driver process failed; see {os.path.join(run_dir, 'driver.log')}",
                      file=sys.stderr)
                return 1
            with open(probe_out) as f:
                setups.append(json.load(f)["setup_s"])
        print(f"setup samples: {[round(s, 3) for s in setups]}")
        print("peak RSS MB by process: " + ", ".join(
            f"{k}={v / (1 << 20):.0f}" for k, v in sorted(peak.items())))
        metrics = end_to_end(main_run, setups, peak)
        print(
            "jobs: " + ", ".join(f"{j['phase']}={j['wall_s']:.3f}s" for j in main_run["jobs"])
        )

    shutil.rmtree(run_dir, ignore_errors=True)
    result = {
        "correct": failed == 0,
        "attempted": len(jobs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

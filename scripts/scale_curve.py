"""Scale curve for the heavy corpus operators: wall time per op and
materialize mode at several corpus sizes, plus the scaling exponent
between consecutive points.

    python scripts/scale_curve.py --points 50k,500k \\
        --ops minhash,substring,clean,shard --modes cache,checkpoint,bucketed
    SPARK_GRAFT_DRIVER_MEM=48g python scripts/scale_curve.py --points 5m,20m \\
        --ops substring --modes bucketed

Points (deterministic corpora from scripts/gen_scale_docs.py, cached
under .bench_data/): 50k, 500k, 5m, 20m documents (sf1/sf10/sf100/sf400
equivalent). 5m and above need a 48 GB JVM heap (second usage line).
Shuffle partitions grow with the corpus, as a real cluster submit
sizes them: the minhash fetch joins' per-task hash build is
|corpus|/P rows, and holding P at the local default while the corpus
grows 100x ran the Java heap out of memory at 5M.

Ops:
- ``minhash``: minhash_near_dup_pairs, threshold 0.8;
- ``substring``: substring_dup_stats;
- ``clean``: the corpus_clean_pipeline shape (quality filter, minhash
  dedup anti-join, per-language totals);
- ``shard``: shuffle_shard_assign + shard_stats at 1024 shards; checks
  the round-robin +/-1 balance and that every document is placed.
  Takes no mode.

The first three run under every ``--modes`` entry, interleaved run by
run within a point so session drift hits every mode equally. Each run
collects a one-row fingerprint of the op's output (row count + summed
xxhash64 of every column), and the script fails if the modes of one op
disagree. Run 1 is cold, warm is the min of runs 2+. Exponent =
log(t_hi/t_lo) / log(n_hi/n_lo) between consecutive points (1.0 ==
linear). Prints one JSON line; progress goes to stderr.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

BASE = os.path.join(REPO, ".bench_data")
# label -> (documents, corpus subdirectory, shuffle partitions)
POINTS = {
    "50k": (50_000, "sf1_docs", 32),
    "500k": (500_000, "sf10_docs", 64),
    "5m": (5_000_000, "sf100_docs", 128),
    "20m": (20_000_000, "sf400_docs", 256),
}
OPS = ("minhash", "substring", "clean", "shard")
MODES = ("cache", "checkpoint", "bucketed")
N_SHARDS = 1024


def fingerprint(df) -> list:
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
    row = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).collect()[0]
    return [row["n"], str(row["h"])]


def op_runner(docs, n_docs: int, parts: int, scratch: str):
    """name -> fn(mode) that runs the op once and returns its check value."""
    from pyspark.sql import functions as F

    from cloud_dataflow_batch_processing_spark.extensions import dedup as D
    from cloud_dataflow_batch_processing_spark.extensions import substring as SUB
    from cloud_dataflow_batch_processing_spark.extensions.shard import (
        shard_stats,
        shuffle_shard_assign,
    )
    from cloud_dataflow_batch_processing_spark.functions.text_fast import (
        lang_id_fast,
        quality_score_fast,
    )

    def pairs(mode):
        return D.minhash_near_dup_pairs(
            docs, "doc_id", "text", threshold=0.8, materialize=mode, scratch_dir=scratch
        )

    def clean(mode):
        dropped = pairs(mode).select(F.col("doc_b").alias("doc_id")).distinct()
        kept = docs.filter(quality_score_fast(F.col("text")) >= 0.5).join(
            dropped, on="doc_id", how="left_anti"
        )
        return kept.groupBy(lang_id_fast(F.col("text")).alias("pred_lang")).agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("total_chars")
        )

    def shard(_mode):
        sized = docs.select("doc_id", F.length("text").alias("n_chars"))
        manifest = shard_stats(
            shuffle_shard_assign(sized, n_shards=N_SHARDS, num_partitions=parts)
        ).collect()
        sizes = [r["n_docs"] for r in manifest]
        check = {"balance_ok": max(sizes) - min(sizes) <= 1, "total_ok": sum(sizes) == n_docs}
        if not all(check.values()):
            raise SystemExit(f"shard invariant broken: {check}")
        return check

    return {
        "minhash": lambda m: fingerprint(pairs(m)),
        "substring": lambda m: fingerprint(
            SUB.substring_dup_stats(docs, materialize=m, scratch_dir=scratch)
        ),
        "clean": lambda m: fingerprint(clean(m)),
        "shard": shard,
    }


def run_point(spark, label: str, ops: list[str], modes: list[str], n_runs: int) -> dict:
    from cloud_dataflow_batch_processing_spark.caching import release_managed_caches
    from scripts.gen_scale_docs import ensure_scale_docs

    n, sub, parts = POINTS[label]
    spark.conf.set("spark.sql.shuffle.partitions", str(parts))
    t0 = time.perf_counter()
    docs = spark.read.parquet(ensure_scale_docs(os.path.join(BASE, sub), n_docs=n))
    out: dict = {"n_docs": n, "gen_s": round(time.perf_counter() - t0, 1), "ops": {}, "checks": {}}
    runner = op_runner(docs, n, parts, os.path.join(BASE, f"curve_scratch_{label}"))
    for op in ops:
        op_modes = ["-"] if op == "shard" else modes
        runs: dict[str, list[float]] = {m: [] for m in op_modes}
        checks: dict[str, object] = {}
        for _ in range(n_runs):
            for mode in op_modes:
                t0 = time.perf_counter()
                checks[mode] = runner[op](mode)
                runs[mode].append(round(time.perf_counter() - t0, 2))
                release_managed_caches()
                print(f"  {label} {op} {mode} run={runs[mode][-1]} check={checks[mode]}",
                      file=sys.stderr, flush=True)
        if len({json.dumps(c) for c in checks.values()}) != 1:
            raise SystemExit(f"{label} {op}: mode outputs diverge: {checks}")
        out["ops"][op] = {
            m: {"cold": r[0], "warm": min(r[1:]), "runs": r} for m, r in runs.items()
        }
        out["checks"][op] = checks[op_modes[0]]
    return out


def exponents(points: dict) -> dict[str, float]:
    labels = sorted(points, key=lambda p: POINTS[p][0])
    exps = {}
    for lo, hi in zip(labels, labels[1:]):
        scale = math.log(POINTS[hi][0] / POINTS[lo][0])
        for op, per_mode in points[hi]["ops"].items():
            for mode, t in per_mode.items():
                base = points[lo]["ops"].get(op, {}).get(mode)
                if base is None:
                    continue
                for k in ("cold", "warm"):
                    exps[f"{op}.{mode}.{k}.{lo}-{hi}"] = round(math.log(t[k] / base[k]) / scale, 3)
    return exps


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--points", default="50k,500k")
    ap.add_argument("--ops", default=",".join(OPS))
    ap.add_argument("--modes", default="checkpoint")
    ap.add_argument("--runs", type=int, default=2)
    args = ap.parse_args()

    def split(s: str, allowed) -> list[str]:
        xs = [x for x in s.split(",") if x]
        if not xs or set(xs) - set(allowed):
            ap.error(f"pick from {list(allowed)}: {s!r}")
        return xs

    labels = split(args.points, POINTS)
    ops, modes = split(args.ops, OPS), split(args.modes, MODES)
    if args.runs < 2:
        ap.error("--runs must be >= 2 (run 1 is cold)")

    from cloud_dataflow_batch_processing_spark.session import get_spark

    spark = get_spark(app_name="cdbp-scale-curve")
    spark.sparkContext.setLogLevel("ERROR")
    points = {label: run_point(spark, label, ops, modes, args.runs) for label in labels}
    print(json.dumps({"points": points, "exponents": exponents(points)}))


if __name__ == "__main__":
    main()

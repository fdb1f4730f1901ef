"""The traced run: per-layer metrics of each workload, measured from
outside the program.

After the cold and warm-up jobs, the traced phase alternates an
untraced job with a traced one until ``--seconds`` have passed. A
traced job calls the same program entry point as the untraced one, but
the module attributes the program looks up for each layer are wrapped
(:meth:`spans.Tracer.wrap`) so every call into a layer is a span whose
Spark jobs carry the span's job group. Frames that a lazy layer
returned are run to the ``noop`` sink after the job's root span has
closed, each in a span ``<layer>.force``, so the root span times the
same work as an untraced job. Tracing overhead is the median root span
minus the median untraced job.

Every per-layer metric is reported for every workload; a layer the
workload does not call reports 0. Each traced job yields one value per
metric and the run reports the median over its traced jobs.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from typing import Callable

import spans
import workloads

# name -> unit, in the order BENCHMARK.json lists them.
METRICS: dict[str, str] = {
    "session.get_spark_s": "s",
    "trace.overhead_s": "s",
    "trace.traced_jobs": "count",
    # etl_listings
    "workload.run_reference_pipeline.cpu_s": "CPU-s",
    "workload.run_reference_pipeline.gc_s": "s",
    "sources.text.read_csv.scan_s": "s",
    "sources.text.read_csv.input_bytes": "bytes",
    "sources.text.read_csv.rows": "count",
    "sources.text.read_csv.cpu_s": "CPU-s",
    "sources.text.read_csv.gc_s": "s",
    "sources.bigquery.write_table.raw_s": "s",
    "sources.bigquery.write_table.raw_bytes_written": "bytes",
    "sources.bigquery.write_table.transform_s": "s",
    "sources.bigquery.write_table.cpu_s": "CPU-s",
    "sources.bigquery.write_table.gc_s": "s",
    "workload.group_sum_transform.shuffle_bytes": "bytes",
    "workload.group_sum_transform.shuffle_records": "count",
    "workload.group_sum_transform.cpu_s": "CPU-s",
    "workload.group_sum_transform.gc_s": "s",
    # corpus_curation
    "queries_dedup.corpus_build_full.build_s": "s",
    "queries_dedup.corpus_build_full.build_jobs": "count",
    "queries_dedup.corpus_build_full.execute_s": "s",
    "queries_dedup.corpus_build_full.spill_bytes": "bytes",
    "queries_dedup.corpus_build_full.cpu_s": "CPU-s",
    "queries_dedup.corpus_build_full.gc_s": "s",
    "functions.text_fast.quality_th_fast.python_s": "s",
    "functions.text_fast.quality_th_fast.python_bytes_sent": "bytes",
    "functions.text_fast.quality_th_fast.python_bytes_returned": "bytes",
    "functions.text_fast.quality_th_fast.arrow_passes": "count",
    "extensions.dedup.minhash_near_dup_pairs_s": "s",
    "extensions.dedup.minhash_near_dup_pairs.cpu_s": "CPU-s",
    "extensions.dedup.minhash_near_dup_pairs.gc_s": "s",
    "extensions.substring.substring_dup_stats_s": "s",
    "extensions.substring.substring_dup_stats.cpu_s": "CPU-s",
    "extensions.substring.substring_dup_stats.gc_s": "s",
    "caching.materialize_stage_s": "s",
    "caching.materialize_stage.calls": "count",
    "caching.materialize_stage.cached_bytes": "bytes",
    # semantic_dedup
    "extensions.similarity.kmeans_centroids_s": "s",
    "extensions.similarity.kmeans_jobs": "count",
    "extensions.similarity.kmeans_centroids.cpu_s": "CPU-s",
    "extensions.similarity.kmeans_assign_s": "s",
    "extensions.similarity.pair_verify_s": "s",
    "extensions.similarity.python_bytes_sent": "bytes",
    "extensions.similarity.verify_yield": "ratio",
    "extensions.similarity.max_cluster": "count",
    "extensions.similarity.semantic_dedup_stats.cpu_s": "CPU-s",
    "extensions.similarity.semantic_dedup_stats.gc_s": "s",
    # stream_dedup
    "streaming.lsh_dedup.batches": "count",
    "streaming.lsh_dedup.add_batch_s": "s",
    "streaming.lsh_dedup.query_planning_s": "s",
    "streaming.lsh_dedup.wal_commit_s": "s",
    "streaming.lsh_dedup.get_batch_s": "s",
    "streaming.lsh_dedup.staging_s": "s",
    "streaming.lsh_dedup.store_bytes": "bytes",
    "streaming.lsh_dedup.cpu_s": "CPU-s",
    "streaming.lsh_dedup.gc_s": "s",
}


def _stage(tr: spans.Tracer, name: str, key: str) -> float:
    return sum(tr.inclusive(s, "stage", key) for s in tr.find(name))


def _dur(tr: spans.Tracer, name: str) -> float:
    return sum(tr.duration(s) for s in tr.find(name))


def _cached_bytes(spark) -> int:
    return sum(int(i.memSize()) + int(i.diskSize())
               for i in spark.sparkContext._jsc.sc().getRDDStorageInfo())


# --- etl_listings ------------------------------------------------------------


def etl_traced(tr: spans.Tracer) -> Callable:
    from cloud_dataflow_batch_processing_spark import workload

    def run(spark, input_dir, work_dir):
        restore = [
            tr.wrap(workload, "read_csv", "sources.text.read_csv", lazy=True),
            tr.wrap(workload, "group_sum_transform", "workload.group_sum_transform", lazy=True),
            tr.wrap(
                workload, "write_table",
                lambda a, kw: "sources.bigquery.write_table."
                + a[1].rsplit("_", 1)[-1],
            ),
        ]
        try:
            with tr.span("workload.run_reference_pipeline"):
                result = workloads.etl_run(spark, input_dir, work_dir)
        finally:
            for r in restore:
                r()
        tr.force_pending()
        return result

    return run


def etl_metrics(tr: spans.Tracer, result) -> dict[str, float]:
    scan = "sources.text.read_csv.force"
    gst = "workload.group_sum_transform.force"
    raw, tf = "sources.bigquery.write_table.raw", "sources.bigquery.write_table.transform"
    root = "workload.run_reference_pipeline"
    return {
        f"{root}.cpu_s": _stage(tr, root, "cpu_s"),
        f"{root}.gc_s": _stage(tr, root, "gc_s"),
        "sources.text.read_csv.scan_s": _dur(tr, scan),
        "sources.text.read_csv.input_bytes": _stage(tr, scan, "input_bytes"),
        "sources.text.read_csv.rows": _stage(tr, scan, "input_records"),
        "sources.text.read_csv.cpu_s": _stage(tr, scan, "cpu_s"),
        "sources.text.read_csv.gc_s": _stage(tr, scan, "gc_s"),
        "sources.bigquery.write_table.raw_s": _dur(tr, raw),
        "sources.bigquery.write_table.raw_bytes_written": _stage(tr, raw, "output_bytes"),
        "sources.bigquery.write_table.transform_s": _dur(tr, tf),
        "sources.bigquery.write_table.cpu_s": _stage(tr, raw, "cpu_s") + _stage(tr, tf, "cpu_s"),
        "sources.bigquery.write_table.gc_s": _stage(tr, raw, "gc_s") + _stage(tr, tf, "gc_s"),
        "workload.group_sum_transform.shuffle_bytes": _stage(tr, gst, "shuffle_bytes"),
        "workload.group_sum_transform.shuffle_records": _stage(tr, gst, "shuffle_records"),
        "workload.group_sum_transform.cpu_s": _stage(tr, gst, "cpu_s"),
        "workload.group_sum_transform.gc_s": _stage(tr, gst, "gc_s"),
    }


# --- corpus_curation ---------------------------------------------------------


def corpus_traced(tr: spans.Tracer) -> Callable:
    from cloud_dataflow_batch_processing_spark import caching, queries_dedup
    from cloud_dataflow_batch_processing_spark.extensions import dedup, substring

    root = "queries_dedup.corpus_build_full"

    def build(spark, input_dir):
        with tr.span(root + ".build"):
            return queries_dedup.corpus_build_full(spark, input_dir)

    def collect(df):
        with tr.span(root + ".execute"):
            out = df.toPandas()
        tr.extra["cached_bytes"] = _cached_bytes(df.sparkSession)
        return out

    def run(spark, input_dir, work_dir):
        restore = [
            tr.wrap(caching, "materialize_stage", "caching.materialize_stage"),
            tr.wrap(dedup, "minhash_near_dup_pairs",
                    "extensions.dedup.minhash_near_dup_pairs", lazy=True),
            tr.wrap(substring, "substring_dup_stats",
                    "extensions.substring.substring_dup_stats", lazy=True),
        ]
        try:
            with tr.span(root):
                result = workloads.corpus_run(
                    spark, input_dir, work_dir, build=build, collect=collect
                )
        finally:
            for r in restore:
                r()
        tr.force_pending()
        return result

    return run


def corpus_metrics(tr: spans.Tracer, result) -> dict[str, float]:
    root = "queries_dedup.corpus_build_full"
    (rec,) = tr.find(root)

    def sql(key: str) -> float:
        return tr.inclusive(rec, "sql", key)

    out = {
        f"{root}.build_s": _dur(tr, root + ".build"),
        f"{root}.build_jobs": sum(
            len(s["jobs"]) for s in tr.spans
            if s["name"] == root + ".build" or tr.has_ancestor(s, root + ".build")
        ),
        f"{root}.execute_s": _dur(tr, root + ".execute"),
        f"{root}.spill_bytes": tr.inclusive(rec, "stage", "spill_bytes")
        + tr.inclusive(rec, "stage", "disk_spill_bytes"),
        f"{root}.cpu_s": tr.inclusive(rec, "stage", "cpu_s"),
        f"{root}.gc_s": tr.inclusive(rec, "stage", "gc_s"),
        "functions.text_fast.quality_th_fast.python_s": sql("python_s"),
        "functions.text_fast.quality_th_fast.python_bytes_sent": sql("python_bytes_sent"),
        "functions.text_fast.quality_th_fast.python_bytes_returned": sql("python_bytes_returned"),
        "functions.text_fast.quality_th_fast.arrow_passes": sql("arrow_passes"),
        "caching.materialize_stage_s": _dur(tr, "caching.materialize_stage"),
        "caching.materialize_stage.calls": len(tr.find("caching.materialize_stage")),
        "caching.materialize_stage.cached_bytes": tr.extra.get("cached_bytes", 0),
    }
    for layer in ("extensions.dedup.minhash_near_dup_pairs",
                  "extensions.substring.substring_dup_stats"):
        out[f"{layer}_s"] = _dur(tr, layer) + _dur(tr, layer + ".force")
        for key in ("cpu_s", "gc_s"):
            out[f"{layer}.{key}"] = _stage(tr, layer, key) + _stage(tr, layer + ".force", key)
    return out


# --- semantic_dedup ----------------------------------------------------------


def semantic_traced(tr: spans.Tracer) -> Callable:
    from cloud_dataflow_batch_processing_spark import caching
    from cloud_dataflow_batch_processing_spark.extensions import similarity

    cache = caching.managed_cache

    def assign(df):
        # semantic_dedup_stats caches exactly one frame: the final
        # nearest-centroid assignment. Populate it here so the
        # assignment is timed apart from the pair verify that reads it.
        df = cache(df)
        df.count()
        return df

    def run(spark, input_dir, work_dir):
        restore = [
            tr.wrap(similarity, "kmeans_centroids", "extensions.similarity.kmeans_centroids"),
        ]
        caching.managed_cache = tr.traced_call(assign, "extensions.similarity.kmeans_assign")
        try:
            with tr.span("extensions.similarity.semantic_dedup_stats"):
                result = workloads.semantic_run(spark, input_dir, work_dir)
        finally:
            caching.managed_cache = cache
            for r in restore:
                r()
        return result

    return run


def semantic_metrics(tr: spans.Tracer, result) -> dict[str, float]:
    (rec,) = tr.find("extensions.similarity.semantic_dedup_stats")
    cols, rows = result[0], result[1:]
    members = [r[cols.index("n_members")] for r in rows]
    dropped = [r[cols.index("n_dropped")] for r in rows]
    pairs = sum(m * (m - 1) // 2 for m in members)
    km = "extensions.similarity.kmeans_centroids"
    return {
        f"{km}_s": _dur(tr, km),
        "extensions.similarity.kmeans_jobs": sum(len(s["jobs"]) for s in tr.find(km)),
        f"{km}.cpu_s": _stage(tr, km, "cpu_s"),
        "extensions.similarity.kmeans_assign_s": _dur(tr, "extensions.similarity.kmeans_assign"),
        "extensions.similarity.pair_verify_s": tr.self_time(rec),
        "extensions.similarity.python_bytes_sent": rec["sql"]["python_bytes_sent"],
        "extensions.similarity.verify_yield": sum(dropped) / pairs if pairs else 0.0,
        "extensions.similarity.max_cluster": max(members, default=0),
        "extensions.similarity.semantic_dedup_stats.cpu_s": tr.inclusive(rec, "stage", "cpu_s"),
        "extensions.similarity.semantic_dedup_stats.gc_s": tr.inclusive(rec, "stage", "gc_s"),
    }


# --- stream_dedup --------------------------------------------------------------

# StreamingQueryProgress.durationMs keys -> metric suffixes.
PROGRESS_DURATIONS = {
    "addBatch": "add_batch_s",
    "queryPlanning": "query_planning_s",
    "walCommit": "wal_commit_s",
    "getBatch": "get_batch_s",
}


def _listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """Query start time and every micro-batch's progress."""

        def __init__(self):
            self.started: float | None = None
            self.progress: list[dict] = []

        def onQueryStarted(self, event):
            from datetime import datetime

            self.started = datetime.fromisoformat(
                event.timestamp.replace("Z", "+00:00")
            ).timestamp()

        def onQueryProgress(self, event):
            self.progress.append(dict(event.progress.durationMs))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def stream_traced(tr: spans.Tracer) -> Callable:
    def run(spark, input_dir, work_dir):
        from cloud_dataflow_batch_processing_spark.queries_io import _REPO_ROOT

        listener = _listener()
        spark.streams.addListener(listener)
        try:
            called = time.time()
            with tr.span("streaming.lsh_dedup"):
                result = workloads.stream_run(spark, input_dir, work_dir)
            tr.sc._jsc.sc().listenerBus().waitUntilEmpty()
        finally:
            spark.streams.removeListener(listener)
        # streaming_lsh_dedup keeps its staging, store and sink here.
        scratch = os.path.join(
            _REPO_ROOT, "spark-warehouse",
            f"stream_lsh_{os.path.basename(input_dir.rstrip('/'))}",
        )
        store_bytes = _tree_bytes(os.path.join(scratch, "store"))
        shutil.rmtree(scratch, ignore_errors=True)
        tr.extra["stream"] = {
            "batches": len(listener.progress),
            "staging_s": (listener.started or called) - called,
            "store_bytes": store_bytes,
            **{
                suffix: sum(p.get(key, 0) for p in listener.progress) / 1000.0
                for key, suffix in PROGRESS_DURATIONS.items()
            },
        }
        return result

    return run


def stream_metrics(tr: spans.Tracer, result) -> dict[str, float]:
    (rec,) = tr.find("streaming.lsh_dedup")
    out = {f"streaming.lsh_dedup.{k}": v for k, v in tr.extra["stream"].items()}
    out["streaming.lsh_dedup.cpu_s"] = tr.inclusive(rec, "stage", "cpu_s")
    out["streaming.lsh_dedup.gc_s"] = tr.inclusive(rec, "stage", "gc_s")
    return out


TRACED = {
    "etl_listings": (etl_traced, etl_metrics, "workload.run_reference_pipeline"),
    "corpus_curation": (corpus_traced, corpus_metrics, "queries_dedup.corpus_build_full"),
    "semantic_dedup": (semantic_traced, semantic_metrics,
                       "extensions.similarity.semantic_dedup_stats"),
    "stream_dedup": (stream_traced, stream_metrics, "streaming.lsh_dedup"),
}


def _traced_job(spark, name: str, job, record, i: int):
    """One traced job of workload ``name``: (job record, tracer)."""
    make_run = TRACED[name][0]
    tr = spans.Tracer(spark, run_id=f"{os.getpid()}.{name}.{i}")
    rec = record("traced", job(name, run=make_run(tr)))
    tr.collect()
    return rec, tr


def traced_phase(spark, w, args, job, record, extras: dict[str, str]) -> dict:
    """Alternate untraced and traced jobs of ``w`` for ``args.seconds``
    (at least ``args.min_jobs`` pairs), then run each workload in
    ``extras`` once untraced, to warm it, and once traced."""
    _, layer_metrics, root = TRACED[w.name]
    untraced, traced, per_job, span_log, notes = [], [], [], [], []
    start = time.perf_counter()
    i = 0
    while i < args.min_jobs or time.perf_counter() - start < args.seconds:
        untraced.append(record("warm", job(w.name))["wall_s"])
        rec, tr = _traced_job(spark, w.name, job, record, i)
        if rec["ok"]:
            traced.append(sum(tr.duration(s) for s in tr.find(root)))
            per_job.append(layer_metrics(tr, rec["result"]))
        span_log.extend(tr.export())
        i += 1
    metrics = {name: 0.0 for name in METRICS}
    for name in per_job[0] if per_job else ():
        metrics[name] = statistics.median(m[name] for m in per_job)
    if traced:
        metrics["trace.overhead_s"] = statistics.median(traced) - statistics.median(untraced)
        notes.append(
            f"{w.name}: traced job_s {statistics.median(traced):.4f} vs untraced "
            f"{statistics.median(untraced):.4f} over {len(traced)} pairs"
        )
    metrics["trace.traced_jobs"] = len(traced)
    for name in extras:
        record("extra", job(name))
        rec, tr = _traced_job(spark, name, job, record, 0)
        if rec["ok"]:
            metrics.update(TRACED[name][1](tr, rec["result"]))
        notes.append(f"{name}: layers from one traced job after one untraced job")
        span_log.extend(tr.export())
    return {
        "metrics": {k: [v, METRICS[k]] for k, v in metrics.items()},
        "spans": span_log,
        "notes": notes,
    }

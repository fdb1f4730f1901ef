"""Spans recorded from outside the program, and Spark's own metrics for
the jobs each span ran.

A span is opened around each call the benchmark makes into a public
function of the program, either directly or by wrapping the module
attribute the program itself looks up (:meth:`Tracer.wrap`). While a
span is open, every Spark job the driver thread starts carries the job
group ``<span name>#<span id>``, so once the job has finished the
benchmark can read that call's stage metrics from Spark's status store
and the Python-worker traffic from the SQL status store. The listener
bus that fills both stores is asynchronous, so :meth:`Tracer.collect`
drains it first.

Spans are kept in memory and written out by the caller when the run
ends. A span's self time is its duration minus the part of it its
child spans cover.
"""

from __future__ import annotations

import contextlib
import re
import time
from typing import Any, Callable

STAGE_FIELDS = {
    "run_s": ("executorRunTime", 1e-3),
    "cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "input_bytes": ("inputBytes", 1),
    "input_records": ("inputRecords", 1),
    "output_bytes": ("outputBytes", 1),
    "shuffle_bytes": ("shuffleWriteBytes", 1),
    "shuffle_records": ("shuffleWriteRecords", 1),
    "spill_bytes": ("memoryBytesSpilled", 1),
    "disk_spill_bytes": ("diskBytesSpilled", 1),
}
# SQL metrics of ArrowEvalPython / BatchEvalPython nodes.
PYTHON_METRICS = {
    "data sent to Python workers": "python_bytes_sent",
    "data returned from Python workers": "python_bytes_returned",
}
PYTHON_TIME_METRIC = "time to run Python workers"
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(text: str) -> float:
    """The total of a formatted SQL metric value, e.g. ``"1.5 MiB"`` or
    ``"total (min, med, max ...)\\n12.0 KiB (1.0 KiB, ...)"``."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*(-?[\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict[str, Any]] = []
        self.extra: dict[str, Any] = {}
        self._stack: list[int] = []
        self._pending: list[tuple[str, Any]] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "group": f"{name}#{self.run_id}.{sid}",
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(rec["group"], name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self.spans[self._stack[-1]]["group"], "")
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def traced_call(self, fn: Callable, name, lazy: bool = False) -> Callable:
        """``fn`` recording a span per call. ``name`` is a string or a
        function of the call's (args, kwargs). With ``lazy``, the
        returned DataFrame is kept for :meth:`force_pending`."""

        def traced(*args, **kwargs):
            span_name = name(args, kwargs) if callable(name) else name
            with self.span(span_name):
                out = fn(*args, **kwargs)
            if lazy:
                self._pending.append((span_name, out))
            return out

        return traced

    def wrap(self, module, attr: str, name, lazy: bool = False) -> Callable[[], None]:
        """Replace ``module.attr`` by its :meth:`traced_call` twin and
        return the function that restores the original."""
        original = getattr(module, attr)
        setattr(module, attr, self.traced_call(original, name, lazy))
        return lambda: setattr(module, attr, original)

    def force_pending(self) -> None:
        """Run each frame a lazy layer returned to the ``noop`` sink, in
        a span ``<layer>.force``, so the layer's work shows under its
        own name."""
        pending, self._pending = self._pending, []
        for name, df in pending:
            with self.span(name + ".force"):
                df.write.format("noop").mode("overwrite").save()

    # -- reading Spark's status stores ------------------------------------

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def collect(self) -> None:
        """Attach Spark's metrics to every closed span: its own jobs
        (``jobs``), and the stage and SQL metrics of those jobs."""
        self._drain()
        jvm = self.sc._jvm
        conv = jvm.scala.jdk.javaapi.CollectionConverters
        store = self.sc._jsc.sc().statusStore()
        tracker = self.sc.statusTracker()
        job_span: dict[int, dict] = {}
        for rec in self.spans:
            rec["jobs"] = sorted(tracker.getJobIdsForGroup(rec["group"]))
            rec["stage"] = {k: 0.0 for k in STAGE_FIELDS}
            rec["sql"] = {v: 0.0 for v in PYTHON_METRICS.values()}
            rec["sql"]["python_s"] = 0.0
            rec["sql"]["arrow_passes"] = 0
            seen: set[int] = set()
            for jid in rec["jobs"]:
                job_span[jid] = rec
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    if sid in seen:
                        continue
                    seen.add(sid)
                    try:
                        data = store.lastStageAttempt(sid)
                    except Exception:  # stage never submitted (skipped)
                        continue
                    for key, (field, scale) in STAGE_FIELDS.items():
                        rec["stage"][key] += getattr(data, field)() * scale
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        for ex in conv.asJava(sql_store.executionsList()):
            jobs = [int(j) for j in conv.asJava(ex.jobs()).keySet()]
            if not any(j in job_span for j in jobs):
                continue
            # An execution's metrics go to the span of its first job.
            rec = job_span[min(j for j in jobs if j in job_span)]
            values = conv.asJava(sql_store.executionMetrics(ex.executionId()))
            # Adaptive re-planning lists a node's metrics again; count
            # each accumulator once.
            seen_acc: set[int] = set()
            for metric in conv.asJava(ex.metrics()):
                name = metric.name()
                text = values.get(metric.accumulatorId())
                if text is None or metric.accumulatorId() in seen_acc:
                    continue
                seen_acc.add(metric.accumulatorId())
                if name in PYTHON_METRICS:
                    rec["sql"][PYTHON_METRICS[name]] += parse_metric(text)
                    if name == "data sent to Python workers":
                        rec["sql"]["arrow_passes"] += 1
                elif name == PYTHON_TIME_METRIC:
                    rec["sql"]["python_s"] += parse_metric(text)

    # -- derived figures ----------------------------------------------------

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == rec["id"]]

    def duration(self, rec: dict) -> float:
        return rec["end"] - rec["start"]

    def self_time(self, rec: dict) -> float:
        """Duration minus the union of the child spans' intervals."""
        covered, last = 0.0, rec["start"]
        for c in sorted(self.children(rec), key=lambda s: s["start"]):
            lo, hi = max(c["start"], last), min(c["end"], rec["end"])
            if hi > lo:
                covered += hi - lo
                last = hi
        return self.duration(rec) - covered

    def inclusive(self, rec: dict, section: str, key: str) -> float:
        return rec[section][key] + sum(
            self.inclusive(c, section, key) for c in self.children(rec)
        )

    def has_ancestor(self, rec: dict, name: str) -> bool:
        while rec["parent"] is not None:
            rec = self.spans[rec["parent"]]
            if rec["name"] == name:
                return True
        return False

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def export(self) -> list[dict]:
        return [
            {k: v for k, v in s.items() if k in ("id", "name", "parent", "run_id", "start", "end", "jobs", "stage", "sql")}
            for s in self.spans
        ]

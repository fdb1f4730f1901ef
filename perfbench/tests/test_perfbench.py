"""Tests of the benchmark itself: inputs, oracles, checks, metric names
and the shape of its output. Run with ``python3 -m pytest perfbench/tests``.
No test here starts a Spark session."""

from __future__ import annotations

import json
import os
import re
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import inputs  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


@pytest.fixture(scope="module")
def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize(
    "generate,size",
    [(inputs.generate_listings, 2_000), (inputs.generate_corpus, 300),
     (inputs.generate_embeddings, 300)],
)
def test_seed_determines_digest(tmp_path, generate, size):
    _, a = generate(str(tmp_path / "a"), 7, size)
    _, b = generate(str(tmp_path / "b"), 7, size)
    _, c = generate(str(tmp_path / "a"), 8, size)
    assert a["digest"] == b["digest"]
    assert a["digest"] != c["digest"]


def test_cached_input_is_reused(tmp_path):
    d1, m1 = inputs.generate_corpus(str(tmp_path), 3, 200)
    os.utime(os.path.join(d1, "meta.json"), (0, 0))
    d2, m2 = inputs.generate_corpus(str(tmp_path), 3, 200)
    assert (d1, m1) == (d2, m2)
    assert os.stat(os.path.join(d2, "meta.json")).st_mtime == 0


def test_listings_csv_shape(tmp_path):
    d, meta = inputs.generate_listings(str(tmp_path), 1, 3_000)
    with open(os.path.join(d, "listings.csv")) as f:
        header = f.readline().strip().replace('"', "").split(",")
        body = f.read()
    assert header == [x["name"] for x in inputs.NYC_FIELDS]
    assert '""' in body  # embedded, escaped quotes
    assert sum(int(v) for v in meta["sums"].values()) > 0
    assert len(meta["sums"]) <= inputs.N_NEIGHBOURHOODS


def test_metric_names(bench):
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
    assert len(names) == len(set(names))
    for name in names + [w["name"] for w in bench["workloads"]]:
        assert NAME.fullmatch(name), name
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.METRICS
    setup = [m for m in bench["end_to_end"] if m["name"] == "setup_s"][0]
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_end_to_end_keys(bench):
    main = {"jobs": [
        {"phase": "cold", "wall_s": 9.0, "cpu_s": 20.0},
        {"phase": "warmup", "wall_s": 4.0, "cpu_s": 9.0},
        {"phase": "warm", "wall_s": 3.0, "cpu_s": 8.0},
        {"phase": "warm", "wall_s": 3.5, "cpu_s": 8.5},
    ]}
    got = run.end_to_end(main, [6.0, 7.0, 5.0], {"java": 2 << 30, "python3": 1 << 30})
    assert {k: u for k, (_, u) in got.items()} == {
        m["name"]: m["unit"] for m in bench["end_to_end"]
    }
    assert got["setup_s"][0] == 6.0
    assert got["job_s"][0] == 3.25
    assert got["first_job_s"][0] == 9.0
    assert got["peak_rss_mb"][0] == 3072


class _FakeTracer:
    spans: list = []

    def find(self, name):
        return []

    def export(self):
        return []


def test_traced_keys(monkeypatch):
    """Every workload's traced run reports exactly the per-layer set."""

    class Args:
        min_jobs, seconds = 2, 0.0

    def job(name, run=None):
        return {"ok": True, "wall_s": 1.0, "result": None}

    def record(phase, rec):
        return rec

    def fake_traced_job(spark, name, job, record, i):
        return job(name), _FakeTracer()

    monkeypatch.setattr(layers, "_traced_job", fake_traced_job)
    key_sets = []
    for name, (make, metrics_fn, root) in layers.TRACED.items():
        monkeypatch.setitem(layers.TRACED, name, (make, lambda tr, res: {}, root))
        out = layers.traced_phase(None, workloads.WORKLOADS[name], Args, job, record, {})
        key_sets.append(set(out["metrics"]))
        assert all(unit == layers.METRICS[k] for k, (_, unit) in out["metrics"].items())
    assert all(keys == set(layers.METRICS) for keys in key_sets)


def test_etl_check_rejects_perturbed_result():
    expected = {"rows": 10, "sums": {"A": "3", "B": "7"}}
    assert workloads.etl_check({"rows": 10, "sums": {"A": "3", "B": "7"}}, expected) == []
    assert workloads.etl_check({"rows": 10, "sums": {"A": "3", "B": "8"}}, expected)
    assert workloads.etl_check({"rows": 10, "sums": {"A": "3", "B": 7}}, expected)
    assert workloads.etl_check({"rows": 9, "sums": {"A": "3", "B": "7"}}, expected)
    assert workloads.etl_check({"rows": 10, "sums": {"A": "3"}}, expected)


def test_rows_check_rejects_perturbed_result():
    expected = [["cid", "n"], [0, 5], [1, 7]]
    assert workloads.rows_check([["cid", "n"], [0, 5], [1, 7]], expected) == []
    assert workloads.rows_check([["cid", "n"], [0, 5], [1, 8]], expected)
    assert workloads.rows_check([["cid", "n"], [0, 5]], expected)
    assert workloads.rows_check([["cid", "m"], [0, 5], [1, 7]], expected)


def test_semantic_oracle_matches_sql(tmp_path):
    """The numpy re-derivation agrees with the registry's DuckDB twin."""
    import duckdb

    from cloud_dataflow_batch_processing_spark.extensions.similarity import (
        semantic_dedup_sql,
    )

    d, meta = inputs.generate_embeddings(str(tmp_path), 5, 700)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'")
    sql = semantic_dedup_sql(
        k=workloads.SEMANTIC_K, iters=workloads.SEMANTIC_ITERS, dim=meta["dim"],
        min_cosine=workloads.SEMANTIC_MIN_COSINE,
    )
    want = workloads._rows(con.execute(workloads.materialize_ctes(sql)).df())
    got = workloads.semantic_oracle(d, meta)
    assert got == want
    assert sum(r[1] for r in got[1:]) > 0  # the verify finds pairs


def test_materialized_ctes_keep_results(tmp_path):
    import duckdb

    from cloud_dataflow_batch_processing_spark.queries import oracle_sql

    d, _ = inputs.generate_corpus(str(tmp_path), 2, 400)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet'")
    sql = oracle_sql()["streaming_lsh_dedup"]
    assert "MATERIALIZED" in workloads.materialize_ctes(sql)
    plain = workloads._rows(con.execute(sql).df())
    assert workloads._rows(con.execute(workloads.materialize_ctes(sql)).df()) == plain


@pytest.mark.parametrize(
    "text,value",
    [("1.5 MiB", 1.5 * 2**20), ("total (min, med, max)\n12.0 KiB (1.0 KiB, 2.0 KiB)", 12288.0),
     ("345 ms", 0.345), ("1.2 s", 1.2), ("1,024", 1024.0)],
)
def test_parse_metric(text, value):
    assert spans.parse_metric(text) == pytest.approx(value)


def test_self_time():
    tr = spans.Tracer.__new__(spans.Tracer)
    tr.spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "parent": 1, "start": 1.0, "end": 2.0},
    ]
    assert tr.self_time(tr.spans[0]) == pytest.approx(6.0)
    assert tr.self_time(tr.spans[1]) == pytest.approx(2.0)


_ORPHANS = r"""
import json, os, subprocess, sys, time
sys.path.insert(0, sys.argv[1])
import proctree
proctree.become_subreaper()
# The shell exits at once and leaves its background sleep an orphan.
subprocess.run(["sh", "-c", sys.argv[2] + " &"], check=True)
orphans = proctree.tree(os.getpid())[1:]
t0 = time.monotonic()
killed = proctree.reap_descendants(float(sys.argv[3]))
print(json.dumps({"orphans": len(orphans), "killed": len(killed),
                  "left": proctree.tree(os.getpid())[1:],
                  "waited_s": time.monotonic() - t0}))
"""


@pytest.mark.parametrize(
    "command,grace,killed", [("sleep 60", 0.2, 1), ("sleep 0.3", 10.0, 0)]
)
def test_orphans_are_waited_for_or_killed(command, grace, killed):
    import subprocess

    out = subprocess.run(
        [sys.executable, "-c", _ORPHANS, HERE, command, str(grace)],
        capture_output=True, text=True, timeout=30, check=True,
    )
    got = json.loads(out.stdout)
    assert got["orphans"] == 1
    assert got["killed"] == killed
    assert got["left"] == []
    assert got["waited_s"] < 5

"""Degenerate-input sweep: EVERY registered query runs against an
empty, schema-identical copy of the testdata tables and must either

(a) hash-match its DuckDB oracle on that empty corpus — the common
    case: empty aggregates, empty joins, NULL extrema must agree
    cross-engine; this flushes out divide-by-zero and None-subscript
    crashes that 100 TB pipelines hit on empty partitions / filtered-
    to-nothing date slices; or
(b) raise the DOCUMENTED ValueError for operators whose contract
    requires data (ANN probes need a query vector; k-means needs at
    least one seed vector) — loud refusal, never an opaque
    NoneType/analysis error.

One pinned engine divergence: Spark's ``rollup`` on empty input emits
ZERO rows, while DuckDB (and PostgreSQL, per the SQL standard's
grand-total grouping set) emit one all-NULL global row —
``grouping_sets_rollup`` is therefore asserted on the Spark behavior
rather than oracle-compared.

Round-7 fixes this sweep drove: approx_distinct 0/0 bound guard,
pagerank empty-graph early return, avro/tfrecord empty-dataset
roundtrips (writers now commit a readable zero-record file),
ValueError contracts for ANN probe and k-means seeding.
"""

from __future__ import annotations

import glob
import os
import shutil

import pytest

from cloud_dataflow_batch_processing_spark.queries import REGISTRY, queries
from tests.oracle import run_parity

queries()

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]

# Operators whose contract REQUIRES non-empty input: the sweep asserts
# the documented refusal instead of oracle parity.
CONTRACT_ERRORS = {
    "ann_brute_topk": "probe",
    "ann_ivf_topk": "probe",
    "semantic_kmeans_assign": "k-means",
    "semantic_dedup_prune": "k-means",
}

ENGINE_DIVERGENCE = {"grouping_sets_rollup"}  # see module docstring


@pytest.fixture(scope="session")
def empty_sf_dir(tmp_path_factory, spark, sf_dir):
    out = str(tmp_path_factory.mktemp("sf_empty"))
    stage = str(tmp_path_factory.mktemp("sf_empty_stage"))
    for t in TABLES:
        df = spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(0)
        df.coalesce(1).write.mode("overwrite").parquet(f"{stage}/{t}")
        part = glob.glob(f"{stage}/{t}/part-*.parquet")[0]
        shutil.copy(part, os.path.join(out, f"{t}.parquet"))
    return out


@pytest.mark.slowsweep
def test_registry_empty_input_sweep(spark, empty_sf_dir):
    problems: list[str] = []
    for name in sorted(REGISTRY):
        if name in CONTRACT_ERRORS:
            with pytest.raises(ValueError, match=CONTRACT_ERRORS[name]):
                REGISTRY[name].fn(spark, empty_sf_dir).collect()
            continue
        if name in ENGINE_DIVERGENCE:
            continue
        try:
            fails = run_parity(spark, empty_sf_dir, [name])
        except Exception as exc:  # crash = worse than a mismatch
            problems.append(f"{name}: {type(exc).__name__}: {exc}")
            continue
        for msgs in fails.values():
            problems.append(f"{name}: {msgs}")
    assert not problems, "\n".join(problems)


def test_rollup_empty_divergence_pinned(spark, empty_sf_dir):
    """Spark rollup on empty input: zero rows (no grand-total row).
    Pinned so an engine upgrade that aligns with the SQL standard is
    noticed and the exemption above retired."""
    df = REGISTRY["grouping_sets_rollup"].fn(spark, empty_sf_dir)
    assert df.count() == 0

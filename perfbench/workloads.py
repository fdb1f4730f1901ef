"""The benchmark's workloads: inputs, the job, its oracle and its check.

Each workload names the program call it measures, the size of the
generated input, how the right answer is derived independently of the
Spark job (computed once per seed and size, and cached next to the
input), and how a job's result is compared with it. A job's result is
plain Python data (rows as sorted lists), so the check needs no Spark.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import inputs

SEMANTIC_K = 256
SEMANTIC_ITERS = 2
SEMANTIC_MIN_COSINE = 0.9


@dataclass(frozen=True)
class Workload:
    name: str
    size: int
    generate: Callable[[str, int, int], tuple[str, dict]]
    oracle: Callable[[str, dict], Any]
    run: Callable[..., Any]
    why: str
    # Jobs run after the cold one before warm timing starts (README.md).
    warmup: int
    # Workloads whose layers this workload's traced run also traces.
    traced_extras: tuple[str, ...] = ()


def _rows(pdf) -> list[list]:
    """A pandas frame as sorted rows of plain Python values, columns in
    name order, so both engines' results compare by equality."""
    cols = sorted(pdf.columns)
    out = []
    for rec in pdf[cols].itertuples(index=False):
        out.append([None if v is None else (v.item() if hasattr(v, "item") else v) for v in rec])
    return [cols] + sorted(out, key=repr)


# --- etl_listings ---------------------------------------------------------


def etl_oracle(input_dir: str, meta: dict) -> dict:
    """The generator's own per-neighbourhood sums and row count."""
    return {"sums": meta["sums"], "rows": meta["rows"]}


def etl_run(spark, input_dir: str, work_dir: str) -> dict:
    """``workload.run_reference_pipeline`` on the generated CSV into a
    local warehouse, then read both sinks back."""
    from cloud_dataflow_batch_processing_spark import workload

    warehouse = os.path.join(work_dir, "warehouse")
    workload.run_reference_pipeline(
        spark,
        os.path.join(input_dir, "listings.csv"),
        "bench.listings",
        schema_fields=inputs.NYC_FIELDS,
        warehouse=warehouse,
    )
    out = spark.read.parquet(os.path.join(warehouse, "bench", "listings_transform"))
    sums = {r["neighbourhood"]: r["count_listings"] for r in out.collect()}
    rows = spark.read.parquet(os.path.join(warehouse, "bench", "listings_raw")).count()
    return {"sums": sums, "rows": rows}


def etl_check(result: dict, expected: dict) -> list[str]:
    errors = []
    if result["rows"] != expected["rows"]:
        errors.append(f"_raw has {result['rows']} rows, expected {expected['rows']}")
    got, want = result["sums"], expected["sums"]
    if set(got) != set(want):
        errors.append(f"neighbourhoods differ: {sorted(set(got) ^ set(want))[:5]}")
    bad = [k for k in want if k in got and got[k] != want[k]]
    if bad:
        errors.append(f"{len(bad)} sums differ, e.g. {bad[0]}: {got[bad[0]]!r} != {want[bad[0]]!r}")
    return errors


# --- registry queries with a DuckDB oracle ----------------------------------


def materialize_ctes(sql: str) -> str:
    """The same query with every CTE marked ``MATERIALIZED``. DuckDB
    otherwise inlines a CTE into each of its consumers, so the
    registry's multi-stage oracles recompute their early stages many
    times over; materializing changes no result and runs the
    ``corpus_build_full`` oracle 20x faster on 1,500 documents."""
    return re.sub(r"\b(\w+)\s+AS\s+\(\s*(SELECT|WITH)\b", r"\1 AS MATERIALIZED (\2", sql)


def _registry_oracle(query: str) -> Callable[[str, dict], list]:
    """The registry's DuckDB oracle SQL for ``query``, over the
    generated parquet."""

    def oracle(input_dir: str, meta: dict) -> list:
        import duckdb

        from cloud_dataflow_batch_processing_spark.queries import oracle_sql

        con = duckdb.connect(config={"temp_directory": os.path.join(input_dir, "duckdb.tmp")})
        try:
            path = os.path.join(input_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            return _rows(con.execute(materialize_ctes(oracle_sql()[query])).df())
        finally:
            con.close()

    return oracle


def corpus_run(spark, input_dir: str, work_dir: str, build=None, collect=None) -> list:
    """The registry's ``corpus_build_full``, unmodified. The traced run
    passes ``build`` and ``collect`` to time the two apart."""
    from cloud_dataflow_batch_processing_spark import queries_dedup

    df = (build or queries_dedup.corpus_build_full)(spark, input_dir)
    return _rows(collect(df) if collect else df.toPandas())


def stream_run(spark, input_dir: str, work_dir: str) -> list:
    """The registry's ``streaming_lsh_dedup``, unmodified."""
    from cloud_dataflow_batch_processing_spark import queries_streaming

    return _rows(queries_streaming.streaming_lsh_dedup(spark, input_dir).toPandas())


def _fold_sqdist(x, c):
    """Squared distances of every row of ``x`` to every row of ``c``,
    summed one dimension at a time from 0.0 (the program's and the SQL
    oracle's operation order)."""
    import numpy as np

    acc = np.zeros((x.shape[0], c.shape[0]))
    for d in range(x.shape[1]):
        diff = x[:, d, None] - c[None, :, d]
        acc += diff * diff
    return acc


def _decimal_means(x, labels, cids):
    """Per-cluster means as the program computes them: each component
    rounded half-up to DECIMAL(27,8), summed exactly, cast to double
    and divided by the member count. ``x`` holds float32 values, so
    ``x * 1e8`` is exact in binary64 and the rounding is exact too."""
    import numpy as np

    q = (np.sign(x) * np.floor(np.abs(x) * 1e8 + 0.5)).astype(np.int64)
    out = np.empty((len(cids), x.shape[1]))
    for i, cid in enumerate(cids):
        members = labels == cid
        n = int(members.sum())
        sums = q[members].sum(axis=0)
        out[i] = [int(s) / 10**8 / n for s in sums]
    return out


def semantic_oracle(input_dir: str, meta: dict) -> list:
    """An independent numpy re-derivation of ``semantic_dedup_stats``:
    seed the k lowest ids as centroids, run the Lloyd iterations
    (nearest centroid, ties to the lower id; decimal-exact means;
    empty clusters vanish), assign once more, then within each cluster
    drop the higher id of every pair whose cosine rounds to >= 0.9.
    Agrees with ``semantic_dedup_sql`` (``perfbench/tests``)."""
    import numpy as np
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(input_dir, "embeddings.parquet"))
    ids = t.column("vec_id").to_numpy()
    flat = t.column("embedding").combine_chunks().flatten().to_numpy()
    x = flat.astype(np.float64).reshape(len(ids), meta["dim"])
    if not np.isfinite(x).all() or (np.abs(x).sum(axis=1) == 0).any():
        raise ValueError("generated embeddings must all be retrieval-valid")
    order = np.argsort(ids, kind="stable")
    ids, x = ids[order], x[order]
    cids, cent = ids[:SEMANTIC_K], x[:SEMANTIC_K]
    for _ in range(SEMANTIC_ITERS):
        labels = cids[np.argmin(_fold_sqdist(x, cent), axis=1)]
        cids = np.unique(labels)
        cent = _decimal_means(x, labels, cids)
    labels = cids[np.argmin(_fold_sqdist(x, cent), axis=1)]
    norms = np.sqrt((x * x).sum(axis=1))
    # round(cos, 6) >= 0.9, rounding half up.
    threshold = SEMANTIC_MIN_COSINE - 5e-7
    rows = []
    for cid in np.unique(labels):
        idx = np.flatnonzero(labels == cid)
        cos = (x[idx] @ x[idx].T) / np.outer(norms[idx], norms[idx])
        dup = np.triu(cos >= threshold, k=1).any(axis=0)
        n, dropped = len(idx), int(dup.sum())
        rows.append([int(cid), dropped, n - dropped, n])
    return [["cid", "n_dropped", "n_kept", "n_members"]] + sorted(rows, key=repr)


def semantic_run(spark, input_dir: str, work_dir: str) -> list:
    """``extensions.similarity.semantic_dedup_stats`` with k=256 on the
    Arrow assignment path."""
    from cloud_dataflow_batch_processing_spark.extensions import similarity

    emb = spark.read.parquet(os.path.join(input_dir, "embeddings.parquet"))
    df = similarity.semantic_dedup_stats(
        emb, k=SEMANTIC_K, iters=SEMANTIC_ITERS, min_cosine=SEMANTIC_MIN_COSINE,
        assign_method="arrow",
    )
    return _rows(df.toPandas())


def rows_check(result: list, expected: list) -> list[str]:
    if result[0] != expected[0]:
        return [f"columns {result[0]} != oracle {expected[0]}"]
    if len(result) != len(expected):
        return [f"{len(result) - 1} rows != oracle {len(expected) - 1}"]
    bad = [i for i in range(1, len(result)) if result[i] != expected[i]]
    if bad:
        return [f"{len(bad)} rows differ, e.g. {result[bad[0]]} != {expected[bad[0]]}"]
    return []


WORKLOADS: dict[str, Workload] = {
    w.name: w
    for w in (
        Workload(
            "etl_listings", 500_000, inputs.generate_listings, etl_oracle, etl_run,
            "the paper's job: CSV scan, parquet writes, one shuffle; no Python workers",
            warmup=2,
        ),
        Workload(
            "corpus_curation", 3_000, inputs.generate_corpus,
            _registry_oracle("corpus_build_full"), corpus_run,
            "Arrow UDFs, MinHash LSH, substring dedup and eager stage caches",
            warmup=1,
        ),
        Workload(
            "semantic_dedup", 1_500, inputs.generate_embeddings, semantic_oracle,
            semantic_run,
            "k-means argmin kernel, driver collects and the per-pair cosine verify",
            warmup=2,
            traced_extras=("corpus_curation", "stream_dedup"),
        ),
        Workload(
            "stream_dedup", 3_000, inputs.generate_corpus,
            _registry_oracle("streaming_lsh_dedup"), stream_run,
            "MinHash through foreachBatch micro-batches and an appended store",
            warmup=1,
        ),
    )
}

CHECKS = {"etl_listings": etl_check}


def check(name: str, result, expected) -> list[str]:
    return CHECKS.get(name, rows_check)(result, expected)


def prepare(w: Workload, cache_root: str, seed: int) -> tuple[str, dict, Any]:
    """Generate (or reuse) the input and its oracle result for ``seed``."""
    input_dir, meta = w.generate(cache_root, seed, w.size)
    oracle_path = os.path.join(input_dir, f"oracle-{w.name}.json")
    if os.path.exists(oracle_path):
        with open(oracle_path) as f:
            return input_dir, meta, json.load(f)
    expected = w.oracle(input_dir, meta)
    tmp = oracle_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(expected, f)
    os.replace(tmp, oracle_path)
    return input_dir, meta, expected


def reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path

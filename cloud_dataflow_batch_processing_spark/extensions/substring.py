"""Exact substring deduplication (Lee et al., "Deduplicating Training
Data Makes Language Models Better", ACL 2022): find every K-token span
whose content occurs more than once in the corpus, merge each
document's duplicated spans into maximal removal intervals, and emit
per-document removal stats plus the cleaned text.

The paper's single-node implementation is a suffix array over the
concatenated corpus; the distributed analog (used by production corpus
pipelines at the 100 TB scale this repo targets) is span hashing:
every overlapping K-token window is hashed, windows are grouped by
hash, and any hash seen more than once marks its positions for
removal. Interval merging then turns overlapping marked windows into
maximal spans, exactly like the paper's duplicate-range output.

Engine-neutral design: span hashes reuse the rolling-polynomial
fold mod 1e9+7 from extensions/dedup.py (the shingle hash with a
larger K), positions and interval merging are pure integer window
functions — so the whole pipeline has a DuckDB SQL twin and is
certified by the driver's hash gate, not just unit tests.

Scale posture (100 TB):
- Tokenize + span hash is per-row whole-stage codegen; the posexplode
  is the unavoidable K-per-token expansion every substring-dedup
  design pays (the suffix array pays the same K log n).
- Duplicate detection (default ``dup_marking="join"``): span counts
  aggregate with map-side partial combine (the shuffle moves
  near-distinct hashes, not span rows), only hashes with count > 1
  survive — a frame bounded by the DISTINCT duplicated-span count —
  and the spans semi-join against it (AQE broadcasts it when small,
  skew-splits when not; no unsplittable per-hash group anywhere).
  ``dup_marking="window"`` keeps the minimal-shuffle window-count
  reference form, whose per-hash window group a boilerplate mega-span
  would make an unsplittable hot task.
- Interval merge + per-doc stats shuffle on doc_id (narrow, exactly
  the partitioning the next corpus stage wants).
- No driver-side state, no collect: output scales with the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from cloud_dataflow_batch_processing_spark.extensions.dedup import (
    shingles_from_token_hashes,
    token_hashes,
    token_hashes_sql,
)
from cloud_dataflow_batch_processing_spark.functions.text import (
    HASH_MOD,
    HASH_MULT,
    tokens,
    tokens_sql,
)

SPAN_TOKENS = 8

# Canonical implementations moved to plans/inspect.py (r11 — the
# fan-out pattern now serves several Arrow-pass operators and dedup.py
# cannot import from this module without a cycle); re-exported here
# for the existing importers.
from cloud_dataflow_batch_processing_spark.plans.inspect import (  # noqa: F401
    plan_has_wide_node as _plan_has_wide_node,
)


def _dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    fast_hashing: bool = True,
    dup_marking: str = "join",
    materialize: str = "cache",
    scratch_dir: str | None = None,
    th_col: str | None = None,
) -> DataFrame:
    """(doc_id, n_tokens, pos) for every K-token span at 1-based token
    position ``pos`` whose hash occurs >1 time corpus-wide (counting
    within-document repeats, per the paper: ANY second occurrence
    marks the span).

    The token-hash stage defaults to the Arrow-batched fast twin
    (functions/text_fast.py, value-identical by the certified
    polynomial): the Python UDF node is a hard optimizer barrier, so
    the char fold is computed ONCE per row no matter how Catalyst
    collapses the projections above it. The pure-Column HOF form is
    vulnerable to CollapseProject re-embedding the fold into all k
    element_at references inside the span transform — measured 234 s
    vs 0.6 s warm at sf0.1 (the NOTES r3 quadratic-HOF trap, third
    sighting); ``fast_hashing=False`` keeps the HOF path for
    oracle-form reference only.

    ``th_col`` (r12): consume an ALREADY-COMPUTED token-hash column
    instead of re-tokenizing ``text_col`` — the identical vectorized
    span fold runs on the carried hashes (corpus_build tokenizes the
    corpus once; this stage previously re-tokenized every surviving
    document)."""
    if th_col is not None:
        from cloud_dataflow_batch_processing_spark.functions.text_fast import (
            span_hashes_from_th_fast,
        )

        staged = df.select(
            F.col(id_col).alias("doc_id"),
            span_hashes_from_th_fast(F.col(th_col), k).alias("__sp"),
        ).select(
            "doc_id",
            (F.size("__sp") + (k - 1)).alias("n_tokens"),
            "__sp",
        )
    elif fast_hashing:
        from cloud_dataflow_batch_processing_spark.functions.text_fast import (
            span_hashes_fast,
        )

        # The span-hash stage runs where the scan runs: a corpus read
        # from fewer splits than cores (one small file at bench scale)
        # would hash on one task. Fan out first — a narrow exchange of
        # raw text, and a no-op at real scale where input splits
        # already exceed the core count.
        # Hash-repartition on the id (NOT round-robin: round-robin
        # injects a sort-before-repartition for retry determinism,
        # which re-derives the projection and duplicates the UDF node
        # below the exchange — observed in the executed plan).
        # Only scan-shaped inputs need the fan-out: a frame downstream
        # of a join/aggregate/repartition is already shuffle-spread,
        # and probing .rdd.getNumPartitions() on such a frame forces
        # AQE to EXECUTE its upstream stages — measured as a full
        # duplicate run of the corpus pipeline in corpus_build_full.
        # Walk the analyzed plan's node CLASS names, not the plan
        # string (ADVICE r4): a column or relation named e.g.
        # "window_start" must not false-positive and silently skip the
        # fan-out (single-task hashing on small-split inputs).
        scan_shaped = not _plan_has_wide_node(df)
        sc = df.sparkSession.sparkContext
        if scan_shaped and df.rdd.getNumPartitions() < sc.defaultParallelism:
            df = df.repartition(sc.defaultParallelism, F.col(id_col))
        # No size(__sp) > 0 filter here: posexplode drops empty lists
        # anyway, and a filter referencing the UDF column gets pushed
        # below the repartition, DUPLICATING the ArrowEvalPython node
        # (the UDF then runs twice per row — observed in the executed
        # plan).
        staged = df.select(
            F.col(id_col).alias("doc_id"),
            span_hashes_fast(F.col(text_col), k).alias("__sp"),
        ).select(
            "doc_id",
            # n_tokens of a doc with >= k tokens is |spans| + k - 1;
            # shorter docs return an empty span list and are exempt,
            # matching the HOF path's size(__th) >= k filter.
            (F.size("__sp") + (k - 1)).alias("n_tokens"),
            "__sp",
        )
    else:
        staged = (
            df.select(F.col(id_col).alias("doc_id"), token_hashes(text_col).alias("__th"))
            .filter(F.size("__th") >= k)
            .select(
                "doc_id",
                F.size("__th").alias("n_tokens"),
                shingles_from_token_hashes(F.col("__th"), k).alias("__sp"),
            )
        )
    spans = staged.select(
        "doc_id", "n_tokens", F.posexplode("__sp").alias("pos0", "h")
    ).select("doc_id", "n_tokens", (F.col("pos0") + 1).alias("pos"), "h")
    if dup_marking == "window":
        # One shuffle of the span rows on h — but the count window
        # buffers each hash's rows in ONE task: a boilerplate span
        # repeated 10^7 times (license headers) is an unsplittable hot
        # group. Kept as the minimal-shuffle reference form.
        counted = spans.withColumn(
            "__n", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        return counted.filter(F.col("__n") > 1).select("doc_id", "n_tokens", "pos")
    if dup_marking != "join":
        raise ValueError(f"dup_marking must be join|window, got {dup_marking!r}")
    # Production default: aggregate counts (map-side partials collapse
    # each partition's repeats before the wire, so the count shuffle
    # moves near-distinct hashes, not span rows), keep only dup hashes
    # — a frame bounded by the DISTINCT duplicated-span count — and
    # semi-join the spans against it. AQE broadcasts the dup-hash side
    # when it fits and skew-splits the join when it doesn't; either
    # way no unsplittable per-hash group exists anywhere. Past the
    # broadcast transition (dup-hash set > the 64 MB threshold, ~5M
    # docs on this corpus) prefer materialize='bucketed': the
    # bucket-local join cuts 5M cold 46%/60% vs cache/checkpoint and
    # returns the 500k->5M exponent to ~1.0 (NOTES r9 A/B).
    # Materialize the span frame once: the count side and the probe
    # side would otherwise each recompute the whole tokenize+hash UDF
    # chain (same posture as the minhash pipeline's materialize knob:
    # cache at iterative/bench scale, checkpoint parquet for the
    # corpus-scale fault-isolation posture).
    if materialize == "checkpoint":
        if not scratch_dir:
            raise ValueError("materialize='checkpoint' needs scratch_dir")
        import os
        import uuid

        from cloud_dataflow_batch_processing_spark.caching import (
            register_managed_scratch,
        )

        # Engine-owned <uuid> subdir, registered for deletion at the
        # caller's release_managed_caches() boundary — same lifecycle
        # as the minhash band checkpoint (VERDICT r5 #4: span-store
        # scratch must not accumulate across a long session). The
        # caller's scratch_dir itself is never deleted.
        path = register_managed_scratch(
            df.sparkSession, os.path.join(scratch_dir, uuid.uuid4().hex[:12])
        )
        spans.write.mode("overwrite").parquet(path)
        spans = df.sparkSession.read.parquet(path)
    elif materialize == "bucketed":
        # VERDICT r8 #6 lever for the d2 broadcast→SMJ regime
        # transition: persist the span store BUCKETED (and sorted) by
        # the span hash. The dup-count groupBy and the dup semi-join
        # both consume the bucketed scan's hash distribution, so once
        # the store is written, NEITHER side of the join exchanges —
        # the one remaining span-volume shuffle is the repartition
        # folded into the write (one file per bucket, so the reader
        # also recognizes per-bucket sort order and skips the SMJ
        # sorts). Net vs 'checkpoint' at the 5M point: the join-side
        # exchange+sort of the full span frame is traded for a
        # write-side repartition that pipelines with the parquet
        # encode. Measured A/B: scripts/scale_curve.py --points 500k,5m
        # --ops substring --modes cache,checkpoint,bucketed; adoption
        # decision recorded in NOTES.md.
        if not scratch_dir:
            raise ValueError("materialize='bucketed' needs scratch_dir")
        import os
        import uuid

        from cloud_dataflow_batch_processing_spark.caching import (
            register_managed_scratch,
            register_managed_table,
        )

        spark = df.sparkSession
        tag = uuid.uuid4().hex[:12]
        path = register_managed_scratch(spark, os.path.join(scratch_dir, tag))
        name = register_managed_table(spark, f"spans_bkt_{tag}")
        nb = int(spark.conf.get("spark.sql.shuffle.partitions"))
        (
            spans.repartition(nb, "h")
            .write.mode("overwrite")
            .format("parquet")
            .bucketBy(nb, "h")
            .sortBy("h")
            .option("path", path)
            .saveAsTable(name)
        )
        spans = spark.table(name)
    else:
        from cloud_dataflow_batch_processing_spark.caching import managed_cache

        spans = managed_cache(spans)
    dup_hashes = (
        spans.groupBy("h").agg(F.count(F.lit(1)).alias("__n")).filter(F.col("__n") > 1)
    ).select("h")
    return spans.join(dup_hashes, "h", "left_semi").select("doc_id", "n_tokens", "pos")


def remove_intervals(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_TOKENS,
    fast_hashing: bool = True,
    dup_marking: str = "join",
    materialize: str = "cache",
    scratch_dir: str | None = None,
    th_col: str | None = None,
) -> DataFrame:
    """Maximal removal intervals per document: merge every duplicated
    K-token span [pos, pos+k) with its overlapping-or-touching
    neighbours (lag-based gaps-and-islands: same-length intervals
    sorted by pos merge iff the gap <= k). Returns
    (doc_id, start_pos, end_pos) with token positions 1-based and
    end exclusive."""
    dup = _dup_spans(
        df, id_col, text_col, k, fast_hashing, dup_marking, materialize,
        scratch_dir, th_col,
    )
    return _merge_marked_spans(dup, k)


def _merge_marked_spans(marked: DataFrame, k: int) -> DataFrame:
    """Merge marked K-token spans (doc_id, pos, ...) into maximal
    removal intervals via lag-based gaps-and-islands: same-length
    intervals sorted by pos merge iff the gap <= k. Returns
    (doc_id, start_pos, end_pos), positions 1-based, end exclusive."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = marked.withColumn(
        "__new",
        F.when(F.col("pos") - F.coalesce(F.lag("pos").over(w), F.lit(-k)) > k, 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("start_pos"), (F.max("pos") + k).alias("end_pos")
    ).select("doc_id", "start_pos", "end_pos")


def substring_dup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_TOKENS,
    fast_hashing: bool = True,
    dup_marking: str = "join",
    materialize: str = "cache",
    scratch_dir: str | None = None,
    th_col: str | None = None,
) -> DataFrame:
    """Per-document substring-dedup report over ALL documents:
    (doc_id, n_tokens, n_remove_intervals, removed_tokens,
    kept_tokens, removed_frac). Documents with no duplicated span (or
    fewer than k tokens) report zeros."""
    iv = remove_intervals(
        df, id_col, text_col, k, fast_hashing, dup_marking, materialize,
        scratch_dir, th_col,
    )
    per_doc = iv.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_remove_intervals"),
        F.sum(F.col("end_pos") - F.col("start_pos")).alias("removed_tokens"),
    )
    if th_col is not None:
        # |th| == |tokens(text)| by the fast-twin contract (including
        # NULL text -> NULL on both sides), so the report's n_tokens
        # column needs no second pass over the text.
        base = df.select(
            F.col(id_col).alias("doc_id"), F.size(F.col(th_col)).alias("n_tokens")
        )
    else:
        base = df.select(
            F.col(id_col).alias("doc_id"), F.size(tokens(text_col)).alias("n_tokens")
        )
    out = base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_remove_intervals", F.lit(0)).alias("n_remove_intervals"),
        F.coalesce("removed_tokens", F.lit(0)).alias("removed_tokens"),
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "n_remove_intervals",
        "removed_tokens",
        (F.col("n_tokens") - F.col("removed_tokens")).alias("kept_tokens"),
        # n_tokens = 0 (empty / whitespace-only doc) leaves the fraction
        # undefined: NULL, matching the oracle's division-by-zero NULL
        # (adversarial sweep) — never an ANSI DIVIDE_BY_ZERO.
        F.round(
            F.col("removed_tokens") / F.nullif(F.col("n_tokens"), F.lit(0)), 4
        ).alias("removed_frac"),
    )


def substring_dedup_text(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_TOKENS,
    fast_hashing: bool = True,
    dup_marking: str = "join",
) -> DataFrame:
    """Cleaned corpus: each document's tokens with every removal
    interval excised, rejoined with single spaces (the paper's output
    shape). Implementation: collect the (few) intervals per doc into
    an array, then a per-row filter over token positions — the
    interval list is per-document and bounded by n_tokens/k, so the
    array column stays small even for pathological documents."""
    iv = remove_intervals(df, id_col, text_col, k, fast_hashing, dup_marking)
    iv_per_doc = iv.groupBy("doc_id").agg(
        F.sort_array(F.collect_list(F.struct("start_pos", "end_pos"))).alias("__iv")
    )
    base = df.select(F.col(id_col).alias("doc_id"), tokens(text_col).alias("__t"))
    joined = base.join(iv_per_doc, "doc_id", "left").withColumn(
        "__iv", F.coalesce("__iv", F.array())
    )
    kept = F.filter(
        F.zip_with(
            F.col("__t"),
            F.sequence(F.lit(1), F.size("__t")),
            lambda t, p: F.struct(t.alias("t"), p.alias("p")),
        ),
        lambda s: ~F.exists(
            F.col("__iv"),
            lambda i: (s["p"] >= i["start_pos"]) & (s["p"] < i["end_pos"]),
        ),
    )
    return joined.select(
        "doc_id",
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# DuckDB SQL twins
# ---------------------------------------------------------------------------


def span_hashes_sql(k: int) -> str:
    """Positional span hashes from a token-hash list column ``th`` —
    the same left fold as shingles_from_token_hashes at width k."""
    acc = "th[i]"
    for off in range(1, k):
        acc = f"(({acc}) * {HASH_MULT} + th[i + {off}]) % {HASH_MOD}"
    return (
        f"list_transform(range(1, len(th) - {k - 1} + 1), i -> {acc})"
    )


def _intervals_cte(source: str, k: int) -> str:
    return f"""
    th_t AS (
      SELECT doc_id, {token_hashes_sql('text')} AS th FROM {source}
    ),
    spans AS (
      SELECT doc_id, len(th) AS n_tokens, pos0 + 1 AS pos, h
      FROM (
        SELECT doc_id, th, unnest({span_hashes_sql(k)}) AS h,
               unnest(range(0, len(th) - {k - 1})) AS pos0
        FROM th_t WHERE len(th) >= {k}
      )
    ),
    dup AS (
      SELECT doc_id, n_tokens, pos FROM (
        SELECT doc_id, n_tokens, pos, COUNT(*) OVER (PARTITION BY h) AS n
        FROM spans
      ) WHERE n > 1
    ),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos - COALESCE(
                 LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos), -{k}) > {k}
             THEN 1 ELSE 0 END AS new_island
      FROM dup
    ),
    islands AS (
      SELECT doc_id, pos,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ),
    iv AS (
      SELECT doc_id, MIN(pos) AS start_pos, MAX(pos) + {k} AS end_pos
      FROM islands GROUP BY doc_id, island
    )"""


def substring_dup_stats_sql(source: str = "documents", k: int = SPAN_TOKENS) -> str:
    return f"""
    WITH {_intervals_cte(source, k)},
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_remove_intervals,
             SUM(end_pos - start_pos) AS removed_tokens
      FROM iv GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id, len({tokens_sql('text')}) AS n_tokens FROM {source}
    )
    SELECT b.doc_id,
           b.n_tokens,
           CAST(COALESCE(p.n_remove_intervals, 0) AS BIGINT) AS n_remove_intervals,
           CAST(COALESCE(p.removed_tokens, 0) AS BIGINT) AS removed_tokens,
           CAST(b.n_tokens - COALESCE(p.removed_tokens, 0) AS BIGINT) AS kept_tokens,
           ROUND(CAST(COALESCE(p.removed_tokens, 0) AS DOUBLE) / b.n_tokens, 4)
             AS removed_frac
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    """


def substring_dedup_text_sql(source: str = "documents", k: int = SPAN_TOKENS) -> str:
    return f"""
    WITH {_intervals_cte(source, k)},
    iv_doc AS (
      SELECT doc_id,
             list_sort(list({{'start_pos': start_pos, 'end_pos': end_pos}})) AS ivs
      FROM iv GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id, {tokens_sql('text')} AS t FROM {source}
    )
    SELECT b.doc_id,
           -- NULL text stays NULL (matches the engine); the COALESCE
           -- maps DuckDB's NULL for array_to_string([]) back to '' for
           -- fully-removed and empty docs, which is what the engine's
           -- array_join emits
           CASE WHEN b.t IS NULL THEN NULL
                ELSE COALESCE(array_to_string(
             [b.t[p] FOR p IN range(1, len(b.t) + 1)
              IF len(list_filter(COALESCE(d.ivs, []),
                    i -> p >= i.start_pos AND p < i.end_pos)) = 0],
             ' '), '') END AS clean_text
    FROM base b LEFT JOIN iv_doc d USING (doc_id)
    """


# ---------------------------------------------------------------------------
# Incremental substring dedup: new batch vs a persisted span-hash store
# ---------------------------------------------------------------------------


def span_store(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_TOKENS,
    fast_hashing: bool = True,
) -> DataFrame:
    """The persistable state of incremental substring dedup: (h, cnt)
    span-hash counts of a corpus — one bounded hash-agg shuffle, the
    store is DISTINCT-span-sized. Mergeable by counter sum
    (``span_store_merge``), so daily batches fold in like the CMS/HLL
    state tables."""
    staged = _span_frame(df, id_col, text_col, k, fast_hashing)
    return staged.groupBy("h").agg(F.count(F.lit(1)).alias("cnt"))


def _span_frame(
    df: DataFrame, id_col: str, text_col: str, k: int, fast_hashing: bool
) -> DataFrame:
    """(doc_id, n_tokens, pos, h) positioned spans — the shared stage
    of the batch and incremental pipelines."""
    if fast_hashing:
        from cloud_dataflow_batch_processing_spark.functions.text_fast import (
            span_hashes_fast,
        )

        staged = df.select(
            F.col(id_col).alias("doc_id"),
            span_hashes_fast(F.col(text_col), k).alias("__sp"),
        ).select(
            "doc_id", (F.size("__sp") + (k - 1)).alias("n_tokens"), "__sp"
        )
    else:
        staged = (
            df.select(F.col(id_col).alias("doc_id"), token_hashes(text_col).alias("__th"))
            .filter(F.size("__th") >= k)
            .select(
                "doc_id",
                F.size("__th").alias("n_tokens"),
                shingles_from_token_hashes(F.col("__th"), k).alias("__sp"),
            )
        )
    return staged.select(
        "doc_id", "n_tokens", F.posexplode("__sp").alias("pos0", "h")
    ).select("doc_id", "n_tokens", (F.col("pos0") + 1).alias("pos"), "h")


def span_store_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """store(A) ⊕ store(B) == store(A ∪ B) exactly (counter sums)."""
    return a.unionByName(b).groupBy("h").agg(F.sum("cnt").alias("cnt"))


def incremental_substring_dup_stats(
    new_df: DataFrame,
    store: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_TOKENS,
    fast_hashing: bool = True,
) -> DataFrame:
    """Substring-dedup stats for a NEW batch against an EXISTING
    corpus's span store — the daily-increment shape (mirrors
    incremental_near_dups / ivf_index_append): the old corpus is never
    rescanned; a new doc's span is duplicated iff its hash is in the
    store OR occurs >= 2 times within the batch. Equal BY CONSTRUCTION
    to the full-corpus run restricted to the new docs (total count
    > 1 decomposes exactly into those two cases) — unit-pinned.

    Scale: batch spans shuffle once for the batch count; the dup-hash
    frame (store hits ∪ batch repeats) is bounded by distinct dup
    spans and broadcast/skew-split by AQE in the semi-join."""
    from cloud_dataflow_batch_processing_spark.caching import managed_cache

    spans = managed_cache(_span_frame(new_df, id_col, text_col, k, fast_hashing))
    batch_dups = (
        spans.groupBy("h").agg(F.count(F.lit(1)).alias("c")).filter(F.col("c") > 1)
    ).select("h")
    dup_hashes = batch_dups.unionByName(store.select("h")).distinct()
    dup = spans.join(dup_hashes, "h", "left_semi").select("doc_id", "n_tokens", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = dup.withColumn(
        "__new",
        F.when(F.col("pos") - F.coalesce(F.lag("pos").over(w), F.lit(-k)) > k, 1).otherwise(0),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("__new").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    iv = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("start_pos"), (F.max("pos") + k).alias("end_pos")
    )
    per_doc = iv.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_remove_intervals"),
        F.sum(F.col("end_pos") - F.col("start_pos")).alias("removed_tokens"),
    )
    base = new_df.select(
        F.col(id_col).alias("doc_id"), F.size(tokens(text_col)).alias("n_tokens")
    )
    out = base.join(per_doc, "doc_id", "left")
    return out.select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_remove_intervals", F.lit(0)).alias("n_remove_intervals"),
        F.coalesce("removed_tokens", F.lit(0)).alias("removed_tokens"),
        (F.col("n_tokens") - F.coalesce("removed_tokens", F.lit(0))).alias("kept_tokens"),
        F.round(
            F.coalesce("removed_tokens", F.lit(0))
            / F.nullif(F.col("n_tokens"), F.lit(0)),
            4,
        ).alias("removed_frac"),
    )


def incremental_substring_stats_sql(
    new_where: str, old_where: str, source: str = "documents", k: int = SPAN_TOKENS
) -> str:
    """Oracle twin over one relation split by predicates into the new
    batch and the old corpus."""
    return f"""
    WITH old_th AS (
      SELECT doc_id, {token_hashes_sql('text')} AS th FROM {source} WHERE {old_where}
    ),
    store AS (
      SELECT h, COUNT(*) AS cnt FROM (
        SELECT unnest({span_hashes_sql(k)}) AS h FROM old_th WHERE len(th) >= {k}
      ) GROUP BY h
    ),
    new_th AS (
      SELECT doc_id, {token_hashes_sql('text')} AS th FROM {source} WHERE {new_where}
    ),
    spans AS (
      SELECT doc_id, len(th) AS n_tokens, pos0 + 1 AS pos, h
      FROM (
        SELECT doc_id, th, unnest({span_hashes_sql(k)}) AS h,
               unnest(range(0, len(th) - {k - 1})) AS pos0
        FROM new_th WHERE len(th) >= {k}
      )
    ),
    batch_dups AS (
      SELECT h FROM spans GROUP BY h HAVING COUNT(*) > 1
    ),
    dup_hashes AS (
      SELECT h FROM batch_dups UNION SELECT h FROM store
    ),
    dup AS (
      SELECT doc_id, n_tokens, pos FROM spans WHERE h IN (SELECT h FROM dup_hashes)
    ),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos - COALESCE(
                 LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos), -{k}) > {k}
             THEN 1 ELSE 0 END AS new_island
      FROM dup
    ),
    islands AS (
      SELECT doc_id, pos,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ),
    iv AS (
      SELECT doc_id, MIN(pos) AS start_pos, MAX(pos) + {k} AS end_pos
      FROM islands GROUP BY doc_id, island
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_remove_intervals,
             SUM(end_pos - start_pos) AS removed_tokens
      FROM iv GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id, len({tokens_sql('text')}) AS n_tokens FROM {source}
      WHERE {new_where}
    )
    SELECT b.doc_id, b.n_tokens,
           CAST(COALESCE(p.n_remove_intervals, 0) AS BIGINT) AS n_remove_intervals,
           CAST(COALESCE(p.removed_tokens, 0) AS BIGINT) AS removed_tokens,
           CAST(b.n_tokens - COALESCE(p.removed_tokens, 0) AS BIGINT) AS kept_tokens,
           ROUND(CAST(COALESCE(p.removed_tokens, 0) AS DOUBLE) / b.n_tokens, 4)
             AS removed_frac
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    """


def decontaminate_span_stats(
    corpus: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = SPAN_TOKENS,
    fast_hashing: bool = True,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Exact-substring benchmark decontamination (the GPT-3 appendix-C /
    Lee et al. 2022 hygiene step): mark every K-token span of a training
    document whose content occurs ANYWHERE in a held-out eval set, merge
    the marked spans into maximal contamination intervals, and report
    per-document (doc_id, n_tokens, n_contam_intervals,
    contaminated_tokens, kept_tokens, contaminated_frac) over ALL
    corpus documents (clean docs report zeros).

    This is surgical span-level decontamination — distinct from the
    doc-level shingle-overlap score (``decontaminate_eval_overlap``)
    and the doc-level bloom drop (``bloom_decontaminate``): instead of
    dropping a whole document that quotes one benchmark question, only
    the quoted interval is reported (and can be excised with the same
    interval semantics as ``substring_dedup_text``).

    Scale posture (100 TB corpus, bounded eval set): the eval side is a
    benchmark suite — its DISTINCT span-hash set is small and ships
    once per executor as a broadcast; the corpus side is one
    Arrow-batched hash pass + a map-side LEFT SEMI probe, so the only
    exchanges are the narrow per-doc interval merge and stats
    aggregation (both on doc_id, the partitioning the next corpus
    stage wants). The corpus never self-joins and never re-exchanges
    its span volume. Set ``broadcast_eval=False`` if the eval span set
    exceeds the broadcast threshold — AQE then picks the join strategy.

    Engine-neutral by construction: span hashes are the certified
    rolling polynomial (same fold both engines), interval merge is
    integer window arithmetic — see ``decontaminate_span_stats_sql``
    for the DuckDB twin the driver's hash gate runs."""
    eval_h = _span_frame(eval_df, id_col, text_col, k, fast_hashing).select("h").distinct()
    if broadcast_eval:
        eval_h = F.broadcast(eval_h)
    spans = _span_frame(corpus, id_col, text_col, k, fast_hashing)
    marked = spans.join(eval_h, "h", "left_semi").select("doc_id", "n_tokens", "pos")
    iv = _merge_marked_spans(marked, k)
    per_doc = iv.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_contam_intervals"),
        F.sum(F.col("end_pos") - F.col("start_pos")).alias("contaminated_tokens"),
    )
    base = corpus.select(
        F.col(id_col).alias("doc_id"), F.size(tokens(text_col)).alias("n_tokens")
    )
    out = base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_contam_intervals", F.lit(0)).alias("n_contam_intervals"),
        F.coalesce("contaminated_tokens", F.lit(0)).alias("contaminated_tokens"),
    )
    return out.select(
        "doc_id",
        "n_tokens",
        "n_contam_intervals",
        "contaminated_tokens",
        (F.col("n_tokens") - F.col("contaminated_tokens")).alias("kept_tokens"),
        # empty/whitespace-only doc: fraction undefined -> NULL, matching
        # DuckDB's division-by-zero NULL (same contract as
        # substring_dup_stats; never an ANSI DIVIDE_BY_ZERO).
        F.round(
            F.col("contaminated_tokens") / F.nullif(F.col("n_tokens"), F.lit(0)), 4
        ).alias("contaminated_frac"),
    )


def decontaminate_span_stats_sql(
    corpus_where: str, eval_where: str, source: str = "documents", k: int = SPAN_TOKENS
) -> str:
    """Oracle twin over one relation split by predicates into the
    training corpus and the held-out eval set."""
    return f"""
    WITH th_t AS (
      SELECT doc_id, {token_hashes_sql('text')} AS th FROM {source}
    ),
    spans AS (
      SELECT doc_id, len(th) AS n_tokens, pos0 + 1 AS pos, h
      FROM (
        SELECT doc_id, th, unnest({span_hashes_sql(k)}) AS h,
               unnest(range(0, len(th) - {k - 1})) AS pos0
        FROM th_t WHERE len(th) >= {k}
      )
    ),
    ev AS (
      SELECT DISTINCT h FROM spans WHERE {eval_where}
    ),
    hit AS (
      SELECT doc_id, n_tokens, pos FROM spans
      WHERE ({corpus_where}) AND h IN (SELECT h FROM ev)
    ),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN pos - COALESCE(
                 LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos), -{k}) > {k}
             THEN 1 ELSE 0 END AS new_island
      FROM hit
    ),
    islands AS (
      SELECT doc_id, pos,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      FROM flagged
    ),
    iv AS (
      SELECT doc_id, MIN(pos) AS start_pos, MAX(pos) + {k} AS end_pos
      FROM islands GROUP BY doc_id, island
    ),
    per_doc AS (
      SELECT doc_id, COUNT(*) AS n_contam_intervals,
             SUM(end_pos - start_pos) AS contaminated_tokens
      FROM iv GROUP BY doc_id
    ),
    base AS (
      SELECT doc_id, len({tokens_sql('text')}) AS n_tokens FROM {source}
      WHERE {corpus_where}
    )
    SELECT b.doc_id, b.n_tokens,
           CAST(COALESCE(p.n_contam_intervals, 0) AS BIGINT) AS n_contam_intervals,
           CAST(COALESCE(p.contaminated_tokens, 0) AS BIGINT) AS contaminated_tokens,
           CAST(b.n_tokens - COALESCE(p.contaminated_tokens, 0) AS BIGINT)
             AS kept_tokens,
           ROUND(CAST(COALESCE(p.contaminated_tokens, 0) AS DOUBLE) / b.n_tokens, 4)
             AS contaminated_frac
    FROM base b LEFT JOIN per_doc p USING (doc_id)
    """

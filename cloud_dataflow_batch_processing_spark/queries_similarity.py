"""Similarity-search query registrations: brute-force cosine top-k
(exact baseline), LSH bucket assignment, and LSH-pruned near-pair
retrieval — all oracle-checked via engine-neutral FP-ordered math
(extensions/similarity.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cloud_dataflow_batch_processing_spark.extensions import similarity as S
from cloud_dataflow_batch_processing_spark.queries import register
from cloud_dataflow_batch_processing_spark.sources.testdata import load_tables


def _query_vector(emb) -> list[float]:
    """The vec_id=0 probe, materialized driver-side (one row by
    contract). An empty corpus cannot supply a probe — refuse loudly
    instead of dying with a NoneType subscript."""
    row = emb.filter(F.col("vec_id") == 0).select("embedding").head()
    if row is None:
        raise ValueError("ANN probe vec_id=0 not found (empty embeddings corpus?)")
    return list(row[0])


@register(
    "ann_brute_topk",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0)
    SELECT vec_id, ROUND({S.cosine_sql('embedding', 'qv')}, 6) AS cos_sim
    FROM embeddings, q
    WHERE {S.vec_is_valid_sql('embedding')}
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
    headline=True,
)
def ann_brute_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 against the vec_id=0 query vector: per-row
    codegen score + TakeOrderedAndProject (no corpus shuffle)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    qv = _query_vector(emb)
    return S.cosine_topk(emb, qv, 10)


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
               FROM embeddings WHERE vec_id = 0),
    expl AS (SELECT label, pos, CAST(embedding[pos] AS DOUBLE) AS val
             FROM embeddings, range(1, {S.DIM + 1}) t(pos)
             WHERE {S.vec_is_valid_sql('embedding')}),
    cent AS (SELECT label, pos,
                    CAST(SUM(CAST(val AS DECIMAL(27,8))) AS DOUBLE) / COUNT(*) AS comp
             FROM expl GROUP BY label, pos),
    centv AS (SELECT label, list(comp ORDER BY pos) AS cv FROM cent GROUP BY label),
    dists AS (SELECT label,
                     list_reduce(list_prepend(CAST(0 AS DOUBLE),
                       list_transform(list_zip(cv, qv), p -> (p[1] - p[2]) * (p[1] - p[2]))),
                       (a, b) -> a + b) AS d2
              FROM centv, q),
    probe AS (SELECT label FROM dists ORDER BY d2, label LIMIT 3)
    SELECT vec_id, ROUND({S.cosine_sql('embedding', 'qv')}, 6) AS cos_sim
    FROM embeddings JOIN probe USING (label), q
    WHERE {S.vec_is_valid_sql('embedding')}
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: decimal-exact per-label centroids, probe the 3
    nearest partitions, brute-force cosine inside them only — the
    corpus-pruning scale path (vs ann_brute_topk's full scan)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    qv = _query_vector(emb)
    return S.ivf_topk(emb, qv, 10, nprobe=3)


@register(
    "ann_lsh_buckets",
    oracle=f"""
    SELECT {S.lsh_signature_sql('embedding')} AS bucket, COUNT(*) AS n
    FROM embeddings GROUP BY bucket
    """,
    # The signature is also verified end-to-end by ann_lsh_pairs /
    # dedup_embedding_cosine; the histogram twin registers late.
    late=True,
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucket histogram — verifies the signature
    computation (the heart of the ANN scale path) bit-for-bit."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return emb.groupBy(S.lsh_signature("embedding").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "ann_lsh_pairs",
    # r7 window rotation: class long driver-certified (green in
    # CORRECTNESS r02-r06); registers late to free a slot for a
    # class that never saw the driver gate.
    late=True,
    oracle=f"""
    WITH sig AS (
      SELECT vec_id, embedding, {S.lsh_signature_sql('embedding')} AS bucket
      FROM embeddings WHERE vec_id < 200 AND {S.vec_is_valid_sql('embedding')}
    )
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND({S.cosine_sql('a.embedding', 'b.embedding')}, 6) AS cos_sim
    FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE ROUND({S.cosine_sql('a.embedding', 'b.embedding')}, 6) >= 0.2
    """,
)
def ann_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-pruned near-pair retrieval: exact cosine evaluated only
    within hyperplane buckets (the candidate set), threshold 0.2."""
    emb = load_tables(spark, sf_dir)["embeddings"].filter(F.col("vec_id") < 200)
    return S.lsh_bucketed_pairs(emb, min_cosine=0.2)


@register(
    "dedup_embedding_cosine",
    # Embedding-cosine near-dup class is driver-carried by
    # `semantic_dedup_prune` (cluster-bucketed) and `ann_lsh_pairs`
    # (LSH-bucketed retrieval); this LSH-bucketed dedup variant
    # registers late.
    late=True,
    oracle=f"""
    WITH sig AS (
      SELECT vec_id, embedding, {S.lsh_signature_sql('embedding')} AS bucket
      FROM embeddings WHERE {S.vec_is_valid_sql('embedding')}
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE ROUND({S.cosine_sql('a.embedding', 'b.embedding')}, 6) >= 0.9
    ),
    dropped AS (SELECT DISTINCT id_b AS doc_id FROM pairs)
    SELECT d.lang, COUNT(*) AS n_kept, CAST(SUM(d.n_chars) AS BIGINT) AS kept_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM dropped)
    GROUP BY d.lang
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate removal — the semantic-dedup
    flavor (vs the lexical MinHash/SimHash paths): LSH hyperplane
    buckets prune candidates, exact cosine >= 0.9 marks near-dups, the
    higher vec_id of each pair is dropped, and the kept corpus is
    profiled per language. embeddings.vec_id aligns 1:1 with
    documents.doc_id in the test data. Scale posture: bucket-key join
    only (no all-pairs), anti-join on the dropped side."""
    t = load_tables(spark, sf_dir)
    pairs = S.lsh_bucketed_pairs(t["embeddings"], min_cosine=0.9)
    dropped = pairs.select(F.col("id_b").alias("doc_id")).distinct()
    kept = t["documents"].join(dropped, on="doc_id", how="left_anti")
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("kept_chars")
    )


@register(
    "embedding_normalize_quantize",
    oracle=f"""
    WITH vd AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings WHERE vec_id < 50
    ),
    normed AS (
      SELECT vec_id, e,
             SQRT(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                  list_transform(e, x -> x * x)), (a, b) -> a + b)) AS nrm
      FROM vd
    )
    SELECT vec_id, ROUND(nrm, 6) AS l2_norm,
           array_to_string(list_transform(e, x -> CAST(ROUND(127 * x / nrm) AS BIGINT)), ',')
             AS q_int8
    FROM normed WHERE nrm > 0
    """,
    # Embedding-preprocessing variant (the ANN queries drive the same
    # vector math); registers late.
    late=True,
)
def embedding_normalize_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding normalization + symmetric int8 quantization — the
    vector-preprocessing step before ANN indexing or shipping
    embeddings to training: L2 norm per vector, then each component
    scaled to round(127 * x / ||v||). Pure per-row higher-order-function
    arithmetic in double precision (identical on both engines); zero
    shuffle."""
    emb = load_tables(spark, sf_dir)["embeddings"].filter(F.col("vec_id") < 50)
    e = F.transform("embedding", lambda x: x.cast("double"))
    staged = emb.select("vec_id", e.alias("e")).select(
        "vec_id",
        "e",
        F.sqrt(F.aggregate("e", F.lit(0.0), lambda a, x: a + x * x)).alias("nrm"),
    )
    return staged.filter(F.col("nrm") > 0).select(
        "vec_id",
        F.round("nrm", 6).alias("l2_norm"),
        F.array_join(
            F.transform(
                "e", lambda x: F.round(F.lit(127) * x / F.col("nrm")).cast("long")
            ),
            ",",
        ).alias("q_int8"),
    )


@register(
    "semantic_kmeans_assign",
    oracle=S.kmeans_assign_sql(k=8, iters=2),
    # Driver-certified r9; demoted late=True in r11 (50-primary budget):
    # the k-means class stays primary via semantic_dedup_prune.
    late=True,
)
def semantic_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Lloyd k-means over the embeddings table (k=8, two
    assign→update rounds + final assignment) — the clustering stage of
    SemDeDup-style semantic dedup and of IVF index training. The oracle
    unrolls the SAME iterations in SQL, so the entire iterative
    trajectory (seeded centroids, decimal-exact updates, tie-broken
    argmin) is certified per-row, not just the final counts.

    Ships the ARROW assign path (broadcast k×dim matrix + Arrow-batched
    numpy argmin — plan size O(1) in k, the plan the scale posture
    requires, ~3x faster than the literal path). Values are
    bit-identical to the literal-expression path by construction (same
    binary64 op order, see extensions/similarity._argmin_arrow). This
    entry certifies the Arrow path against the oracle; the literal path
    keeps its own oracle certification in
    tests/test_kmeans.py::test_literal_assign_path_matches_oracle
    (dualscale) plus the always-on expr-vs-arrow equality test."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return S.kmeans_assign(emb, k=8, iters=2, assign_method="arrow")


@register(
    "semantic_dedup_prune",
    oracle=S.semantic_dedup_sql(k=8, iters=2, min_cosine=0.9),
)
def semantic_dedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster with deterministic
    k-means, then drop the higher id of every within-cluster pair with
    cosine ≥ 0.9; reported per cluster as (n_members, n_dropped,
    n_kept). Candidate generation is bucketed by cluster id — the same
    bounded-bucket self-join shape as the LSH pipelines, never
    all-pairs. assign_method="arrow": bit-identical to the literal-
    expression path (tests/test_kmeans.py::
    test_semantic_dedup_arrow_identical compares the two) and the
    SemDeDup-realistic posture (k grows to 10k-100k clusters, where
    the literal plan is impossible); at sf0.1 it cut the three
    interpreted-HOF assignment passes from ~5 s to ~1.5 s (r11,
    guide §4)."""
    emb = load_tables(spark, sf_dir)["embeddings"]
    return S.semantic_dedup_stats(
        emb, k=8, iters=2, min_cosine=0.9, assign_method="arrow"
    )

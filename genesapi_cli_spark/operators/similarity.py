"""Similarity-search + multimodal-column operators (SURVEY.md §2.10).

These are the embedding-space primitives of an LLM-data pipeline: brute-force
cosine top-k (the correctness baseline), label-blocked threshold pairs (the
ANN-free scale pattern), and a text⋈vector multimodal join.

Scale notes:
- the query side of top-k is tiny and broadcast; candidates stream — the plan
  is a broadcast nested-loop + per-query top-k window, never a full shuffle of
  the embedding table. For 100 TB-scale ANN, the same skeleton takes an
  IVF/LSH bucket id as the equi-join key (see q_sim_threshold_pairs, which
  already demonstrates the blocked-join form: candidates restricted to equal
  blocking keys, pair count bounded per block).
- all vector math is JVM expressions over array<double> — no Python in the
  loop; embeddings never leave the executors; only scalars (similarities,
  norms) reach the result. Hot pair loops use an unrolled codegen'd dot
  product (dot_fixed) because Spark's higher-order functions are interpreted;
  per-row norms are computed once so each pair costs exactly one dot.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from genesapi_cli_spark.io import (
    CACHE,
    load,
    spread,
    source_stamps,
)
from genesapi_cli_spark.registry import DEC, register


def as_double(col) -> Column:
    """array<float> → array<double> so all arithmetic is double (matches the
    oracle's ::DOUBLE[] cast; float accumulation would diverge)."""
    return F.transform(col, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate — sequential left-to-right fold,
    the same order DuckDB's list_dot_product uses → bit-identical. Generic
    (any length), but higher-order functions are NOT codegen'd in Spark —
    use :func:`dot_fixed` on hot paths."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


EMBEDDING_DIM = 64  # FIXTURES.md: embeddings.embedding is array<float> dim 64


def dot_fixed(a: Column, b: Column, dim: int = EMBEDDING_DIM) -> Column:
    """Σ aᵢ·bᵢ unrolled to a left-associative add chain of element_at
    products — a plain codegen'd expression tree (~10× faster than the
    interpreted HOF fold on pair joins) with the SAME addition order as the
    sequential fold, so oracle parity is unchanged. Prefer :func:`dot_expr`
    on hot paths: building the 64-term tree node-by-node over Py4J costs
    seconds of plan-build time; a generated SQL string parses JVM-side in one
    call with identical semantics ('+' is left-associative in Spark SQL)."""
    acc = F.element_at(a, 1) * F.element_at(b, 1)
    for i in range(2, dim + 1):
        acc = acc + F.element_at(a, i) * F.element_at(b, i)
    return acc


def dot_expr(a: str, b: str, dim: int = EMBEDDING_DIM) -> Column:
    """dot_fixed as one generated SQL string (column NAMES, not Columns):
    single Py4J round-trip, parsed + codegen'd JVM-side, same left-to-right
    addition order as DuckDB's list_dot_product."""
    return F.expr(
        " + ".join(f"element_at({a}, {i}) * element_at({b}, {i})" for i in range(1, dim + 1))
    )


def dot_lit_expr(a: str, coeffs: list[float]) -> Column:
    """⟨column, literal vector⟩ as one generated SQL string. Literals go
    through CAST('<repr>' AS DOUBLE): Python repr round-trips the exact
    double, and a string→double cast yields that same IEEE value (a bare
    decimal literal would parse as DECIMAL and could re-round)."""
    return F.expr(
        " + ".join(
            f"element_at({a}, {i + 1}) * CAST('{v!r}' AS DOUBLE)"
            for i, v in enumerate(coeffs)
        )
    )


# Session-scoped memo of the normed embedding relation (vec_id, label,
# emb float64[], nrm), keyed by (application, sf_dir) — the similarity
# family's common scan prefix, materialized once per session by the first
# consumer's action (lazy localCheckpoint) and read as cached blocks by
# every later ANN/recall/rerank/maxsim query, the same pattern as
# graph.shared_copurchase_edges. At 100 TB this relation is the persisted
# "embedding table with norms" every vector pipeline materializes next to
# the index. Results are identical with or without the memo (same
# expressions, same values); the memo never crosses sessions or sf_dirs.
def build_normed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UN-checkpointed normed-embeddings plan — separate from the
    memoizing wrapper so the plan-snapshot gate fingerprints the shared
    subtree."""
    return (
        spread(load(spark, sf_dir, "embeddings"), "vec_id")
        .select("vec_id", "label", as_double("embedding").alias("emb"))
        .select(
            "vec_id",
            "label",
            "emb",
            F.sqrt(dot_expr("emb", "emb")).alias("nrm"),
        )
    )


def shared_normed_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CACHE.get_or_build(
        spark, "normed_embeddings", lambda: build_normed_embeddings(spark, sf_dir), sf_dir,
        source_stamps(sf_dir, "embeddings"), checkpoint=True,
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (F.sqrt(dot(a, a)) * F.sqrt(dot(b, b)))


# --- q_sim_cosine_topk ------------------------------------------------------

_TOPK_ORACLE = """
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm FROM e WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, emb AS cemb, nrm AS cnrm FROM e WHERE vec_id >= 10
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qemb, cemb) / (qnrm * cnrm) AS cos
  FROM q CROSS JOIN c
), ranked AS (
  SELECT query_id, neighbor_id,
         FLOOR(cos * 10000 + 0.5) / 10000 AS cos_r,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY FLOOR(cos * 10000 + 0.5) / 10000 DESC, neighbor_id
         ) AS rank
  FROM scored
)
SELECT query_id, neighbor_id, cos_r, rank FROM ranked WHERE rank <= 5
"""


@register("q_sim_cosine_topk", oracle=_TOPK_ORACLE)
def q_sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for query vectors (vec_id < 10)
    among the rest. Ranking is on the deterministically-rounded similarity
    (then neighbor_id) so last-ulp float differences can't flip the top-k."""
    e = shared_normed_embeddings(spark, sf_dir).select("vec_id", "emb", "nrm")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("qemb"), F.col("nrm").alias("qnrm")
    )
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("cemb"), F.col("nrm").alias("cnrm")
    )
    scored = F.broadcast(q).crossJoin(c).select(
        "query_id",
        "neighbor_id",
        (dot_expr("qemb", "cemb") / (F.col("qnrm") * F.col("cnrm"))).alias("cos"),
    )
    rounded = scored.withColumn("cos_r", F.floor(F.col("cos") * 10000 + F.lit(0.5)) / 10000)
    w = Window.partitionBy("query_id").orderBy(F.col("cos_r").desc(), "neighbor_id")
    return (
        rounded.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "cos_r", "rank")
    )


# --- q_sim_threshold_pairs --------------------------------------------------

_THRESHOLD = 0.25
_PAIRS_CHUNK = 4096  # rows per BLAS tile in the block pair sweep (memory bound)


def _pairs_tile_sweep(ids, m, nrm, thresh, chunk):
    """Count within-block pairs with snapped cosine > thresh, plus the
    minimum pair-left id, sweeping the strict upper triangle in
    chunk×chunk BLAS tiles — bounded memory for any block size. ``ids``
    must ascend. Pure numpy so the tile algebra is unit-testable without
    Spark (tests/test_llm_ops.py). Returns (n_pairs, min_a | None)."""
    import numpy as np

    b = len(ids)
    n = 0
    min_a = None
    for i0 in range(0, b, chunk):
        i1 = min(i0 + chunk, b)
        for j0 in range(i0, b, chunk):
            j1 = min(j0 + chunk, b)
            cos = (m[i0:i1] @ m[j0:j1].T) / np.outer(nrm[i0:i1], nrm[j0:j1])
            mask = (np.floor(cos * 10000 + 0.5) / 10000) > thresh
            if j0 == i0:
                mask &= np.triu(np.ones_like(mask, dtype=bool), k=1)
            cnt = int(mask.sum())
            if cnt:
                n += cnt
                a_min = int(ids[i0:i1][mask.any(axis=1)].min())
                min_a = a_min if min_a is None else min(min_a, a_min)
    return n, min_a


def _running_best_cos(ma, na, mb, nb, chunk, aids=None, bids=None):
    """Per-row-of-a running max of snapped cosine against b, streamed in
    chunk-column BLAS slabs (max is associative; per-slab snap-then-max ≡
    full-grid snap-then-max). When ``aids``/``bids`` are given, a-vs-own-id
    columns are knocked out before the max (the triplet positive rule).
    Pure numpy, unit-tested in tests/test_llm_ops.py."""
    import numpy as np

    best = np.full(len(ma), -np.inf)
    for lo in range(0, len(mb), chunk):
        hi = min(lo + chunk, len(mb))
        cos = (ma @ mb[lo:hi].T) / np.outer(na, nb[lo:hi])
        cos_r = np.floor(cos * 10000 + 0.5) / 10000
        if aids is not None:
            cos_r[aids[:, None] == bids[None, lo:hi]] = -np.inf
        np.maximum(best, cos_r.max(axis=1), out=best)
    return best

_PAIRS_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
)
SELECT a.label AS label,
       COUNT(*) AS n_pairs,
       MIN(a.vec_id) AS min_vec_a
FROM e a JOIN e b
  ON a.label = b.label AND a.vec_id < b.vec_id
WHERE FLOOR(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) * 10000 + 0.5) / 10000
      > {_THRESHOLD}
GROUP BY a.label
"""


@register("q_sim_threshold_pairs", oracle=_PAIRS_ORACLE)
def q_sim_threshold_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """High-similarity pairs within label blocks (cos > 0.25), counted per
    label. The label equality is the equi-join key — the pair space is bounded
    per block, which is exactly the structure an IVF/LSH bucket id gives at
    100 TB (this query IS the scale pattern, with label standing in for the
    learned bucket)."""
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        # CHUNKED upper-triangle sweep (round-12 sf10 rehearsal fix): the
        # one-shot m @ m.T materialized a b×b cosine grid — ~10 GB/task at
        # sf10 block sizes (20k rows: grid + outer-denominator + rounded
        # copy). The output is only (count, min vec_a), both associative,
        # so the triangle is swept in _PAIRS_CHUNK² tiles with running
        # scalars — per-task memory is bounded regardless of block size.
        # EXACT: every a<b pair lands in exactly one tile (diagonal tiles
        # keep their strict upper triangle; off-diagonal tiles are wholly
        # a<b because ids sort ascending).
        pdf = pdf.sort_values("vec_id")
        ids = pdf["vec_id"].to_numpy()
        m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
        nrm = np.sqrt(np.einsum("ij,ij->i", m, m))
        n, min_a = _pairs_tile_sweep(ids, m, nrm, _THRESHOLD, _PAIRS_CHUNK)
        if n == 0:
            return pd.DataFrame({"label": [], "n_pairs": [], "min_vec_a": []}).astype(
                {"label": "int32", "n_pairs": "int64", "min_vec_a": "int64"}
            )
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "n_pairs": [n],
                "min_vec_a": [min_a],
            }
        )

    # One Arrow batch per label block, scored in bounded BLAS tiles — the
    # per-block cost model that holds when 'label' is an IVF/LSH bucket
    # at 100 TB. Python sees ~rows×dim floats per block, never the pair space.
    return e.groupBy("label").applyInPandas(
        block_pairs, schema="label int, n_pairs long, min_vec_a long"
    )


# --- q_multimodal_join ------------------------------------------------------

_MULTIMODAL_ORACLE = """
WITH e AS (
  SELECT vec_id, label,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS l2
  FROM embeddings
)
SELECT label,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       CAST(SUM(CAST(l2 AS DECIMAL(18,7))) AS DOUBLE) / COUNT(*) AS avg_l2
FROM documents JOIN e ON doc_id = vec_id
GROUP BY label
"""


@register("q_multimodal_join", oracle=_MULTIMODAL_ORACLE)
def q_multimodal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text ⋈ vector multimodal plan: documents joined to embeddings on
    doc_id=vec_id, per-label text stats + mean embedding L2 norm. The raw
    vector is projected away before the result (scalars only leave the plan)."""
    docs = load(spark, sf_dir, "documents")
    emb = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", "label", as_double("embedding").alias("embd"))
        .select("vec_id", "label", F.sqrt(dot_expr("embd", "embd")).alias("l2"))
    )
    return (
        docs.join(emb, docs.doc_id == emb.vec_id)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
            (F.sum(F.col("l2").cast("decimal(18,7)")).cast("double") / F.count(F.lit(1))).alias(
                "avg_l2"
            ),
        )
    )


# --- q_sim_ann_lsh ----------------------------------------------------------

N_PLANES = 4  # 2^4 = 16 buckets


def _hyperplanes() -> list[list[float]]:
    """Deterministic random hyperplanes (fixed seed, generated once at import).
    The SAME Python floats are embedded as literals in both the Spark
    expression tree and the oracle SQL, so the two engines project onto
    bit-identical planes."""
    import numpy as np

    rng = np.random.default_rng(20260813)
    return rng.standard_normal((N_PLANES, EMBEDDING_DIM)).tolist()


_PLANES = _hyperplanes()


def _bucket_expr(emb_name: str) -> Column:
    """LSH bucket id: bit j = sign of ⟨emb, plane_j⟩ (left-to-right fold,
    same order as DuckDB's list_dot_product → identical sign, no rounding
    needed)."""
    acc = F.lit(0)
    for j, plane in enumerate(_PLANES):
        proj = dot_lit_expr(emb_name, plane)
        acc = acc + F.when(proj >= 0, F.lit(1 << j)).otherwise(F.lit(0))
    return acc


def _bucket_sql(emb: str) -> str:
    terms = []
    for j, plane in enumerate(_PLANES):
        lit = "[" + ", ".join(repr(v) for v in plane) + "]"
        terms.append(
            f"CASE WHEN list_dot_product({emb}, {lit}) >= 0 THEN {1 << j} ELSE 0 END"
        )
    return " + ".join(terms)


def _ann_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), bucketed AS (
  SELECT vec_id, emb, nrm, ({_bucket_sql('emb')}) AS bucket FROM e
), q AS (
  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm, bucket FROM bucketed
  WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, emb AS cemb, nrm AS cnrm, bucket FROM bucketed
  WHERE vec_id >= 10
), scored AS (
  SELECT query_id, neighbor_id, q.bucket AS bucket,
         list_dot_product(qemb, cemb) / (qnrm * cnrm) AS cos
  FROM q JOIN c USING (bucket)
), ranked AS (
  SELECT query_id, neighbor_id, bucket,
         FLOOR(cos * 10000 + 0.5) / 10000 AS cos_r,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY FLOOR(cos * 10000 + 0.5) / 10000 DESC, neighbor_id
         ) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, bucket, cos_r, rn FROM ranked WHERE rn <= 3
"""


@register("q_sim_ann_lsh", oracle=_ann_oracle())
def q_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate nearest neighbors via sign-random-projection LSH: 4
    deterministic hyperplanes → 16 buckets; each query (vec_id < 10) scores
    ONLY candidates in its own bucket, top-3 by rounded cosine.

    This is the scale path next to q_sim_cosine_topk's brute force: the
    equi-join on bucket replaces the cross join, so candidate count per query
    drops by ~2^planes and the whole thing shuffles on a small int key. At
    100 TB: more planes (or IVF centroids) + multi-probe; the plan shape —
    bucket equi-join then per-query top-k window — is unchanged.
    """
    e = shared_normed_embeddings(spark, sf_dir).select(
        "vec_id", "emb", "nrm", _bucket_expr("emb").alias("bucket")
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
        "bucket",
    )
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
        "bucket",
    )
    scored = F.broadcast(q).join(c, "bucket").select(
        "query_id",
        "neighbor_id",
        "bucket",
        (dot_expr("qemb", "cemb") / (F.col("qnrm") * F.col("cnrm"))).alias("cos"),
    )
    rounded = scored.withColumn("cos_r", F.floor(F.col("cos") * 10000 + F.lit(0.5)) / 10000)
    w = Window.partitionBy("query_id").orderBy(F.col("cos_r").desc(), "neighbor_id")
    return (
        rounded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "bucket", "cos_r", "rn")
    )


# --- q_sim_ann_multiprobe -----------------------------------------------------


def _multiprobe_oracle() -> str:
    probe_list = "[qb" + "".join(f", xor(qb, {1 << j})" for j in range(N_PLANES)) + "]"
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), bucketed AS (
  SELECT vec_id, emb, nrm, ({_bucket_sql('emb')}) AS bucket FROM e
), q AS (
  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm, bucket AS qb
  FROM bucketed WHERE vec_id < 10
), probes AS (
  SELECT query_id, qemb, qnrm, qb,
         UNNEST({probe_list}) AS bucket
  FROM q
), c AS (
  SELECT vec_id AS neighbor_id, emb AS cemb, nrm AS cnrm, bucket FROM bucketed
  WHERE vec_id >= 10
), scored AS (
  SELECT query_id, neighbor_id, p.bucket AS cand_bucket,
         CASE WHEN p.bucket = p.qb THEN 0 ELSE 1 END AS probe_dist,
         list_dot_product(qemb, cemb) / (qnrm * cnrm) AS cos
  FROM probes p JOIN c USING (bucket)
), ranked AS (
  SELECT query_id, neighbor_id, cand_bucket, CAST(probe_dist AS BIGINT) AS probe_dist,
         FLOOR(cos * 10000 + 0.5) / 10000 AS cos_r,
         ROW_NUMBER() OVER (
           PARTITION BY query_id
           ORDER BY FLOOR(cos * 10000 + 0.5) / 10000 DESC, neighbor_id
         ) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, cand_bucket, probe_dist, cos_r, rn
FROM ranked WHERE rn <= 3
"""


@register("q_sim_ann_multiprobe", oracle=_multiprobe_oracle())
def q_sim_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTI-PROBE LSH — the recall lever q_sim_ann_lsh's docstring promises
    at 100 TB, made concrete: each query probes its own sign-projection
    bucket PLUS the {N_PLANES} buckets at Hamming distance 1 (one flipped
    hyperplane bit — where a near-boundary neighbor most likely landed), so
    recall rises without adding hash tables or re-scanning the corpus:
    candidate volume grows ~(1+planes)/2^planes of the corpus per query,
    still a bucket EQUI-JOIN, never a cross join. probe_dist in the output
    records which ring found each survivor — the observable knob-vs-recall
    trade (multi-probe LSH, Lv et al., VLDB 2007).

    Spark-first: the probe ring is an in-row array explode on the TINY
    query side (5 rows per query), broadcast against the bucketed corpus;
    dedup is structural (a candidate lives in exactly ONE bucket, so at
    most one probe matches it — no distinct needed). Ranking reuses the
    q_sim_ann_lsh contract verbatim: snapped cosine, neighbor_id
    tie-break, top-3 per query.

    Scale shape: identical to q_sim_ann_lsh — broadcast(query probes) ⋈
    bucket — with a 5× larger (still tiny) build side; the corpus-side
    scan, shuffle-freedom, and per-query window are unchanged. At more
    planes the ring is chosen by per-plane margin |⟨q, plane⟩| (probe the
    closest boundaries first); with 4 planes the full Hamming-1 ring IS
    that choice.
    """
    e = shared_normed_embeddings(spark, sf_dir).select(
        "vec_id", "emb", "nrm", _bucket_expr("emb").alias("bucket")
    )
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
        F.col("bucket").alias("qb"),
    )
    probes = q.select(
        "query_id",
        "qemb",
        "qnrm",
        "qb",
        F.explode(
            F.array(
                F.col("qb"),
                *[F.expr(f"qb ^ {1 << j}") for j in range(N_PLANES)],
            )
        ).alias("bucket"),
    )
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
        "bucket",
    )
    scored = F.broadcast(probes).join(c, "bucket").select(
        "query_id",
        "neighbor_id",
        F.col("bucket").alias("cand_bucket"),
        F.when(F.col("bucket") == F.col("qb"), 0)
        .otherwise(1)
        .cast("bigint")
        .alias("probe_dist"),
        (dot_expr("qemb", "cemb") / (F.col("qnrm") * F.col("cnrm"))).alias("cos"),
    )
    rounded = scored.withColumn(
        "cos_r", F.floor(F.col("cos") * 10000 + F.lit(0.5)) / 10000
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_r").desc(), "neighbor_id")
    return (
        rounded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "cand_bucket", "probe_dist", "cos_r", "rn")
    )


# --- q_sim_ivf --------------------------------------------------------------

IVF_CENTROID_LO, IVF_CENTROID_HI = 10, 17  # 8 seed vectors act as centroids
IVF_NPROBE = 2

_IVF_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), cent AS (
  SELECT vec_id AS c_id, emb AS cemb, nrm AS cnrm FROM e
  WHERE vec_id BETWEEN {IVF_CENTROID_LO} AND {IVF_CENTROID_HI}
), assign AS (
  SELECT b.vec_id, b.emb, b.nrm, c.c_id,
         ROW_NUMBER() OVER (
           PARTITION BY b.vec_id
           ORDER BY FLOOR(list_dot_product(b.emb, c.cemb) / (b.nrm * c.cnrm)
                          * 10000 + 0.5) / 10000 DESC, c.c_id
         ) AS rn
  FROM e b CROSS JOIN cent c
  WHERE b.vec_id >= 10
), bucketed AS (
  SELECT vec_id AS neighbor_id, emb AS cemb2, nrm AS cnrm2, c_id AS bucket
  FROM assign WHERE rn = 1
), probes AS (
  SELECT q.vec_id AS query_id, q.emb AS qemb, q.nrm AS qnrm, c.c_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY FLOOR(list_dot_product(q.emb, c.cemb) / (q.nrm * c.cnrm)
                          * 10000 + 0.5) / 10000 DESC, c.c_id
         ) AS rn
  FROM e q CROSS JOIN cent c
  WHERE q.vec_id < 10
), probed AS (
  SELECT query_id, qemb, qnrm, c_id AS bucket FROM probes WHERE rn <= {IVF_NPROBE}
), scored AS (
  SELECT query_id, neighbor_id, p.bucket,
         FLOOR(list_dot_product(qemb, cemb2) / (qnrm * cnrm2) * 10000 + 0.5) / 10000
           AS cos_r
  FROM probed p JOIN bucketed b ON p.bucket = b.bucket
), ranked AS (
  SELECT query_id, neighbor_id, bucket, cos_r,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos_r DESC, neighbor_id
         ) AS rn
  FROM scored
)
SELECT query_id, neighbor_id, bucket, cos_r, rn FROM ranked WHERE rn <= 3
"""


@register("q_sim_ivf", oracle=_IVF_ORACLE)
def q_sim_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN (the centroid-bucketed scale path next to q_sim_ann_lsh's
    hyperplane buckets): 8 seed vectors (vec_id 10-17) are the coarse
    centroids; every candidate is assigned to its nearest centroid by rounded
    cosine (tie → smallest centroid id); each query (vec_id < 10) probes its
    {nprobe}=2 nearest centroid lists and takes top-3 by rounded cosine.

    Scale shape: the "trained" centroids are tiny model state — an 8-row
    broadcast table, so candidate assignment is a broadcast nested-loop plus
    a map-side-combined argmax agg (shuffle ≈ one row per vector); real IVF
    swaps in k-means centroids without changing the plan. The probe side
    stays a broadcast join on the bucket id exactly like LSH. In a persisted
    lake, write the table partitioned by this bucket column and the probe
    join becomes partition pruning (read nprobe/K of the data).
    """
    # The shared normed scan feeds THREE arms (centroid broadcast, candidate
    # assignment, query probe); its session memo materializes the 64-term
    # norm once instead of three full scans (formerly a per-query cache()).
    e = shared_normed_embeddings(spark, sf_dir).select("vec_id", "emb", "nrm")

    # Centroid "model state": an 8-row broadcast SUBPLAN over the cached
    # normed scan — no driver collect/round-trip; the broadcast exchange
    # computes the filtered 8 rows in its own tiny job. Assignment is then a
    # broadcast nested-loop (×8 row inflation, narrow) + an argmax agg whose
    # partials collapse map-side — the shuffle carries ~one row per vector.
    # One shared 64-term dot expression stays comfortably inside whole-stage
    # codegen. (Embedding the centroids as LITERALS with a greatest()/CASE
    # argmax blows the generated method past janino's limit → interpreted
    # fallback, measured 10-100x slower.)
    cent_df = e.filter(F.col("vec_id").between(IVF_CENTROID_LO, IVF_CENTROID_HI)).select(
        F.col("vec_id").alias("c_id"),
        F.col("emb").alias("cemb0"),
        F.col("nrm").alias("cnrm0"),
    )
    assign = (
        e.filter(F.col("vec_id") >= 10)
        .crossJoin(F.broadcast(cent_df))
        .select(
            "vec_id",
            "emb",
            "nrm",
            "c_id",
            (
                F.floor(
                    dot_expr("emb", "cemb0") / (F.col("nrm") * F.col("cnrm0")) * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("cos_r"),
        )
    )
    # max(struct(cos_r, -c_id)): highest rounded cos, ties → smallest c_id —
    # the oracle's ORDER BY cos DESC, c_id. emb/nrm are constant per vec_id.
    cand = (
        assign.groupBy("vec_id")
        .agg(
            F.max(F.struct(F.col("cos_r"), (-F.col("c_id")).alias("neg_id"))).alias("m"),
            F.first("emb").alias("cemb"),
            F.first("nrm").alias("cnrm"),
        )
        .select(
            F.col("vec_id").alias("neighbor_id"),
            "cemb",
            "cnrm",
            (-F.col("m.neg_id")).alias("bucket"),
        )
    )

    # Query → nprobe nearest centroids: ~10 rows × 8 centroids; window top-2.
    q = (
        e.filter(F.col("vec_id") < 10)
        .crossJoin(F.broadcast(cent_df))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("emb").alias("qemb"),
            F.col("nrm").alias("qnrm"),
            (
                F.floor(
                    dot_expr("emb", "cemb0") / (F.col("nrm") * F.col("cnrm0")) * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("pcos"),
            F.col("c_id").alias("bucket"),
        )
    )
    wp = Window.partitionBy("query_id").orderBy(F.col("pcos").desc(), "bucket")
    probed = (
        q.withColumn("prn", F.row_number().over(wp))
        .filter(F.col("prn") <= IVF_NPROBE)
        .select("query_id", "qemb", "qnrm", "bucket")
    )

    scored = F.broadcast(probed).join(cand, "bucket").select(
        "query_id",
        "neighbor_id",
        "bucket",
        (
            F.floor(
                dot_expr("qemb", "cemb") / (F.col("qnrm") * F.col("cnrm")) * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("cos_r"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_r").desc(), "neighbor_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("query_id", "neighbor_id", "bucket", "cos_r", "rn")
    )


# --- q_sim_quantized --------------------------------------------------------

_QUANT_ORACLE = """
WITH q8 AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(GREATEST(LEAST(floor(CAST(x AS DOUBLE) * 127 + 0.5), 127), -127)
                     AS DOUBLE)) AS qv
  FROM embeddings
), p AS (
  SELECT q.vec_id AS qid, c.vec_id AS cand_id,
         CAST(list_dot_product(q.qv, c.qv) AS BIGINT) AS qdot
  FROM q8 q JOIN q8 c ON q.label = c.label AND c.vec_id >= 10
  WHERE q.vec_id < 10
), r AS (
  SELECT qid, cand_id, qdot,
         row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, cand_id) AS rn
  FROM p
)
SELECT qid, cand_id, qdot, CAST(rn AS INT) AS rank
FROM r WHERE rn <= 3
"""


@register("q_sim_quantized", oracle=_QUANT_ORACLE)
def q_sim_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized similarity: embeddings quantize to
    round-half-up(x·127) clamped to [-127,127]; neighbor ranking runs on the
    integer dot product. The memory-scaling rung of the ANN ladder
    (cf. q_sim_ivf / q_sim_ann_lsh): at 100 TB an int8 vector is 4× smaller
    than float32 — quantize once at ingest, rank on int8, optionally
    re-score survivors at full precision.

    Everything here is EXACT: quantization uses floor(x·127+0.5) (identical
    IEEE arithmetic in both engines, no round-half-even divergence) and the
    int dot of 64 values ≤ 127² sums far below 2^53, so the oracle matches
    bit-for-bit with no float tolerance anywhere — which is the point:
    quantized pipelines are reproducible across engines in a way raw-float
    cosine never is. Label-blocked join bounds the pair space (the IVF-
    bucket stand-in); the query side broadcasts.
    """
    emb = load(spark, sf_dir, "embeddings")
    q8 = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.greatest(
                F.least(F.floor(x.cast("double") * 127 + 0.5), F.lit(127).cast("long")),
                F.lit(-127).cast("long"),
            ),
        ).alias("qv"),
    )
    q = q8.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "label", F.col("qv").alias("qa")
    )
    c = q8.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), "label", F.col("qv").alias("qb")
    )
    pairs = q.join(c, "label").select(
        "qid", "cand_id", dot_expr("qa", "qb").cast("long").alias("qdot")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("qdot"), "cand_id")
    return (
        pairs.select("qid", "cand_id", "qdot", F.row_number().over(w).alias("rank"))
        .filter(F.col("rank") <= 3)
    )


# --- q_sim_centroid ---------------------------------------------------------

_CENTROID_ORACLE = """
WITH e AS (
  SELECT label, i, CAST(embedding[i] AS DOUBLE) AS v
  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
)
SELECT label,
       i AS dim,
       COUNT(*) AS n_vecs,
       CAST(SUM(CAST(v AS DECIMAL(18,7))) AS DOUBLE) / COUNT(*) AS centroid_v
FROM e
GROUP BY label, i
"""


@register("q_sim_centroid", oracle=_CENTROID_ORACLE)
def q_sim_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids (the M-step of distributed k-means, and
    the class-prototype build of retrieval/routing systems): mean vector per
    label, emitted as (label, dim, centroid) rows.

    Spark-first: posexplode the vector ONCE and hash-aggregate on
    (label, dim) — map-side partial sums shrink the shuffle to
    n_labels × n_dims rows per task regardless of input size, exactly how
    vector averaging should scale to 100 TB (vs. collecting vectors or an
    interpreted HOF zip-fold over a grouped list, which buffers whole groups).
    Float parity: float32 → DOUBLE is exact; the decimal-cast sum makes the
    reduction order-independent; one double division at the end.
    """
    emb = load(spark, sf_dir, "embeddings")
    e = emb.select("label", F.posexplode("embedding").alias("pos", "v"))
    return e.groupBy("label", (F.col("pos") + 1).alias("dim")).agg(
        F.count(F.lit(1)).alias("n_vecs"),
        (F.sum(F.col("v").cast("double").cast("decimal(18,7)")).cast("double")
         / F.count(F.lit(1))).alias("centroid_v"),
    )


# --- q_sim_recall -----------------------------------------------------------

_RECALL_ORACLE = """
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), exact_r AS (
  SELECT q.vec_id AS qid, c.vec_id AS cand_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY FLOOR(list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm)
                          * 10000 + 0.5) / 10000 DESC, c.vec_id
         ) AS rn
  FROM e q JOIN e c ON c.vec_id >= 10
  WHERE q.vec_id < 10
), exact3 AS (
  SELECT qid, cand_id FROM exact_r WHERE rn <= 3
), q8 AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(GREATEST(LEAST(floor(CAST(x AS DOUBLE) * 127 + 0.5), 127), -127)
                     AS DOUBLE)) AS qv
  FROM embeddings
), quant_r AS (
  SELECT q.vec_id AS qid, c.vec_id AS cand_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY CAST(list_dot_product(q.qv, c.qv) AS BIGINT) DESC, c.vec_id
         ) AS rn
  FROM q8 q JOIN q8 c ON q.label = c.label AND c.vec_id >= 10
  WHERE q.vec_id < 10
), quant3 AS (
  SELECT qid, cand_id FROM quant_r WHERE rn <= 3
), hits AS (
  SELECT a.qid FROM quant3 a JOIN exact3 b
    ON a.qid = b.qid AND a.cand_id = b.cand_id
)
SELECT (SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) FROM exact3) AS n_queries,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
       FLOOR(CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
             / (3 * (SELECT COUNT(DISTINCT qid) FROM exact3))
             * 10000 + 0.5) / 10000 AS recall_r4
"""


@register("q_sim_recall", oracle=_RECALL_ORACLE)
def q_sim_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation: recall@3 of the int8-quantized,
    label-blocked retriever (q_sim_quantized) against exact full-precision
    cosine top-3 over ALL candidates — the evaluation harness every ANN
    deployment runs before trading accuracy for speed. Measures BOTH loss
    sources at once: quantization error and blocking misses.

    Plan: two top-3 pipelines (brute-force cosine with the rounded-rank
    determinism convention; integer-dot quantized with label blocking),
    an equi-join on (query, candidate) to count agreements, and one exact
    integer division for the mean — bit-exact, no tolerance anywhere.
    """
    e = shared_normed_embeddings(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb"), F.col("nrm").alias("qnrm")
    )
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), F.col("emb").alias("cemb"), F.col("nrm").alias("cnrm")
    )
    cos_r = F.floor(
        dot_expr("qemb", "cemb") / (F.col("qnrm") * F.col("cnrm")) * 10000 + F.lit(0.5)
    ) / 10000
    w_exact = Window.partitionBy("qid").orderBy(F.col("cos_r").desc(), "cand_id")
    exact3 = (
        F.broadcast(q)
        .crossJoin(c)
        .select("qid", "cand_id", cos_r.alias("cos_r"))
        .withColumn("rn", F.row_number().over(w_exact))
        .filter(F.col("rn") <= 3)
        .select("qid", "cand_id")
    )
    q8 = e.select(
        "vec_id",
        "label",
        F.transform(
            "emb",
            lambda x: F.greatest(
                F.least(F.floor(x * 127 + 0.5), F.lit(127).cast("long")),
                F.lit(-127).cast("long"),
            ),
        ).alias("qv"),
    )
    qq = q8.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "label", F.col("qv").alias("qa")
    )
    qc = q8.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), "label", F.col("qv").alias("qb")
    )
    w_quant = Window.partitionBy("qid").orderBy(F.desc("qdot"), "cand_id")
    quant3 = (
        F.broadcast(qq)
        .join(qc, "label")
        .select("qid", "cand_id", dot_expr("qa", "qb").cast("long").alias("qdot"))
        .withColumn("rn", F.row_number().over(w_quant))
        .filter(F.col("rn") <= 3)
        .select("qid", "cand_id")
    )
    hits = quant3.join(exact3, ["qid", "cand_id"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hits")
    )
    nq = exact3.agg(F.countDistinct("qid").cast("bigint").alias("n_queries"))
    return (
        nq.crossJoin(F.broadcast(hits))
        .select(
            "n_queries",
            "n_hits",
            (
                F.floor(
                    F.col("n_hits").cast("double")
                    / (3 * F.col("n_queries"))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("recall_r4"),
        )
    )


# --- q_sim_mips (maximum inner product search + augmentation certificate) ----

_MIPS_K = 3

_MIPS_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm FROM e WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, emb AS cemb FROM e WHERE vec_id >= 10
), m AS (
  SELECT MAX(nrm) AS big_m FROM e WHERE vec_id >= 10
), scored AS (
  SELECT query_id, neighbor_id,
         list_dot_product(qemb, cemb) AS ip,
         list_dot_product(qemb, cemb) / (qnrm * m.big_m) AS aug_cos
  FROM q CROSS JOIN c CROSS JOIN m
), ranked AS (
  SELECT query_id, neighbor_id, ip, aug_cos,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY ip DESC, neighbor_id) AS mips_rank,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY aug_cos DESC, neighbor_id) AS aug_rank
  FROM scored
)
SELECT query_id, neighbor_id,
       FLOOR(ip * 10000 + 0.5) / 10000 AS ip_r4,
       FLOOR(aug_cos * 10000 + 0.5) / 10000 AS aug_cos_r4,
       CAST(mips_rank AS BIGINT) AS mips_rank,
       mips_rank = aug_rank AS ranks_agree
FROM ranked WHERE mips_rank <= {_MIPS_K}
"""


@register("q_sim_mips", oracle=_MIPS_ORACLE)
def q_sim_mips(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum Inner Product Search (MIPS) top-{_MIPS_K} with the
    norm-augmentation REDUCTION certificate (Shrivastava & Li): appending
    √(M²−‖x‖²) to each base vector (M = max base norm) turns inner-product
    ranking into cosine ranking — the trick that lets cosine-only ANN
    indexes (LSH buckets, IVF lists: q_sim_ann_lsh / q_sim_ivf) serve
    recommendation-style MIPS queries. The output carries BOTH ranks per
    candidate and `ranks_agree`, hash-proving the reduction row by row:
    aug_cos = ip / (‖q‖·M) is a strictly monotone per-query transform of
    ip, so the orders must coincide exactly.

    Parity: both scores are the same left-to-right dot fold both engines
    share; RANKING uses the raw doubles (bit-identical, ties broken by id)
    and only the reported scores are r4-snapped. M is one exact double MAX.

    Scale shape: the query side broadcasts over the base scan exactly like
    q_sim_cosine_topk (the exact arm is the small-side verification
    harness); at index scale the same reduction feeds the bucketed ANN
    paths, which is the point of certifying it.
    """
    e = shared_normed_embeddings(spark, sf_dir).select("vec_id", "emb", "nrm")
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"), F.col("emb").alias("cemb")
    )
    m = e.filter(F.col("vec_id") >= 10).agg(F.max("nrm").alias("big_m"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(m))
        .select(
            "query_id",
            "neighbor_id",
            dot_expr("qemb", "cemb").alias("ip"),
            (dot_expr("qemb", "cemb") / (F.col("qnrm") * F.col("big_m"))).alias(
                "aug_cos"
            ),
        )
    )
    w_mips = Window.partitionBy("query_id").orderBy(
        F.col("ip").desc(), F.col("neighbor_id")
    )
    w_aug = Window.partitionBy("query_id").orderBy(
        F.col("aug_cos").desc(), F.col("neighbor_id")
    )
    ranked = scored.select(
        "query_id",
        "neighbor_id",
        "ip",
        "aug_cos",
        F.row_number().over(w_mips).alias("mips_rank"),
        F.row_number().over(w_aug).alias("aug_rank"),
    )
    return ranked.filter(F.col("mips_rank") <= _MIPS_K).select(
        "query_id",
        "neighbor_id",
        (F.floor(F.col("ip") * 10000 + F.lit(0.5)) / 10000).alias("ip_r4"),
        (F.floor(F.col("aug_cos") * 10000 + F.lit(0.5)) / 10000).alias("aug_cos_r4"),
        F.col("mips_rank").cast("bigint").alias("mips_rank"),
        (F.col("mips_rank") == F.col("aug_rank")).alias("ranks_agree"),
    )


# --- q_sim_rerank (two-stage retrieval funnel certificate) -------------------

def _rerank_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), bucketed AS (
  SELECT vec_id, emb, nrm, ({_bucket_sql('emb')}) AS bucket FROM e
), q AS (
  SELECT vec_id AS qid, emb AS qemb, nrm AS qnrm, bucket FROM bucketed
  WHERE vec_id < 10
), c AS (
  SELECT vec_id AS cand_id, emb AS cemb, nrm AS cnrm, bucket FROM bucketed
  WHERE vec_id >= 10
), cand AS (
  SELECT qid, cand_id, qemb, qnrm, cemb, cnrm FROM q JOIN c USING (bucket)
), rerank AS (
  SELECT qid, cand_id,
         ROW_NUMBER() OVER (
           PARTITION BY qid
           ORDER BY FLOOR(list_dot_product(qemb, cemb) / (qnrm * cnrm)
                          * 10000 + 0.5) / 10000 DESC, cand_id
         ) AS rn
  FROM cand
), stage2 AS (
  SELECT qid, cand_id FROM rerank WHERE rn <= 3
), exact_r AS (
  SELECT q.vec_id AS qid, c.vec_id AS cand_id,
         ROW_NUMBER() OVER (
           PARTITION BY q.vec_id
           ORDER BY FLOOR(list_dot_product(q.emb, c.emb) / (q.nrm * c.nrm)
                          * 10000 + 0.5) / 10000 DESC, c.vec_id
         ) AS rn
  FROM e q JOIN e c ON c.vec_id >= 10
  WHERE q.vec_id < 10
), exact3 AS (
  SELECT qid, cand_id FROM exact_r WHERE rn <= 3
), hits AS (
  SELECT s.qid FROM stage2 s JOIN exact3 x
    ON s.qid = x.qid AND s.cand_id = x.cand_id
), n_corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM c
)
SELECT (SELECT CAST(COUNT(DISTINCT qid) AS BIGINT) FROM exact3) AS n_queries,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_candidates,
       (SELECT nc FROM n_corpus) AS n_corpus,
       FLOOR(CAST((SELECT COUNT(*) FROM cand) AS DOUBLE)
             / ((SELECT COUNT(DISTINCT qid) FROM exact3) * (SELECT nc FROM n_corpus))
             * 10000 + 0.5) / 10000 AS scan_frac_r4,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM hits) AS n_hits,
       FLOOR(CAST((SELECT COUNT(*) FROM hits) AS DOUBLE)
             / (3 * (SELECT COUNT(DISTINCT qid) FROM exact3))
             * 10000 + 0.5) / 10000 AS recall_r4
"""


@register("q_sim_rerank", oracle=_rerank_oracle())
def q_sim_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval funnel certificate: stage 1 generates candidates
    by LSH bucket equality (cheap integer compare, the 100 TB filter),
    stage 2 re-ranks ONLY those candidates with exact full-precision cosine
    — and the certificate reports BOTH sides of the trade on one row:
    scan_frac (candidates scored / full scan) and recall@3 vs brute force.
    This is the evaluation every retrieval deployment publishes: "we score
    X% of the corpus and keep Y% of the true top-k".

    Plan: the bucket equi-join replaces the cross join for candidate
    generation; the rerank window runs per query over its candidate set
    only; the brute-force arm exists purely as the certificate's ground
    truth (at 100 TB it runs on a sampled query set, same shape). All
    ranks use the rounded-cosine determinism convention; counts are exact
    integers."""
    e = shared_normed_embeddings(spark, sf_dir).select(
        "vec_id", "emb", "nrm", _bucket_expr("emb").alias("bucket")
    ).localCheckpoint(eager=False)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
        "bucket",
    )
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
        "bucket",
    )
    cand = F.broadcast(q).join(c, "bucket").localCheckpoint(eager=False)
    cos_r = (
        F.floor(
            dot_expr("qemb", "cemb") / (F.col("qnrm") * F.col("cnrm")) * 10000
            + F.lit(0.5)
        )
        / 10000
    )
    w2 = Window.partitionBy("qid").orderBy(F.col("cos_r").desc(), "cand_id")
    stage2 = (
        cand.select("qid", "cand_id", cos_r.alias("cos_r"))
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= 3)
        .select("qid", "cand_id")
    )
    qx = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("emb").alias("qemb"), F.col("nrm").alias("qnrm")
    )
    cx = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"), F.col("emb").alias("cemb"), F.col("nrm").alias("cnrm")
    )
    # exact3 feeds BOTH n_queries and the hits join; the lazy checkpoint on
    # the ≤ 3·|queries|-row result evaluates the brute-force arm (full
    # corpus crossJoin + window) ONCE instead of once per consumer.
    exact3 = (
        F.broadcast(qx)
        .crossJoin(cx)
        .select("qid", "cand_id", cos_r.alias("cos_r"))
        .withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") <= 3)
        .select("qid", "cand_id")
        .localCheckpoint(eager=False)
    )
    n_q = exact3.agg(F.count_distinct("qid").cast("bigint").alias("n_queries"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    n_corp = cx.agg(F.count(F.lit(1)).cast("bigint").alias("n_corpus"))
    n_hit = (
        stage2.join(exact3, ["qid", "cand_id"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    return (
        n_q.crossJoin(n_cand)
        .crossJoin(n_corp)
        .crossJoin(n_hit)
        .select(
            "n_queries",
            "n_candidates",
            "n_corpus",
            F.expr(
                "FLOOR(CAST(n_candidates AS DOUBLE) / (n_queries * n_corpus)"
                " * 10000 + 0.5) / 10000"
            ).alias("scan_frac_r4"),
            "n_hits",
            F.expr(
                "FLOOR(CAST(n_hits AS DOUBLE) / (3 * n_queries) * 10000 + 0.5)"
                " / 10000"
            ).alias("recall_r4"),
        )
    )


# --- q_sim_norm_stats --------------------------------------------------------

_NORM_STATS_ORACLE = """
WITH e AS (
  SELECT label,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       FLOOR(MIN(nrm) * 10000 + 0.5) / 10000 AS min_norm_r4,
       FLOOR(MAX(nrm) * 10000 + 0.5) / 10000 AS max_norm_r4,
       FLOOR(CAST(SUM(CAST(nrm AS DECIMAL(18,7))) AS DOUBLE) / COUNT(*)
             * 10000 + 0.5) / 10000 AS mean_norm_r4,
       CAST(SUM(CASE WHEN nrm < 0.5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_degenerate
FROM e
GROUP BY label
ORDER BY label
"""


@register("q_sim_norm_stats", oracle=_NORM_STATS_ORACLE)
def q_sim_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-norm health profile per label: min/max/mean L2 norm and a
    degenerate-vector count (norm < 0.5 — collapsed or zero embeddings) —
    the sanity table every vector-index build prints first, because cosine
    retrieval silently misbehaves on near-zero vectors and norm drift
    between batches signals an encoder version mix-up.

    Parity engineering: the norm is one sqrt of the exact-order dot
    product (identical fold order both engines — the module's shared
    convention); min/max are order-free; the mean crosses partitions as
    exact decimals of identical doubles; the degenerate cut compares
    identical doubles against a literal.

    Scale shape: one map-side-combined aggregate over the vectors — the
    norm never leaves the row, the payload column dies at the projection."""
    e = load(spark, sf_dir, "embeddings").select(
        "label", as_double("embedding").alias("emb")
    )
    nrm = F.sqrt(dot_expr("emb", "emb"))
    return (
        e.select("label", nrm.alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            (F.floor(F.min("nrm") * 10000 + F.lit(0.5)) / 10000).alias("min_norm_r4"),
            (F.floor(F.max("nrm") * 10000 + F.lit(0.5)) / 10000).alias("max_norm_r4"),
            (
                F.floor(
                    F.sum(F.col("nrm").cast("decimal(18,7)")).cast("double")
                    / F.count(F.lit(1))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("mean_norm_r4"),
            F.sum(F.when(F.col("nrm") < 0.5, 1).otherwise(0))
            .cast("bigint")
            .alias("n_degenerate"),
        )
        .orderBy("label")
    )


# --- q_embed_pca_power (top principal component: one-pass Gram + local solve) -

_PCA_ITERS = 3  # power-iteration rounds (convergence gauge reported)


def _pca_oracle() -> str:
    """DuckDB mirror of the one-pass augmented-Gram power iteration:
    identical quantized-bigint cell sums over the (dim+1)-augmented long
    form (the constant-1 column carries the per-dimension sums and n in
    the same aggregate), identical double centering algebra, identical
    quantized iteration rounds."""
    dim = EMBEDDING_DIM
    dimp = dim + 1
    ctes = [
        f"""long0 AS (
  SELECT vec_id, j,
         CASE WHEN j = {dimp} THEN CAST(1.0 AS DOUBLE)
              ELSE CAST(embedding[j] AS DOUBLE) END AS x
  FROM embeddings, (SELECT unnest(range(1, {dimp + 1})) AS j) dims
)""",
        """sq AS (
  SELECT a.j AS j, b.j AS k,
         SUM(CAST(FLOOR(a.x * b.x * 1e7 + 0.5) AS BIGINT)) AS sq
  FROM long0 a JOIN long0 b USING (vec_id) GROUP BY a.j, b.j
)""",
        "a_mat AS (SELECT j, k, CAST(sq AS DOUBLE) / 1e7 AS a FROM sq)",
        f"nn AS (SELECT a AS n FROM a_mat WHERE j = {dimp} AND k = {dimp})",
        f"s AS (SELECT j, a AS s FROM a_mat WHERE k = {dimp} AND j <= {dim})",
        f"""gram AS (
  SELECT a_mat.j, a_mat.k, a_mat.a - (sj.s * sk.s) / nn.n AS g
  FROM a_mat JOIN s sj ON a_mat.j = sj.j JOIN s sk ON a_mat.k = sk.j
       CROSS JOIN nn
  WHERE a_mat.j <= {dim} AND a_mat.k <= {dim}
)""",
        f"v0 AS (SELECT unnest(range(1, {dim + 1})) AS j, CAST(1 AS DOUBLE) AS v)",
    ]
    prev = "v0"
    for it in range(1, _PCA_ITERS + 1):
        ctes.append(f"""u{it} AS (
  SELECT gram.j,
         CAST(SUM(CAST(FLOOR(gram.g * {prev}.v * 1e7 + 0.5) AS BIGINT))
              AS DOUBLE) / 1e7 AS u
  FROM gram JOIN {prev} ON gram.k = {prev}.j GROUP BY gram.j
)""")
        ctes.append(f"m{it} AS (SELECT MAX(ABS(u)) AS m FROM u{it})")
        ctes.append(
            f"v{it} AS (SELECT j, u / m AS v FROM u{it}, m{it})"
        )
        prev = f"v{it}"
    last = _PCA_ITERS
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT v{last}.j,
       FLOOR(v{last}.v * 10000 + 0.5) / 10000 AS loading_r4,
       FLOOR(m{last}.m / CAST({dim} AS DOUBLE) * 10000 + 0.5) / 10000
         AS rayleigh_scale_r4
FROM v{last}, m{last}"""
    )


@register("q_embed_pca_power", oracle=_pca_oracle())
def q_embed_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP PRINCIPAL COMPONENT of the embedding cloud by power iteration —
    the linear-algebra workhorse under PCA whitening, spectral outlier
    screens, and low-rank drift monitors for embedding spaces. v ←
    XᵀX v / ‖·‖∞ is iterated ``_PCA_ITERS`` times from an all-ones start
    over the COLUMN-CENTERED data; output is one row per dimension with
    the max-norm loading and the final Rayleigh growth scale (÷dim —
    tracks |λ₁| as the iteration converges).

    Spark shape (the round-4 verdict's Gram rewrite, taken to its one-job
    form): X is read ONCE. Each vector is augmented with a constant 1.0
    (dim+1 = 65 entries), a double posexplode emits the (dim+1)² outer-
    product terms straight into a map-side-combined hash aggregate, and
    the augmented Gram lands as a 4225-cell relation after ONE pass and
    ONE tiny exchange — the constant column makes its last row/column the
    per-dimension sums and cell (65,65) the row count, so centering needs
    no second pass (G = A − s sᵀ/n). The whole eigensolve then happens in
    a single applyInPandas group over those 4225 cells: the distributed
    part of distributed PCA is the Gram accumulation; once the problem is
    dim², it is a single-node solve by construction (the classic
    reduce-to-master shape of Lanczos/power methods — at 100 TB the
    relation is still 4225 rows). No checkpoints, no broadcasts, no
    per-round stages: the plan is scan → explode² → partial agg →
    exchange(4225) → pandas solve. For dim ≫ 10³ where the dim² explode
    per row is too wide, the same cells would come from a per-partition
    numpy outer-product accumulation (mapInPandas), same downstream.

    Parity: every cross-row sum is an exact scaled-bigint quantization —
    SUM(CAST(FLOOR(x·y·1e7 + 0.5) AS BIGINT)) — bit-identical IEEE ops on
    both engines and exact, order-free int64 addition (NOT a per-term DEC
    cast: double→BigDecimal measured ~17× slower, 13.0s vs 0.75s, on the
    8.2M terms at sf0.1). The pandas solve replays the identical
    quantized arithmetic in numpy (float64 mult/floor, int64 row sums),
    and the oracle replays it in unrolled SQL CTEs — any drift across 64
    loadings × 3 rounds fails the hash. Range: |x·y| ≲ 1 → ≲1e7 scaled
    per term; exact to ~9e11 rows per cell before int64 overflow (coarsen
    the quantum beyond that).
    """
    import numpy as np
    import pandas as pd

    dim = EMBEDDING_DIM
    dimp = dim + 1
    emb = load(spark, sf_dir, "embeddings")
    x65 = emb.select(
        F.concat(
            F.col("embedding"), F.array(F.lit(1.0).cast("float"))
        ).alias("x_arr")
    )
    sq = (
        x65.select("x_arr", F.posexplode("x_arr").alias("p", "xj"))
        .select("xj", F.posexplode("x_arr").alias("q", "xk"), "p")
        .groupBy((F.col("p") + 1).alias("j"), (F.col("q") + 1).alias("k"))
        .agg(
            F.sum(
                F.floor(
                    F.col("xj").cast("double")
                    * F.col("xk").cast("double")
                    * F.lit(1e7)
                    + F.lit(0.5)
                ).cast("bigint")
            ).alias("sq")
        )
    )

    def solve(pdf: pd.DataFrame) -> pd.DataFrame:
        a_mat = np.zeros((dimp, dimp))
        a_mat[pdf["j"].to_numpy() - 1, pdf["k"].to_numpy() - 1] = (
            pdf["sq"].to_numpy().astype(np.float64) / 1e7
        )
        n = a_mat[dim, dim]
        s = a_mat[:dim, dim]
        gram = a_mat[:dim, :dim] - np.outer(s, s) / n
        v = np.ones(dim)
        m = 0.0
        for _ in range(_PCA_ITERS):
            uq = np.floor(gram * v * 1e7 + 0.5).astype(np.int64).sum(axis=1)
            u = uq.astype(np.float64) / 1e7
            m = np.abs(u).max()
            v = u / m
        return pd.DataFrame(
            {
                "j": np.arange(1, dim + 1, dtype=np.int64),
                "loading_r4": np.floor(v * 10000.0 + 0.5) / 10000.0,
                "rayleigh_scale_r4": np.full(
                    dim, np.floor(m / float(dim) * 10000.0 + 0.5) / 10000.0
                ),
            }
        )

    return sq.groupBy(F.lit(1).alias("_g")).applyInPandas(
        solve, schema="j long, loading_r4 double, rayleigh_scale_r4 double"
    )


# --- q_sim_pq (product-quantization ADC ranking) ------------------------------

#: PQ geometry: 64 dims → 8 subspaces × 8 dims, 4 codewords per subspace.
#: The codebook is training-free and deterministic — the int8 subvectors of
#: vec_id 0..3 (at scale: per-subspace k-means once at ingest; the query
#: plan below is identical either way, only the codebook relation changes).
_PQ_SUB_DIMS = 8
_PQ_CODES = 4

_PQ_ORACLE = """
WITH q8 AS (
  SELECT vec_id, i,
         CAST(GREATEST(LEAST(floor(CAST(embedding[i] AS DOUBLE) * 127 + 0.5),
                             127), -127) AS BIGINT) AS qv
  FROM embeddings, LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i)
), cb AS (
  SELECT vec_id AS c, i, qv AS cbv FROM q8 WHERE vec_id < 4
), d AS (
  SELECT v.vec_id, (v.i - 1) // 8 AS s, cb.c,
         CAST(SUM((v.qv - cb.cbv) * (v.qv - cb.cbv)) AS BIGINT) AS ssd
  FROM q8 v JOIN cb ON v.i = cb.i
  GROUP BY v.vec_id, (v.i - 1) // 8, cb.c
), codes AS (
  SELECT vec_id, s, c AS code FROM (
    SELECT vec_id, s, c,
           row_number() OVER (PARTITION BY vec_id, s ORDER BY ssd, c) AS rn
    FROM d WHERE vec_id >= 10) t WHERE rn = 1
), adc AS (
  SELECT lut.vec_id AS qid, codes.vec_id AS cand_id,
         CAST(SUM(lut.ssd) AS BIGINT) AS adc_dist
  FROM codes JOIN d lut ON lut.s = codes.s AND lut.c = codes.code
  WHERE lut.vec_id < 10
  GROUP BY lut.vec_id, codes.vec_id
)
SELECT qid, cand_id, adc_dist, CAST(rn AS INT) AS rank
FROM (
  SELECT qid, cand_id, adc_dist,
         row_number() OVER (PARTITION BY qid ORDER BY adc_dist, cand_id) AS rn
  FROM adc) r
WHERE rn <= 3
"""


@register("q_sim_pq", oracle=_PQ_ORACLE)
def q_sim_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCT-QUANTIZATION ANN — the memory rung below int8
    (q_sim_quantized): each vector is stored as 8 ONE-BYTE codes (one per
    8-dim subspace, nearest of 4 codewords by int8 L2, tie → lowest code),
    a 32× compression of the float32 vector, and queries rank candidates
    by the classic ADC scan — the per-query (subspace × codeword) distance
    LUT is built once (320 tiny rows), then candidate distance is just a
    SUM of LUT lookups over the code columns. This is the IVF-PQ
    architecture every billion-vector store runs: at 100 TB the codes
    relation is the only big scan (1 byte/subspace/vector), the LUT is a
    broadcast, and the plan below — explode → one (vec,subspace,codeword)
    aggregate → argmin codes ⋈ broadcast LUT — is exactly the distributed
    form.

    Everything is integer-exact (int8 deltas squared, summed far below
    2^53; round-half-up quantization identical in both engines), so the
    oracle matches bit-for-bit — reproducibility across engines is the
    same property q_sim_quantized pins, extended to the quantizer's
    ASSIGNMENT step. Ranking quality vs exact cosine is measured by the
    q_sim_recall pattern, not asserted here.
    """
    emb = load(spark, sf_dir, "embeddings")
    lf = emb.select(
        "vec_id", F.posexplode("embedding").alias("i0", "x")
    ).select(
        "vec_id",
        "i0",
        F.greatest(
            F.least(
                F.floor(F.col("x").cast("double") * 127 + F.lit(0.5)), F.lit(127.0)
            ),
            F.lit(-127.0),
        )
        .cast("bigint")
        .alias("qv"),
    )
    cb = lf.filter(F.col("vec_id") < _PQ_CODES).select(
        F.col("vec_id").alias("c"), F.col("i0").alias("cb_i0"), F.col("qv").alias("cbv")
    )
    delta = F.col("qv") - F.col("cbv")
    d = (
        lf.join(F.broadcast(cb), lf.i0 == cb.cb_i0)
        .groupBy(
            "vec_id",
            (F.col("i0") / _PQ_SUB_DIMS).cast("bigint").alias("s"),
            "c",
        )
        .agg(F.sum(delta * delta).cast("bigint").alias("ssd"))
        .localCheckpoint(eager=False)
    )
    w = Window.partitionBy("vec_id", "s").orderBy("ssd", "c")
    codes = (
        d.filter(F.col("vec_id") >= 10)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("vec_id").alias("cand_id"), F.col("s").alias("cs"), F.col("c").alias("code"))
    )
    lut = d.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), "s", "c", "ssd"
    )
    adc = (
        codes.join(
            F.broadcast(lut),
            (F.col("cs") == F.col("s")) & (F.col("code") == F.col("c")),
        )
        .groupBy("qid", "cand_id")
        .agg(F.sum("ssd").cast("bigint").alias("adc_dist"))
    )
    wr = Window.partitionBy("qid").orderBy("adc_dist", "cand_id")
    return (
        adc.withColumn("rank", F.row_number().over(wr).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("qid", "cand_id", "adc_dist", "rank")
    )


# --- q_sim_maxsim -----------------------------------------------------------

_MAXSIM_CHUNK = 8192  # doc-token columns per BLAS slab (bounds task memory)

_MAXSIM_ORACLE = """
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm
  FROM embeddings
), q AS (
  SELECT vec_id AS qid, emb AS qemb, nrm AS qnrm FROM e WHERE label = 0
), c AS (
  SELECT label, emb AS cemb, nrm AS cnrm FROM e WHERE label > 0
), best AS (
  SELECT q.qid, c.label,
         MAX(FLOOR(list_dot_product(q.qemb, c.cemb) / (q.qnrm * c.cnrm)
                   * 10000 + 0.5) / 10000) AS best_cos
  FROM q CROSS JOIN c
  GROUP BY q.qid, c.label
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_query_tokens,
       CAST(SUM(CAST(best_cos AS DECIMAL(18,7))) AS DOUBLE) AS maxsim
FROM best GROUP BY label
"""


@register("q_sim_maxsim", oracle=_MAXSIM_ORACLE)
def q_sim_maxsim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction MaxSim scoring: treat the label-0
    vector group as the multi-vector QUERY (one embedding per query token)
    and every other label group as a multi-vector DOCUMENT; score(doc) =
    Σ_{query token} max_{doc token} cos(q, d) — the retrieval scorer modern
    RAG rankers run after single-vector ANN recall, here as a first-class
    relational operator (max-aggregate over the blocked pair table, then an
    exact-decimal sum of 4-decimal-rounded maxes — rank-stable across
    engines).

    Scale shape: the query group broadcasts (multi-vector queries are
    token-count sized); the pair work is query_tokens x doc_tokens per
    candidate document and stays BEHIND the candidate filter — at 100 TB
    the candidate set comes from an ANN prefilter (q_sim_ann_lsh /
    q_sim_rerank), so MaxSim cost is per-candidate, never corpus-wide.
    The scoring stage is a cogrouped Arrow block per document label: ONE
    BLAS matmul scores query_tokens x doc_tokens and emits only the
    per-query-token max (q_sim_knn_graph's execution pattern), so Python
    ships rows x dim floats per block and never materializes the pair
    space; the query side is replicated once per label (token-count x
    n_docs rows — broadcast-sized). The 4-decimal snap happens BEFORE the
    max on the shared-relation norms, so the only cross-engine delta is
    dot-product summation order, which the snap absorbs (the
    q_sim_threshold_pairs / knn_graph parity argument).
    """
    import numpy as np
    import pandas as pd

    e = shared_normed_embeddings(spark, sf_dir)
    q = e.filter(F.col("label") == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    c = e.filter(F.col("label") > 0).select(
        "label", F.col("emb").alias("cemb"), F.col("nrm").alias("cnrm")
    )
    # Replicate the (tiny) query token set to every doc label so the
    # cogroup sees (doc block, full query block) per key — declarative
    # broadcast, no driver collect.
    # (the no-op cast mints a fresh attribute so the c-vs-qrep cogroup is
    # not flagged as an ambiguous self-join)
    qrep = (
        c.select(F.col("label").cast("int").alias("label"))
        .distinct()
        .crossJoin(F.broadcast(q))
    )

    def block_maxsim(cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        # CHUNKED doc-token axis with a running per-query max (round-12
        # sf10 rehearsal fix): the one-shot mq @ mc.T grid was
        # |query_tokens| × |doc_tokens| — ~3 GB/task at sf10 (plus the
        # outer-denominator and rounded copies). max is associative, so
        # doc tokens stream through _MAXSIM_CHUNK-column slabs and the
        # grid never exceeds |query_tokens| × CHUNK cells. EXACT: the snap
        # happens per slab BEFORE the max, identical to snapping the full
        # grid then maxing.
        if len(cdf) == 0 or len(qdf) == 0:
            return pd.DataFrame({"qid": [], "label": [], "best_cos": []}).astype(
                {"qid": "int64", "label": "int32", "best_cos": "float64"}
            )
        mq = np.stack(qdf["qemb"].to_numpy()).astype(np.float64)
        best = _running_best_cos(
            mq,
            qdf["qnrm"].to_numpy(),
            np.stack(cdf["cemb"].to_numpy()).astype(np.float64),
            cdf["cnrm"].to_numpy(),
            _MAXSIM_CHUNK,
        )
        return pd.DataFrame(
            {
                "qid": qdf["qid"].to_numpy(),
                "label": np.int32(cdf["label"].iloc[0]),
                "best_cos": best,
            }
        )

    best = (
        c.groupBy("label")
        .cogroup(qrep.groupBy("label"))
        .applyInPandas(block_maxsim, schema="qid long, label int, best_cos double")
    )
    return best.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_query_tokens"),
        F.sum(F.col("best_cos").cast(DEC)).cast("double").alias("maxsim"),
    )


# --- q_sim_triplet_eval -----------------------------------------------------

_TRIPLET_MARGIN = 0.05
_TRIPLET_CHUNK = 8192  # candidate columns per BLAS slab (bounds task memory)

_TRIPLET_ORACLE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS emb,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm,
         ('0x' || substr(sha256(CAST(vec_id AS VARCHAR) || '|neg'), 1, 8))
           ::BIGINT % 5 AS hsel
  FROM embeddings
), anchors AS (
  SELECT vec_id AS aid, label AS alabel, emb AS aemb, nrm AS anrm
  FROM e WHERE vec_id % 7 = 0
), pos AS (
  SELECT a.aid, a.alabel,
         MAX(FLOOR(list_dot_product(a.aemb, p.emb) / (a.anrm * p.nrm)
                   * 10000 + 0.5) / 10000) AS best_pos
  FROM anchors a JOIN e p
    ON p.label = a.alabel AND p.vec_id <> a.aid
  GROUP BY a.aid, a.alabel
), neg AS (
  SELECT a.aid,
         MAX(FLOOR(list_dot_product(a.aemb, n.emb) / (a.anrm * n.nrm)
                   * 10000 + 0.5) / 10000) AS best_neg
  FROM anchors a JOIN e n
    ON n.label <> a.alabel AND n.hsel = 0
  GROUP BY a.aid
)
SELECT p.alabel AS label,
       CAST(COUNT(*) AS BIGINT) AS n_anchors,
       CAST(SUM(CASE WHEN n.best_neg > p.best_pos - {_TRIPLET_MARGIN}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       CAST(SUM(CAST(p.best_pos - n.best_neg AS DECIMAL(18,7)))
            AS DOUBLE) AS sum_margin
FROM pos p JOIN neg n USING (aid)
GROUP BY p.alabel
"""


@register("q_sim_triplet_eval", oracle=_TRIPLET_ORACLE)
def q_sim_triplet_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triplet-margin audit of embedding quality — for every hash-chosen
    anchor: does its best same-label neighbor beat its best
    different-label neighbor by the margin? The per-label violation count
    + aggregate margin mass is the metric-learning eval that embedding
    training pipelines run per checkpoint (a rising violation share means
    the space is collapsing). Negatives are a DETERMINISTIC 1-in-5 hash
    sample (salted vec_id hash), the scale answer to 'negatives are the
    whole corpus': sampled-negative evaluation, reproducible across
    engines/runs/layouts.

    Parity: cosines are 4-decimal-rounded before MAX (rank-stable), the
    margin comparison runs on rounded values with an exactly-representable
    margin (0.05 = same double literal both engines), and margin mass sums
    through the exact-decimal path.

    Scale shape: anchors are a pushed-down key filter; positives score
    label-blocked (bounded by label group size), negatives against the
    broadcast-sized hash sample replicated per anchor-label block — never
    all-pairs. Both scoring stages are cogrouped Arrow blocks: ONE BLAS
    matmul per block emits only the per-anchor max (the q_sim_maxsim /
    knn_graph execution pattern), so Python ships rows x dim floats per
    block and the pair space stays inside BLAS. The 4-decimal snap before
    MAX absorbs the matmul-vs-fold summation-order delta.
    """
    import numpy as np
    import pandas as pd

    e = shared_normed_embeddings(spark, sf_dir)
    e = e.select(
        "vec_id",
        "label",
        "emb",
        "nrm",
        (
            F.conv(
                F.substring(
                    F.sha2(
                        F.concat(F.col("vec_id").cast("string"), F.lit("|neg")), 256
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 5
        ).alias("hsel"),
    ).localCheckpoint(eager=False)
    anchors = e.filter(F.col("vec_id") % 7 == 0).select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("alabel"),
        F.col("emb").alias("aemb"),
        F.col("nrm").alias("anrm"),
    )

    def _chunked_best(adf: pd.DataFrame, bdf: pd.DataFrame, mask_self: bool):
        # running per-anchor max over _TRIPLET_CHUNK-column slabs (round-12
        # sf10 rehearsal fix — the one-shot |anchors|×|block| grid plus its
        # denominator/rounded copies was ~1.4 GB/task at sf10); the shared
        # _running_best_cos helper carries the unit-tested slab/max/self-
        # knockout algebra
        return _running_best_cos(
            np.stack(adf["aemb"].to_numpy()).astype(np.float64),
            adf["anrm"].to_numpy(),
            np.stack(bdf["bemb"].to_numpy()).astype(np.float64),
            bdf["bnrm"].to_numpy(),
            _TRIPLET_CHUNK,
            aids=adf["aid"].to_numpy() if mask_self else None,
            bids=bdf["bid"].to_numpy() if mask_self else None,
        )

    def block_pos(adf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        if len(adf) == 0 or len(bdf) == 0:
            return pd.DataFrame({"aid": [], "alabel": [], "best_pos": []}).astype(
                {"aid": "int64", "alabel": "int32", "best_pos": "float64"}
            )
        return pd.DataFrame(
            {
                "aid": adf["aid"].to_numpy(),
                "alabel": adf["alabel"].to_numpy().astype("int32"),
                "best_pos": _chunked_best(adf, bdf, mask_self=True),
            }
        )

    def block_neg(adf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"aid": [], "best_neg": []}).astype(
            {"aid": "int64", "best_neg": "float64"}
        )
        if len(adf) == 0 or len(bdf) == 0:
            return empty
        bdf = bdf[bdf["blabel"].to_numpy() != int(adf["alabel"].iloc[0])]
        if len(bdf) == 0:
            return empty
        return pd.DataFrame(
            {
                "aid": adf["aid"].to_numpy(),
                "best_neg": _chunked_best(adf, bdf, mask_self=False),
            }
        )

    pos_side = e.select(
        F.col("label").alias("plabel"),
        F.col("vec_id").alias("bid"),
        F.col("emb").alias("bemb"),
        F.col("nrm").alias("bnrm"),
    )
    pos = (
        anchors.groupBy("alabel")
        .cogroup(pos_side.groupBy("plabel"))
        .applyInPandas(block_pos, schema="aid long, alabel int, best_pos double")
    )
    # Negatives: the 1-in-5 hash sample is broadcast-sized; replicate it to
    # every anchor-label block (fresh attribute via no-op cast, see
    # q_sim_maxsim) and drop same-label rows inside the block.
    negc = e.filter(F.col("hsel") == 0).select(
        F.col("label").alias("blabel"),
        F.col("emb").alias("bemb"),
        F.col("nrm").alias("bnrm"),
    )
    negrep = (
        anchors.select(F.col("alabel").cast("int").alias("nkey"))
        .distinct()
        .crossJoin(F.broadcast(negc))
    )
    neg = (
        anchors.groupBy("alabel")
        .cogroup(negrep.groupBy("nkey"))
        .applyInPandas(block_neg, schema="aid long, best_neg double")
    )
    return (
        pos.join(neg, "aid")
        .groupBy(F.col("alabel").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_anchors"),
            F.sum(
                F.when(
                    F.col("best_neg") > F.col("best_pos") - F.lit(_TRIPLET_MARGIN),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_violations"),
            F.sum((F.col("best_pos") - F.col("best_neg")).cast(DEC))
            .cast("double")
            .alias("sum_margin"),
        )
    )


# --- q_sim_knn_graph --------------------------------------------------------

_KNNG_K = 2  # neighbors per node; mutual filter keeps edges both agree on
_KNNG_TILE = 2048  # src rows per scoring task (tiled exact within-bucket kNN)
_KNNG_COLCHUNK = 4096  # cand cols per matmul sub-tile (bounds task memory)


def _knng_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), bucketed AS (
  SELECT vec_id, emb, nrm, ({_bucket_sql('emb')}) AS bucket FROM e
), scored AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         FLOOR(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)
               * 10000 + 0.5) / 10000 AS cos_r
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
), topk AS (
  SELECT src, dst, cos_r,
         ROW_NUMBER() OVER (
           PARTITION BY src ORDER BY cos_r DESC, dst
         ) AS rn
  FROM scored
), directed AS (
  SELECT src, dst, cos_r FROM topk WHERE rn <= {_KNNG_K}
)
SELECT f.src AS a, f.dst AS b, f.cos_r
FROM directed f JOIN directed r ON r.src = f.dst AND r.dst = f.src
WHERE f.src < f.dst
"""


@register("q_sim_knn_graph", oracle=_knng_oracle())
def q_sim_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual k-NN graph over the whole embedding corpus (k=2, LSH-bucketed):
    each vector ranks its within-bucket candidates by rounded cosine, and an
    edge survives only if BOTH endpoints keep it in their top-k — the graph
    SemDeDup-style semantic dedup and density-based curation build first
    (mutual edges ≈ genuine semantic neighborhoods; one-way edges are hub
    artifacts).

    Unlike q_sim_ann_lsh's query-vs-corpus probe, this is corpus×corpus:
    the 16-way sign-random-projection bucketing turns the O(n²) all-pairs
    into per-bucket blocks (candidate volume ÷ 2^planes), and the mutual
    check is a self-join of the k·n directed edge list on the reversed key
    — NOT a second scoring pass. At 100 TB: more planes + multi-probe
    (union of per-probe candidate sets) keeps blocks bounded; the directed
    edge list stays k·n rows, so the mutual join is linear in corpus size.

    Parity: cosine is the fixed-order 64-term dot product (bit-identical
    fold on both engines), snapped to 4 decimals BEFORE ranking, dst
    tie-break — the exact q_sim_ann_lsh ranking contract.
    """
    import numpy as np
    import pandas as pd

    e = shared_normed_embeddings(spark, sf_dir).select(
        "vec_id", "emb", _bucket_expr("emb").alias("bucket")
    )

    # TILED per-bucket scoring (round-12 replan). The former one-task-per-
    # bucket matmul was the purity/cluster family's scale killer: on this
    # corpus only ~16 buckets are occupied (10 tight label cones → sign-LSH
    # cannot split them), so bucket size grows ∝ n, the b×b cosine matrix
    # hit 1.7 GB/task at sf10, per-row argsort cost O(b² log b), and
    # parallelism was stuck at n_buckets (sf1→sf10 wall exponent 1.55 via
    # q_sim_graph_purity). Now each bucket is cut into ~_KNNG_TILE-row SRC
    # tiles; a task scores one src tile against the whole bucket in
    # bounded col sub-tiles with a running top-k, and a final window merge
    # takes the global top-k. EXACT — per-tile winners ∪ merge reproduce
    # the full ranking bit-for-bit (a global winner wins its tile), so the
    # all-pairs oracle is unchanged. Work is still O(Σ b²) dot products —
    # inherent to exact within-bucket kNN — but it is all DGEMM tiles now:
    # per-task memory is ~TILE×COLCHUNK cells (32 MB), selection is
    # argpartition-grade O(b) per row instead of a b-wide sort, and task
    # count scales with n/TILE so a cluster's cores actually engage. The
    # tile replication shuffles n·(b/TILE) rows; at 100 TB TILE rises
    # with executor memory to keep that bounded.
    #
    # Tile ASSIGNMENT is hash-based (guide §2.4 — remove shuffles
    # outright): rtile = xxhash64(vec_id) mod ceil(b/TILE). Which tile a
    # src row lands in is irrelevant to the result — every tile is scored
    # against the WHOLE bucket, so any 1-of-ntiles assignment reproduces
    # the exact ranking after the merge. The former row_number() tiling
    # cost a full Exchange+Sort+Window of the embedding relation just to
    # make tiles contiguous; the hash needs only a per-bucket COUNT
    # (partial-agg'd, |buckets| rows, broadcast back), and tile sizes
    # concentrate at TILE ± a few % (binomial spread), so the per-task
    # memory bound stands.
    sizes = e.groupBy("bucket").agg(
        F.ceil(F.count(F.lit(1)) / _KNNG_TILE).cast("int").alias("ntiles")
    )
    # ONE exploded relation instead of a src-rows ∪ cand-rows union (round
    # 13, guide §2.3 — shuffle fewer bytes): every row replicates to every
    # tile as a candidate, and the row is ADDITIONALLY a source exactly in
    # its own hash tile (is_src = rtile == pmod(xxhash64(vec_id), ntiles)).
    # Same (bucket, rtile) groups, same scoring, identical output — but the
    # embedding relation is scanned once instead of twice, the union node
    # is gone, and the applyInPandas exchange carries n·ntiles rows instead
    # of n·(ntiles+1): with one tile per bucket (every bucket ≤ TILE, the
    # whole sf≤1 range) the heavy emb payload shuffles HALF as many rows —
    # VERDICT r12's "one-tile fast path" without a data-dependent plan
    # switch, and the saving persists at every ntiles.
    rows = e.join(F.broadcast(sizes), "bucket").select(
        "vec_id",
        "emb",
        "bucket",
        F.explode(F.expr("sequence(0, ntiles - 1)")).alias("rtile"),
        (
            F.pmod(F.xxhash64("vec_id"), F.col("ntiles")).cast("int")
            == F.col("rtile")
        ).alias("is_src"),
    )

    def tile_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        cand = pdf.sort_values("vec_id")
        srcp = cand[cand["is_src"]]
        if len(cand) < 2 or srcp.empty:
            return pd.DataFrame({"src": [], "dst": [], "cos_r": []}).astype(
                {"src": "int64", "dst": "int64", "cos_r": "float64"}
            )
        sids = srcp["vec_id"].to_numpy()
        cids = cand["vec_id"].to_numpy()
        sm = np.stack(srcp["emb"].to_numpy()).astype(np.float64)
        cm = np.stack(cand["emb"].to_numpy()).astype(np.float64)
        snrm = np.sqrt(np.einsum("ij,ij->i", sm, sm))
        cnrm = np.sqrt(np.einsum("ij,ij->i", cm, cm))
        outs, outd, outc = [], [], []
        for lo in range(0, len(cand), _KNNG_COLCHUNK):
            hi = min(lo + _KNNG_COLCHUNK, len(cand))
            blk = np.floor(
                (sm @ cm[lo:hi].T) / np.outer(snrm, cnrm[lo:hi]) * 10000 + 0.5
            ) / 10000
            # self-pair mask: src ids that fall inside this col chunk
            eq = sids[:, None] == cids[None, lo:hi]
            blk[eq] = -np.inf
            k = min(_KNNG_K, hi - lo)
            # (cos_r DESC, dst ASC): chunk ids ascend, stable argsort on
            # -cos settles ties on the smaller dst — the oracle contract.
            order = np.argsort(-blk, axis=1, kind="stable")[:, :k]
            outs.append(np.repeat(sids, k))
            outd.append(cids[lo:hi][order.ravel()])
            outc.append(blk[np.repeat(np.arange(len(sids)), k), order.ravel()])
        out = pd.DataFrame(
            {
                "src": np.concatenate(outs),
                "dst": np.concatenate(outd),
                "cos_r": np.concatenate(outc),
            }
        )
        return out[np.isfinite(out["cos_r"])]

    partial = rows.groupBy("bucket", "rtile").applyInPandas(
        tile_topk, schema="src long, dst long, cos_r double"
    )
    w_src = Window.partitionBy("src").orderBy(F.col("cos_r").desc(), F.col("dst"))
    directed = (
        partial.withColumn("rn", F.row_number().over(w_src))
        .filter(F.col("rn") <= _KNNG_K)
        .drop("rn")
        .localCheckpoint(eager=False)
    )
    rev = directed.select(
        F.col("src").alias("rsrc"), F.col("dst").alias("rdst")
    )
    return (
        directed.join(
            rev,
            (F.col("rsrc") == F.col("dst")) & (F.col("rdst") == F.col("src")),
        )
        .filter(F.col("src") < F.col("dst"))
        .select(F.col("src").alias("a"), F.col("dst").alias("b"), "cos_r")
    )


# --- q_sim_semantic_clusters ------------------------------------------------


def _semclusters_oracle() -> str:
    return f"""
WITH RECURSIVE e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), bucketed AS (
  SELECT vec_id, emb, nrm, ({_bucket_sql('emb')}) AS bucket FROM e
), scored AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         FLOOR(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)
               * 10000 + 0.5) / 10000 AS cos_r
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
), topk AS (
  SELECT src, dst, cos_r,
         ROW_NUMBER() OVER (
           PARTITION BY src ORDER BY cos_r DESC, dst
         ) AS rn
  FROM scored
), directed AS (
  SELECT src, dst FROM topk WHERE rn <= {_KNNG_K}
), mutual AS (
  SELECT f.src AS doc_a, f.dst AS doc_b
  FROM directed f JOIN directed r ON r.src = f.dst AND r.dst = f.src
  WHERE f.src < f.dst
), nodes AS (
  SELECT doc_a AS node FROM mutual UNION SELECT doc_b FROM mutual
), sym AS (
  SELECT doc_a AS src, doc_b AS dst FROM mutual
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM mutual
), reach AS (
  SELECT node, node AS r FROM nodes
  UNION
  SELECT s.src AS node, reach.r FROM reach JOIN sym s ON reach.node = s.dst
), labels AS (
  SELECT node, MIN(r) AS label FROM reach GROUP BY node
)
SELECT label AS keeper_vec,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
       CAST(0 AS BIGINT) AS n_unconverged
FROM labels GROUP BY label
"""


@register("q_sim_semantic_clusters", oracle=_semclusters_oracle())
def q_sim_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic clusters: connected components over the
    MUTUAL k-NN graph (q_sim_knn_graph's edge relation), one row per
    cluster with its canonical keeper (min vec_id) and size — the step
    that turns pairwise semantic similarity into corpus-level keep/drop
    decisions, exactly as q_dedup_clusters does for MinHash text pairs.

    Reuses the unrolled pointer-doubling connected-components schedule
    (dedup.connected_components — one submitted action, no driver
    polling) on semantic edges instead of shingle-overlap edges; the
    ``n_unconverged`` certificate is the same declarative convergence
    proof, pinned to 0 by the recursive-CTE oracle.

    Scale shape: edge generation is LSH-bucketed (never all-pairs, blocks
    ÷ 2^planes); the mutual filter is a reversed-key self-join of the k·n
    directed list; CC rounds shuffle the label relation on node while the
    pre-partitioned symmetric edge list stays put. At 100 TB this is the
    embedding-side dedup pass run after exact/minhash text dedup."""
    from genesapi_cli_spark.operators.dedup import connected_components_auto

    mutual = q_sim_knn_graph(spark, sf_dir).select(
        F.col("a").alias("doc_a"), F.col("b").alias("doc_b")
    )
    # Mutual k-NN graphs are chain-like (each node holds <= k edges), so
    # component DIAMETER grows with corpus size where shingle-overlap blobs
    # stay shallow. The round-12 contraction pre-pass inside
    # connected_components_auto halves chain depth before the doubling
    # schedule ever runs; measured residual depth is 4 rounds at sf0.01 and
    # 5 at sf0.1, so start at 6 (chains up to 2^6 post-contraction links —
    # the pre-contraction 10 was sized for the raw graph) and let the
    # auto-deepening schedule resubmit incrementally if a longer chain ever
    # shows up — a data property, not a config change.
    labels = connected_components_auto(mutual, rounds=6)
    unconv = labels.filter(F.col("prev") != F.col("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_unconverged")
    )
    return (
        labels.groupBy(F.col("label").alias("keeper_vec"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("n_dropped"),
        )
        .crossJoin(F.broadcast(unconv))
        .select("keeper_vec", "n_vecs", "n_dropped", "n_unconverged")
    )


# --- q_sim_hamming --------------------------------------------------------------

_HAM_N_PLANES = 16
_HAM_MAX_DIST = 3
_HAM_EMB_SCALE = 10_000_000  # emb quantizer: floor(x·1e7 + 0.5), exact int64
_HAM_PLANE_SCALE = 10_000  # plane quantizer: floor(p·1e4 + 0.5)


def _ham_planes_int():
    """Sign-random-projection hyperplanes QUANTIZED to int64 (floor(p·1e4+0.5)):
    with integer planes AND integer-quantized embeddings, every projection is
    exact integer arithmetic (|term| ≤ 1e7·5e4, 64-term sum ≪ 2^53), so the
    sign is order-independent — numpy's blocked matmul, Spark's fold, and
    DuckDB's list_dot_product all agree bit-for-bit with no fold-order pact."""
    import numpy as np

    rng = np.random.default_rng(20260815)
    p = rng.standard_normal((_HAM_N_PLANES, EMBEDDING_DIM))
    return np.floor(p * _HAM_PLANE_SCALE + 0.5).astype(np.int64)


_HPLANES_INT = _ham_planes_int()


def _ham_sig_sql() -> str:
    terms = []
    for j in range(_HAM_N_PLANES):
        lit = "[" + ", ".join(str(int(v)) for v in _HPLANES_INT[j]) + "]"
        terms.append(
            f"CASE WHEN list_dot_product(ei, CAST({lit} AS DOUBLE[])) >= 0"
            f" THEN {1 << j} ELSE 0 END"
        )
    return " + ".join(terms)


# Session memo of the signed relation (vec_id, emb, nrm, sg) — one Arrow
# matmul pass per (session, sf_dir), shared by the query and candidate
# branches (and any future radius/multi-index consumer). At 100 TB the
# signature is a persisted bigint column next to the vectors.
def _ham_sig_batches():
    """Arrow batch fn computing all {_HAM_N_PLANES} sign bits in ONE exact
    int64 matmul per batch — shared by the memoizing wrapper and the
    snapshot-gate builder."""
    import numpy as np
    import pandas as pd

    planes_t = _HPLANES_INT.T  # dim x n_planes
    pow2 = np.int64(1) << np.arange(_HAM_N_PLANES, dtype=np.int64)

    def sig_batches(it):
        for pdf in it:
            if len(pdf):
                e = np.stack(pdf["emb"].to_numpy())  # n x dim float64
                ei = np.floor(e * _HAM_EMB_SCALE + 0.5).astype(np.int64)
                proj = ei @ planes_t  # ONE exact int64 matmul = all 16 planes
                sg = ((proj >= 0).astype(np.int64) * pow2).sum(axis=1)
                out = pdf.assign(sg=sg)
            else:
                out = pdf.assign(sg=pd.Series([], dtype="int64"))
            yield out[["vec_id", "emb", "nrm", "sg"]]

    return sig_batches


def build_ham_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UN-checkpointed signature plan over the UN-checkpointed normed
    embeddings — for the plan-snapshot gate, so an edit to the Arrow stage
    or its upstream shows up as a fingerprint diff."""
    e = build_normed_embeddings(spark, sf_dir)
    return e.select("vec_id", "emb", "nrm").mapInPandas(
        _ham_sig_batches(),
        "vec_id bigint, emb array<double>, nrm double, sg bigint",
    )


def _shared_ham_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    def build(spark: SparkSession, sf_dir: str) -> DataFrame:
        e = shared_normed_embeddings(spark, sf_dir)
        return e.select("vec_id", "emb", "nrm").mapInPandas(
            _ham_sig_batches(),
            "vec_id bigint, emb array<double>, nrm double, sg bigint",
        )

    return CACHE.get_or_build(
        spark, "ham_signatures", lambda: build(spark, sf_dir), sf_dir,
        source_stamps(sf_dir, "embeddings"), checkpoint=True,
    )


def _ham_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), ei AS (
  SELECT vec_id, emb, nrm,
         list_transform(emb, x -> FLOOR(x * {_HAM_EMB_SCALE} + 0.5)) AS ei
  FROM e
), sig AS (
  SELECT vec_id, emb, nrm, CAST({_ham_sig_sql()} AS BIGINT) AS sg FROM ei
), q AS (
  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm, sg AS qsg FROM sig
  WHERE vec_id < 10
), c AS (
  SELECT vec_id AS cand_id, emb AS cemb, nrm AS cnrm, sg AS csg FROM sig
  WHERE vec_id >= 10
), cand AS (
  SELECT query_id, cand_id,
         CAST(bit_count(xor(qsg, csg)) AS INT) AS hamming,
         FLOOR(list_dot_product(qemb, cemb) / (qnrm * cnrm) * 10000 + 0.5)
           / 10000 AS cos_r
  FROM q CROSS JOIN c
  WHERE bit_count(xor(qsg, csg)) <= {_HAM_MAX_DIST}
), best AS (
  SELECT query_id, cand_id, hamming, cos_r,
         ROW_NUMBER() OVER (
           PARTITION BY query_id ORDER BY cos_r DESC, cand_id
         ) AS rk
  FROM cand
)
SELECT query_id, cand_id AS best_id, hamming, cos_r
FROM best WHERE rk = 1
"""


@register("q_sim_hamming", oracle=_ham_oracle())
def q_sim_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-embedding ANN: pack {_HAM_N_PLANES} sign-random-projection bits
    into ONE integer signature per vector, generate candidates by HAMMING
    RADIUS (bit_count(xor) ≤ {_HAM_MAX_DIST} — one xor + popcount per pair,
    no floats), then rerank the tiny candidate set by exact rounded cosine —
    the binary-quantization retrieval stack (a signature is 64× smaller than
    the float vector, and the candidate scan is pure ALU work that vectorizes
    perfectly in whole-stage codegen).

    Complements q_sim_ann_lsh (bucket equality = hamming radius 0 on 4 bits):
    the radius probe trades more candidate comparisons for recall without
    re-bucketing. Signature construction uses the same left-to-right
    fixed-order dot products as the bucket family — identical signs on both
    engines, no rounding needed; the rerank snaps cosine to 4 decimals.

    Scale shape: signatures are a stateless projection stored next to the
    vectors (at 100 TB: a bigint column, index-lite); the query side
    broadcasts; candidate filtering never touches the float vectors until
    the rerank. Radius queries at scale add multi-index (split the signature
    into bands — q_multimodal_ahash's pigeonhole) — same relational shape.

    Signature construction is ONE Arrow int64 matmul per batch
    (n×dim @ dim×16, the q_sim_knn_classify execution pattern): planes and
    embeddings are integer-quantized, so the projection is exact integer
    arithmetic and the sign matches DuckDB with no fold-order dependence —
    replacing 16 per-row interpreted 64-term projection expressions
    (2.9 s → sub-second at sf0.1). The signed relation is session-memoized
    (io.CACHE), the persisted-signature-column analog at 100 TB.
    """
    sig = _shared_ham_signatures(spark, sf_dir)
    q = sig.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
        F.col("sg").alias("qsg"),
    )
    c = sig.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
        F.col("sg").alias("csg"),
    )
    ham = F.expr("CAST(bit_count(qsg ^ csg) AS INT)")
    cand = (
        F.broadcast(q)
        .crossJoin(c)
        .withColumn("hamming", ham)
        .filter(F.col("hamming") <= _HAM_MAX_DIST)
        .select(
            "query_id",
            "cand_id",
            "hamming",
            (
                F.floor(
                    dot_expr("qemb", "cemb")
                    / (F.col("qnrm") * F.col("cnrm"))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("cos_r"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_r"), "cand_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("query_id", F.col("cand_id").alias("best_id"), "hamming", "cos_r")
    )


# --- q_sim_mmr -------------------------------------------------------------------

_MMR_POOL = 20      # relevance prefilter pool per query
_MMR_K = 3          # diversified selections per query
_MMR_LAMBDA10 = 7   # λ = 0.7 carried as integer tenths


def _mmr_oracle() -> str:
    cos_s = (
        "CAST(FLOOR(list_dot_product({a}, {b}) / ({an} * {bn}) * 10000 + 0.5)"
        " AS BIGINT)"
    )
    rel = cos_s.format(a="q.qemb", b="c.cemb", an="q.qnrm", bn="c.cnrm")
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, emb AS qemb, nrm AS qnrm FROM e WHERE vec_id < 10
), c AS (
  SELECT vec_id AS cand_id, emb AS cemb, nrm AS cnrm FROM e WHERE vec_id >= 10
), scored AS (
  SELECT q.query_id, c.cand_id, c.cemb, c.cnrm,
         {rel} AS rel_s,
         ROW_NUMBER() OVER (
           PARTITION BY q.query_id ORDER BY {rel} DESC, c.cand_id
         ) AS prn
  FROM q CROSS JOIN c
), pool AS (
  SELECT * FROM scored WHERE prn <= {_MMR_POOL}
), s1 AS (
  SELECT query_id, cand_id, cemb, cnrm, rel_s,
         CAST(0 AS BIGINT) AS div_s, 1 AS sel_rank
  FROM pool WHERE prn = 1
), d2 AS (
  SELECT p.query_id, p.cand_id, p.cemb, p.cnrm, p.rel_s,
         MAX({cos_s.format(a="p.cemb", b="s.cemb", an="p.cnrm", bn="s.cnrm")})
           AS div_s
  FROM pool p JOIN s1 s ON s.query_id = p.query_id
  WHERE p.cand_id <> s.cand_id
  GROUP BY p.query_id, p.cand_id, p.cemb, p.cnrm, p.rel_s
), s2 AS (
  SELECT query_id, cand_id, cemb, cnrm, rel_s, div_s, 2 AS sel_rank
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY {_MMR_LAMBDA10} * rel_s - {10 - _MMR_LAMBDA10} * div_s DESC,
               cand_id
    ) AS rn FROM d2
  ) WHERE rn = 1
), sel12 AS (
  SELECT query_id, cand_id, cemb, cnrm FROM s1
  UNION ALL SELECT query_id, cand_id, cemb, cnrm FROM s2
), d3 AS (
  SELECT p.query_id, p.cand_id, p.rel_s,
         MAX({cos_s.format(a="p.cemb", b="s.cemb", an="p.cnrm", bn="s.cnrm")})
           AS div_s
  FROM pool p JOIN sel12 s ON s.query_id = p.query_id
  WHERE p.cand_id NOT IN (
    SELECT cand_id FROM sel12 w WHERE w.query_id = p.query_id
  )
  GROUP BY p.query_id, p.cand_id, p.rel_s
), s3 AS (
  SELECT query_id, cand_id, rel_s, div_s, 3 AS sel_rank
  FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY query_id
      ORDER BY {_MMR_LAMBDA10} * rel_s - {10 - _MMR_LAMBDA10} * div_s DESC,
               cand_id
    ) AS rn FROM d3
  ) WHERE rn = 1
)
SELECT query_id, sel_rank, cand_id,
       rel_s / 10000.0 AS rel_r4, div_s / 10000.0 AS div_r4
FROM (
  SELECT query_id, sel_rank, cand_id, rel_s, div_s FROM s1
  UNION ALL SELECT query_id, sel_rank, cand_id, rel_s, div_s FROM s2
  UNION ALL SELECT query_id, sel_rank, cand_id, rel_s, div_s FROM s3
)
"""


@register("q_sim_mmr", oracle=_mmr_oracle())
def q_sim_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (λ=0.7): per query, greedily
    pick {_MMR_K} results from the top-{_MMR_POOL} relevance pool, each round
    maximizing λ·relevance − (1−λ)·max-similarity-to-already-selected — the
    diversification stage RAG retrieval runs after ANN recall so the context
    window isn't {_MMR_K} near-copies of the same paragraph. The pool is
    relational (ANN output at scale); the greedy rounds run per query in
    ONE Arrow applyInPandas stage — diversification is per-query local
    work over ≤{_MMR_POOL} rows, so group-local Python is the honest
    execution shape (no driver loop, no cross-query traffic).

    Exactness: cosines snap to 4 decimals and then live as 1e-4-grid
    BIGINTS; the MMR score 7·rel − 3·div is pure integer arithmetic, so
    argmax ordering (ties → cand_id) is bit-portable; only the output
    rescales to doubles.

    Scale shape: the relevance pool is a per-query top-k window (the ANN
    stage's output at 100 TB); every MMR round touches pool×selected ≤
    {_MMR_POOL}·{_MMR_K} rows per query — the whole diversification costs
    O(k·pool) dot products per query regardless of corpus size.
    """
    e = shared_normed_embeddings(spark, sf_dir)
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
    )
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
    )

    def cos_s(a, b, an, bn):
        return F.floor(
            dot_expr(a, b) / (F.col(an) * F.col(bn)) * 10000 + F.lit(0.5)
        ).cast("bigint")

    rel = cos_s("qemb", "cemb", "qnrm", "cnrm")
    wq = Window.partitionBy("query_id")
    pool = (
        F.broadcast(q)
        .crossJoin(c)
        .select("query_id", "cand_id", "cemb", "cnrm", rel.alias("rel_s"))
        .withColumn(
            "prn",
            F.row_number().over(wq.orderBy(F.desc("rel_s"), "cand_id")),
        )
        .filter(F.col("prn") <= _MMR_POOL)
        .localCheckpoint(eager=False)
    )
    # The greedy rounds run PER QUERY over a ≤{_MMR_POOL}-row local pool —
    # exactly the shape applyInPandas owns: one Arrow stage over query_id
    # groups replaces two unrolled join+max-agg+argmax-window rounds (and
    # their checkpoints), ~6 stage barriers for 200 rows of actual data
    # (measured 1.9 s → sub-second at sf0.1). Arithmetic is bit-portable:
    # the pairwise dot accumulates LEFT-TO-RIGHT in Python floats — the
    # identical IEEE sequence dot_expr generates JVM-side and DuckDB's
    # list_dot_product runs — then snaps to the same 1e-4 integer grid, so
    # scores, ties, and selections match the relational formulation exactly.
    import math

    import pandas as pd

    lam, mu = _MMR_LAMBDA10, 10 - _MMR_LAMBDA10

    def mmr_greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("prn")
        embs = [list(e) for e in pdf["cemb"]]
        nrms = list(pdf["cnrm"])
        rels = [int(r) for r in pdf["rel_s"]]
        cids = [int(c) for c in pdf["cand_id"]]
        qid = int(pdf["query_id"].iloc[0])

        def cos_snap(i: int, j: int) -> int:
            a, b = embs[i], embs[j]
            d = a[0] * b[0]
            for k in range(1, len(a)):
                d = d + a[k] * b[k]
            return int(math.floor(d / (nrms[i] * nrms[j]) * 10000 + 0.5))

        sel = [0]
        out = [(qid, 1, cids[0], rels[0], 0)]
        for r in (2, 3):
            best = None
            for i in range(len(cids)):
                if i in sel:
                    continue
                div = max(cos_snap(i, j) for j in sel)
                key = (-(lam * rels[i] - mu * div), cids[i])
                if best is None or key < best[0]:
                    best = (key, i, div)
            if best is None:
                break
            _, i, div = best
            sel.append(i)
            out.append((qid, r, cids[i], rels[i], div))
        return pd.DataFrame(
            out, columns=["query_id", "sel_rank", "cand_id", "rel_s", "div_s"]
        )

    all_sel = pool.groupBy("query_id").applyInPandas(
        mmr_greedy,
        "query_id long, sel_rank int, cand_id long, rel_s long, div_s long",
    )
    return all_sel.select(
        "query_id",
        "sel_rank",
        "cand_id",
        (F.col("rel_s") / 10000.0).alias("rel_r4"),
        (F.col("div_s") / 10000.0).alias("div_r4"),
    )


# --- q_sim_knn_classify -------------------------------------------------------

_KNN_K = 5        # neighbors voting
_KNN_TEST_MOD = 5  # test split: vec_id % 5 == 0 (~20%)
_KNN_BLOCKS = 8   # train-side hash blocks for the Arrow matmul stage
_KNN_QCHUNK = 4096  # test columns per matmul slab (bounds task memory)
_KNN_CCHUNK = 2048  # train rows per matmul slab (bounds task memory)


def _knn_chunked_topk(t_mat, cids, q_mat, k, cchunk):
    """Exact per-query top-k by (dot DESC, cand_id ASC) over train slabs
    with a running merge — never materializes more than a cchunk×m dot
    grid. ``cids`` must ascend (the in-slab stable argsort then settles
    dot ties on the smaller id, and the cross-slab merge lexsorts on
    (−dot, id)). Returns (dots, ids) as (k_eff, m) int64 grids. Pure
    numpy so the slab/merge algebra is unit-testable without Spark
    (tests/test_llm_ops.py)."""
    import numpy as np

    m = q_mat.shape[0]
    run_d = np.zeros((0, m), dtype=np.int64)
    run_i = np.zeros((0, m), dtype=np.int64)
    for clo in range(0, len(t_mat), cchunk):
        chi = min(clo + cchunk, len(t_mat))
        dots = t_mat[clo:chi] @ q_mat.T  # exact int64
        kk = min(k, chi - clo)
        order = np.argsort(-dots, axis=0, kind="stable")[:kk]
        col = np.arange(m)
        run_d = np.concatenate([run_d, dots[order, col]])
        run_i = np.concatenate([run_i, cids[clo:chi][order]])
        if len(run_d) > k:
            # (dot DESC, cand_id ASC): lexsort keys in reverse significance
            sel = np.lexsort((run_i, -run_d), axis=0)[:k]
            run_d = np.take_along_axis(run_d, sel, axis=0)
            run_i = np.take_along_axis(run_i, sel, axis=0)
    # canonical (dot DESC, cand_id ASC) order even when no merge fired
    # (total candidates ≤ k leaves rows in slab order otherwise)
    sel = np.lexsort((run_i, -run_d), axis=0)
    return (
        np.take_along_axis(run_d, sel, axis=0),
        np.take_along_axis(run_i, sel, axis=0),
    )

_KNN_ORACLE = f"""
WITH q8 AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(GREATEST(LEAST(floor(CAST(x AS DOUBLE) * 127 + 0.5), 127), -127)
                     AS DOUBLE)) AS qv
  FROM embeddings
), p AS (
  SELECT q.vec_id AS qid, q.label AS true_label, c.label AS cand_label,
         c.vec_id AS cand_id,
         CAST(list_dot_product(q.qv, c.qv) AS BIGINT) AS qdot
  FROM q8 q JOIN q8 c ON c.vec_id % {_KNN_TEST_MOD} <> 0
  WHERE q.vec_id % {_KNN_TEST_MOD} = 0
), top AS (
  SELECT qid, true_label, cand_label,
         row_number() OVER (PARTITION BY qid ORDER BY qdot DESC, cand_id) AS rn
  FROM p
), votes AS (
  SELECT qid, true_label, cand_label, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM top WHERE rn <= {_KNN_K}
  GROUP BY qid, true_label, cand_label
), pred AS (
  SELECT qid, true_label, cand_label AS pred_label,
         row_number() OVER (PARTITION BY qid ORDER BY cnt DESC, cand_label) AS vr
  FROM votes
)
SELECT true_label AS label,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
         AS n_correct,
       FLOOR(CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000 AS acc_r4
FROM pred WHERE vr = 1
GROUP BY true_label
"""


@register("q_sim_knn_classify", oracle=_KNN_ORACLE)
def q_sim_knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification accuracy over the embedding table — the
    evaluation harness that tells you whether an embedding space is any
    good before you spend a training run on it: hold out every 5th vector,
    classify it by majority vote of its 5 nearest train vectors, report
    per-class accuracy. Completes the retrieval-eval family
    (q_sim_recall measures ANN recall, q_sim_triplet_eval margin quality;
    this measures downstream label quality).

    Exactness: scoring runs on int8-quantized dots (the q_sim_quantized
    quantizer — floor(x·127+0.5) clamps, integer dot ≤ 64·127² per pair),
    so neighbor ranking has NO float tolerance; ties break by candidate id,
    votes break by (count desc, label asc) — both engines pick identical
    neighbors and identical predictions, and the accuracy table matches
    bit-for-bit.

    Scale shape: train vectors split into hash blocks and each block is
    scored by cogrouped Arrow int64 matmul SLABS against the replicated
    test matrix (the q_sim_knn_graph tile/colchunk pattern — each side
    ships once; no |test|·|train| pair materialization, and per-task
    memory is bounded at ~QCHUNK×CCHUNK cells by a running top-k merge
    regardless of corpus size — the unchunked matmul OOM'd the sf10
    rehearsal at 6.4 GB/task), emitting only per-block top-k; a global
    window re-ranks 5·blocks rows per query, then votes and accuracy are
    two hash aggregates. At 100 TB swap the hash blocks for IVF/LSH
    buckets (q_sim_ivf) — the vote/accuracy tail is unchanged.
    """
    emb = load(spark, sf_dir, "embeddings")
    q8 = emb.select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.greatest(
                F.least(F.floor(x.cast("double") * 127 + 0.5), F.lit(127).cast("long")),
                F.lit(-127).cast("long"),
            ),
        ).alias("qv"),
    )
    q = q8.filter(F.col("vec_id") % _KNN_TEST_MOD == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("true_label"),
        F.col("qv").alias("qa"),
    )
    c = q8.filter(F.col("vec_id") % _KNN_TEST_MOD != 0).select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("cand_label"),
        F.col("qv").alias("qb"),
    )
    # Scoring runs as cogrouped Arrow blocks (the q_sim_knn_graph /
    # q_sim_maxsim execution pattern): train vectors split into
    # _KNN_BLOCKS hash blocks, the (small) test matrix replicates to each,
    # and ONE int64 matmul scores the whole block — a JVM pair join here
    # materializes |test|·|train| array pairs (13.7s at sf0.1); the block
    # matmul ships each side once and emits only the per-block top-k
    # (5·blocks rows per query), which a cheap global window re-ranks.
    # Semantics are IDENTICAL: exact integer dots, (qdot DESC, cand_id)
    # order — train ids sort ascending per block and the stable argsort
    # settles ties on the smaller cand_id, matching the oracle contract.
    import numpy as np
    import pandas as pd

    def block_knn(cdf: pd.DataFrame, qdf: pd.DataFrame) -> pd.DataFrame:
        # CHUNKED on both axes (round-12 sf10 rehearsal fix): the one-shot
        # t_mat @ q_mat.T materialized a (|train|/blocks) × |test| int64
        # matrix — 6.4 GB/task at sf10 (20k × 40k), and argsort's negated
        # copy doubled it; 7 concurrent tasks OOM-killed the 32 g JVM's
        # host. Now test rows are scored in _KNN_QCHUNK-column slabs
        # against _KNN_CCHUNK-row train slabs with a running top-k merge —
        # per-task memory is ~QCHUNK×CCHUNK cells (64 MB) regardless of
        # corpus size, the q_sim_knn_graph tile/colchunk discipline.
        # EXACT: the global (qdot DESC, cand_id ASC) top-k is the top-k of
        # the union of per-slab top-ks (a global winner wins its slab);
        # train ids sort ascending, slabs ascend, and the stable argsort +
        # stable merge settle ties on the smaller cand_id — the oracle
        # contract, unchanged.
        empty = pd.DataFrame(
            {
                "qid": pd.Series([], dtype="int64"),
                "true_label": pd.Series([], dtype="int32"),
                "cand_label": pd.Series([], dtype="int32"),
                "cand_id": pd.Series([], dtype="int64"),
                "qdot": pd.Series([], dtype="int64"),
            }
        )
        if len(cdf) == 0 or len(qdf) == 0:
            return empty
        cdf = cdf.sort_values("cand_id")
        t_mat = np.stack(cdf["qb"].to_numpy()).astype(np.int64)
        cids_all = cdf["cand_id"].to_numpy()
        out = []
        for qlo in range(0, len(qdf), _KNN_QCHUNK):
            qs = qdf.iloc[qlo : qlo + _KNN_QCHUNK]
            q_mat = np.stack(qs["qa"].to_numpy()).astype(np.int64)
            m = len(qs)
            run_d, run_i = _knn_chunked_topk(
                t_mat, cids_all, q_mat, _KNN_K, _KNN_CCHUNK
            )
            k = len(run_d)
            qidx = np.tile(np.arange(m), k) + qlo
            out.append(
                pd.DataFrame(
                    {
                        "qid": qdf["qid"].to_numpy()[qidx],
                        "true_label": qdf["true_label"].to_numpy()[qidx],
                        "cand_id": run_i.ravel(),
                        "qdot": run_d.ravel(),
                    }
                )
            )
        res = pd.concat(out, ignore_index=True)
        # re-attach train labels by position (cand ids are unique in-block)
        lab = pd.Series(
            cdf["cand_label"].to_numpy(), index=cids_all
        )
        res["cand_label"] = lab.loc[res["cand_id"]].to_numpy().astype("int32")
        return res[["qid", "true_label", "cand_label", "cand_id", "qdot"]]

    blocks = spark.range(_KNN_BLOCKS).select(F.col("id").cast("int").alias("blk"))
    qrep = q.crossJoin(F.broadcast(blocks))
    cblk = c.withColumn("blk", (F.col("cand_id") % _KNN_BLOCKS).cast("int"))
    local_top = (
        cblk.groupBy("blk")
        .cogroup(qrep.groupBy("blk"))
        .applyInPandas(
            block_knn,
            schema="qid long, true_label int, cand_label int, cand_id long, qdot long",
        )
    )
    wq = Window.partitionBy("qid").orderBy(F.desc("qdot"), "cand_id")
    top = local_top.select(
        "qid", "true_label", "cand_label", F.row_number().over(wq).alias("rn")
    ).filter(F.col("rn") <= _KNN_K)
    votes = top.groupBy("qid", "true_label", "cand_label").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    wv = Window.partitionBy("qid").orderBy(F.desc("cnt"), "cand_label")
    pred = votes.select(
        "qid",
        "true_label",
        F.col("cand_label").alias("pred_label"),
        F.row_number().over(wv).alias("vr"),
    ).filter(F.col("vr") == 1)
    correct = F.sum(
        F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0)
    )
    return pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test"),
        correct.cast("bigint").alias("n_correct"),
        (
            F.floor(correct.cast("double") / F.count(F.lit(1)) * 10000 + F.lit(0.5))
            / 10000
        ).alias("acc_r4"),
    )


# --- q_sim_silhouette ----------------------------------------------------------

_SIL_ORACLE = """
WITH q8 AS (
  SELECT vec_id, label,
         list_transform(embedding,
           x -> CAST(GREATEST(LEAST(floor(CAST(x AS DOUBLE) * 127 + 0.5), 127), -127)
                     AS DOUBLE)) AS qv
  FROM embeddings
), ce AS (
  SELECT label, i, CAST(SUM(qv[i]) AS BIGINT) AS sd,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM q8, LATERAL (SELECT unnest(generate_series(1, len(qv))) AS i)
  GROUP BY label, i
), cl AS (
  SELECT label AS clabel, CAST(SUM(sd * sd) AS BIGINT) AS s2,
         CAST(MAX(m) AS BIGINT) AS m
  FROM ce GROUP BY label
), dots AS (
  SELECT p.vec_id, p.label AS own, c.label AS clabel,
         CAST(SUM(p.qv[c.i] * c.sd) AS BIGINT) AS dt
  FROM q8 p, ce c
  GROUP BY p.vec_id, p.label, c.label
), px AS (
  SELECT vec_id, CAST(list_dot_product(qv, qv) AS BIGINT) AS x2 FROM q8
), dist AS (
  SELECT d.vec_id, d.own, d.clabel,
         SQRT(CAST(p.x2 * l.m * l.m - 2 * l.m * d.dt + l.s2 AS DOUBLE)) / l.m
           AS dv
  FROM dots d JOIN px p ON p.vec_id = d.vec_id
  JOIN cl l ON l.clabel = d.clabel
), ab AS (
  SELECT vec_id, own,
         MAX(CASE WHEN clabel = own THEN dv END) AS a,
         MIN(CASE WHEN clabel <> own THEN dv END) AS b
  FROM dist GROUP BY vec_id, own
), s AS (
  SELECT vec_id, own,
         CAST(CASE WHEN GREATEST(a, b) > 0 THEN (b - a) / GREATEST(a, b)
                   ELSE 0.0 END AS DECIMAL(18,7)) AS sil
  FROM ab
)
SELECT own AS label,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       FLOOR(CAST(SUM(sil) AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000
         AS mean_sil_r4,
       CAST(SUM(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_misfit
FROM s GROUP BY own
"""


@register("q_sim_silhouette", oracle=_SIL_ORACLE)
def q_sim_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette score per label — the
    clustering-quality certificate for an embedding space: for each point,
    a = distance to its own label's centroid, b = distance to the nearest
    other centroid, s = (b−a)/max(a,b); negative s marks points sitting
    closer to a foreign cluster (label noise / collapsed clusters). With
    q_sim_knn_classify (accuracy) and q_sim_triplet_eval (margins) this
    closes the embedding-eval triad. The simplified form IS the scale
    form: classic silhouette is O(n²) pairwise; against centroids it is
    O(n·k) and loses almost nothing for convex clusters.

    Exactness: distances come out of integer arithmetic end to end — int8
    vectors (the shared quantizer), integer centroid SUMS (never float
    means: d² to the mean rescales by m² as m²·|x|² − 2m·(x·S) + |S|²,
    all exact bigints < 2⁵³), ONE sqrt per (point, centroid) (IEEE sqrt
    is correctly rounded — identical on both engines), per-point s
    snapped to decimal(18,7) before the exact mean.

    Scale shape: centroid sums are one posexplode + (label, dim) hash
    aggregate (the q_sim_centroid plan); point×centroid scoring joins the
    exploded points against a BROADCAST k×dim centroid table and
    hash-aggregates the dot — n·k·dim multiply-adds with no shuffle of
    the big side beyond the per-point rollup.
    """
    emb = load(spark, sf_dir, "embeddings")
    # Lazy checkpoint: the quantized relation feeds BOTH the exploded
    # centroid/dot subtree and the |x|² projection — one quantize pass,
    # not two (ReuseExchange does not fire across the posexplode subtree).
    q8 = spread(emb).select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.greatest(
                F.least(F.floor(x.cast("double") * 127 + 0.5), F.lit(127).cast("long")),
                F.lit(-127).cast("long"),
            ),
        ).alias("qv"),
    ).localCheckpoint(eager=False)
    pts = q8.select(
        "vec_id", "label", F.posexplode("qv").alias("pos", "xd")
    ).select("vec_id", "label", (F.col("pos") + 1).alias("i"), "xd")
    ce = pts.groupBy(F.col("label").alias("clabel"), "i").agg(
        F.sum("xd").cast("bigint").alias("sd"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    cl = ce.groupBy("clabel").agg(
        F.sum(F.col("sd") * F.col("sd")).cast("bigint").alias("s2"),
        F.max("m").cast("bigint").alias("m"),
    )
    dots = (
        pts.join(F.broadcast(ce), "i")
        .groupBy("vec_id", F.col("label").alias("own"), "clabel")
        .agg(F.sum(F.col("xd") * F.col("sd")).cast("bigint").alias("dt"))
    )
    px = q8.select("vec_id", dot_expr("qv", "qv").cast("bigint").alias("x2"))
    # px is O(|embeddings|) — one row per vector — so it must NOT carry a
    # broadcast hint (at 100 TB that would OOM the driver); AQE picks the
    # join strategy. The k-row cl relation below keeps its hint.
    dist = (
        dots.join(px, "vec_id")
        .join(F.broadcast(cl), "clabel")
        .select(
            "vec_id",
            "own",
            "clabel",
            (
                F.sqrt(
                    (
                        F.col("x2") * F.col("m") * F.col("m")
                        - 2 * F.col("m") * F.col("dt")
                        + F.col("s2")
                    ).cast("double")
                )
                / F.col("m")
            ).alias("dv"),
        )
    )
    ab = dist.groupBy("vec_id", "own").agg(
        F.max(F.when(F.col("clabel") == F.col("own"), F.col("dv"))).alias("a"),
        F.min(F.when(F.col("clabel") != F.col("own"), F.col("dv"))).alias("b"),
    )
    sil = ab.select(
        "vec_id",
        "own",
        F.when(
            F.greatest("a", "b") > 0,
            (F.col("b") - F.col("a")) / F.greatest("a", "b"),
        )
        .otherwise(F.lit(0.0))
        .cast("decimal(18,7)")
        .alias("sil"),
    )
    return sil.groupBy(F.col("own").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        (
            F.floor(
                F.sum("sil").cast("double") / F.count(F.lit(1)) * 10000 + F.lit(0.5)
            )
            / 10000
        ).alias("mean_sil_r4"),
        F.sum(F.when(F.col("sil") < 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_misfit"),
    )


# --- q_sim_kmeans_step ------------------------------------------------------------

_KM_K = 4  # seeds = vec_id 0..3 (deterministic farthest-point init is a variant)

_KM_Q8_SQL = """
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(GREATEST(LEAST(floor(CAST(x AS DOUBLE) * 127 + 0.5), 127),
                              -127) AS DOUBLE)) AS qv
  FROM embeddings
"""

_KM_ORACLE = f"""
WITH q8 AS ({_KM_Q8_SQL}
), seeds AS (
  SELECT vec_id AS cid, qv AS sv FROM q8 WHERE vec_id < {_KM_K}
), scored AS (
  SELECT e.vec_id, e.qv, s.cid,
         CAST(list_dot_product(e.qv, e.qv)
              - 2 * list_dot_product(e.qv, s.sv)
              + list_dot_product(s.sv, s.sv) AS BIGINT) AS d2
  FROM q8 e CROSS JOIN seeds s
), best AS (
  SELECT vec_id, qv, cid, d2 FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
    FROM scored
  ) WHERE rn = 1
), dims AS (
  SELECT cid, d, CAST(SUM(CAST(qv[CAST(d AS INT)] AS BIGINT)) AS BIGINT) AS sdim,
         CAST(COUNT(*) AS BIGINT) AS m
  FROM best, UNNEST(range(1, 65)) AS t(d)
  GROUP BY cid, d
), shift AS (
  SELECT dims.cid,
         CAST(SUM((sdim - m * CAST(sv[CAST(d AS INT)] AS BIGINT))
                  * (sdim - m * CAST(sv[CAST(d AS INT)] AS BIGINT)))
              AS BIGINT) AS shift2_scaled,
         CAST(MAX(m) AS BIGINT) AS m
  FROM dims JOIN seeds ON seeds.cid = dims.cid
  GROUP BY dims.cid
)
SELECT b.cid AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS m,
       CAST(SUM(b.d2) AS BIGINT) AS inertia,
       CAST(MAX(sh.shift2_scaled) AS BIGINT) AS shift2_scaled
FROM best b JOIN shift sh ON sh.cid = b.cid
GROUP BY b.cid
"""


@register("q_sim_kmeans_step", oracle=_KM_ORACLE)
def q_sim_kmeans_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One EXACT Lloyd iteration of k-means over the embedding table
    (assignment + re-centering + movement certificate) — the distributed
    clustering step q_sim_centroid (the M-step alone) and
    q_sim_semantic_clusters (graph-based alternative) bracket: assign every
    vector to its nearest of {_KM_K} deterministic seeds, report per
    cluster the size, the inertia contribution (Σ min-d²), and the
    m²-scaled squared centroid movement |S − m·c_old|² — the convergence
    signal a k-means driver loops on (movement/m² → 0).

    Exactness: int8-quantized vectors (the shared quantizer) make every
    distance d² = |x|² − 2x·c + |c|² an exact bigint (≤ 64·254²), argmin
    ties break on cluster id, and the movement stays m-scaled so NO
    division exists anywhere — both engines agree bit-for-bit.

    Scale shape: assignment is a broadcast of k seed vectors against a
    linear scan (the IVF-assign shape — at 100 TB with large k, LSH/IVF
    prunes the candidate centroids, same plan); re-centering is the
    posexplode + (cluster, dim) map-side-combined aggregate of
    q_sim_centroid; the whole iteration is two shuffles of narrow rows.
    Looping = re-seeding from S/m and resubmitting — each iteration is
    this exact plan (unrolled like q_graph_pagerank when iteration count
    is fixed).
    """
    emb = load(spark, sf_dir, "embeddings")
    q8 = spread(emb, "vec_id").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.greatest(
                F.least(F.floor(x.cast("double") * 127 + 0.5), F.lit(127).cast("long")),
                F.lit(-127).cast("long"),
            ),
        ).alias("qv"),
    )
    seeds = q8.filter(F.col("vec_id") < _KM_K).select(
        F.col("vec_id").alias("cid"), F.col("qv").alias("sv")
    )
    d2 = (
        dot_expr("qv", "qv")
        - 2 * dot_expr("qv", "sv")
        + dot_expr("sv", "sv")
    ).cast("bigint")
    scored = q8.crossJoin(F.broadcast(seeds)).select(
        "vec_id", "qv", "cid", d2.alias("d2")
    )
    # argmin via min_by over the unique (d2, cid) order key — map-side
    # combinable (partial min per input partition, no shuffle+sort of the
    # n·k scored rows, unlike a row_number window); the q_agg_argmax
    # pattern. Tie-break identical to the former ORDER BY d2, cid because
    # cid is distinct within a vec_id group.
    best = (
        scored.groupBy("vec_id")
        .agg(
            F.min_by(F.struct("cid", "d2", "qv"), F.struct("d2", "cid")).alias(
                "b"
            )
        )
        .select(
            "vec_id",
            F.col("b.qv").alias("qv"),
            F.col("b.cid").alias("cid"),
            F.col("b.d2").alias("d2"),
        )
        .localCheckpoint(eager=False)
    )
    dims = (
        best.select("cid", F.posexplode("qv").alias("pos", "xd"))
        .groupBy("cid", (F.col("pos") + 1).alias("d"))
        .agg(
            F.sum("xd").cast("bigint").alias("sdim"),
            F.count(F.lit(1)).cast("bigint").alias("m"),
        )
    )
    sdims = seeds.select(
        "cid", F.posexplode("sv").alias("pos", "sd")
    ).select("cid", (F.col("pos") + 1).alias("d"), "sd")
    shift = (
        dims.join(F.broadcast(sdims), ["cid", "d"])
        .groupBy("cid")
        .agg(
            F.sum(
                (F.col("sdim") - F.col("m") * F.col("sd"))
                * (F.col("sdim") - F.col("m") * F.col("sd"))
            )
            .cast("bigint")
            .alias("shift2_scaled")
        )
    )
    return (
        best.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum("d2").cast("bigint").alias("inertia"),
        )
        .join(
            F.broadcast(shift.select(F.col("cid").alias("cluster_id"), "shift2_scaled")),
            "cluster_id",
        )
    )


# --- q_sim_graph_purity -------------------------------------------------------


def _purity_oracle() -> str:
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
  FROM embeddings
), bucketed AS (
  SELECT vec_id, emb, nrm, ({_bucket_sql('emb')}) AS bucket FROM e
), scored AS (
  SELECT a.vec_id AS src, b.vec_id AS dst,
         FLOOR(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm)
               * 10000 + 0.5) / 10000 AS cos_r
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
), topk AS (
  SELECT src, dst, cos_r,
         ROW_NUMBER() OVER (
           PARTITION BY src ORDER BY cos_r DESC, dst
         ) AS rn
  FROM scored
), directed AS (
  SELECT src, dst FROM topk WHERE rn <= {_KNNG_K}
), mutual AS (
  SELECT f.src AS a, f.dst AS b
  FROM directed f JOIN directed r ON r.src = f.dst AND r.dst = f.src
  WHERE f.src < f.dst
), labeled AS (
  SELECT la.label AS la, lb.label AS lb
  FROM mutual
  JOIN embeddings la ON la.vec_id = mutual.a
  JOIN embeddings lb ON lb.vec_id = mutual.b
), incid AS (
  SELECT la AS label, CASE WHEN la = lb THEN 1 ELSE 0 END AS intra FROM labeled
  UNION ALL
  SELECT lb AS label, CASE WHEN la = lb THEN 1 ELSE 0 END AS intra FROM labeled
), per AS (
  SELECT CAST(label AS BIGINT) AS label,
         CAST(SUM(intra) AS BIGINT) AS n_intra2,
         CAST(SUM(1 - intra) AS BIGINT) AS n_inter
  FROM incid GROUP BY label
)
SELECT label,
       CAST(n_intra2 / 2 AS BIGINT) AS n_intra,
       n_inter,
       CAST(FLOOR(CAST(n_intra2 AS DOUBLE) / (n_intra2 + n_inter)
                  * 1000000 + 0.5) AS BIGINT) AS purity_micro,
       CAST(FLOOR(CAST(SUM(n_intra2) OVER () AS DOUBLE)
                  / SUM(n_intra2 + n_inter) OVER ()
                  * 1000000 + 0.5) AS BIGINT) AS overall_micro
FROM per
WHERE n_intra2 + n_inter > 0
"""


@register("q_sim_graph_purity", oracle=_purity_oracle())
def q_sim_graph_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label purity of the mutual k-NN graph — the embedding-quality
    certificate that closes the loop between q_sim_knn_graph (structure)
    and the label column (ground truth): per label, the share of incident
    mutual edges that stay inside the label (and the overall same-label
    edge rate). High purity = the embedding geometry respects the label
    partition (safe to curate/SemDeDup with it); low purity = the labels
    and the geometry disagree — investigate before trusting either.
    Intra edges count once as n_intra but twice as incidence (once per
    endpoint), the standard per-class decomposition.

    Parity: the mutual edge set is the exact q_sim_knn_graph contract
    (snapped cosine, dst tie-break, both-endpoints-agree filter); purity
    ratios are exact bigint incidence counts with one micro-snapped
    division each.

    Scale shape: reuses the knn-graph plan (LSH-bucketed candidate blocks,
    never all-pairs), then two narrow joins attach endpoint labels and a
    label-keyed rollup — relations after the graph are bounded by |labels|.
    """
    edges = q_sim_knn_graph(spark, sf_dir)
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    la = emb.select(F.col("vec_id").alias("a"), F.col("label").alias("la"))
    lb = emb.select(F.col("vec_id").alias("b"), F.col("label").alias("lb"))
    labeled = edges.join(la, "a").join(lb, "b").select("la", "lb")
    intra = F.when(F.col("la") == F.col("lb"), 1).otherwise(0)
    incid = labeled.select(F.col("la").alias("label"), intra.alias("intra")).unionAll(
        labeled.select(F.col("lb").alias("label"), intra.alias("intra"))
    )
    per = incid.groupBy(F.col("label").cast("bigint").alias("label")).agg(
        F.sum("intra").cast("bigint").alias("n_intra2"),
        F.sum(1 - F.col("intra")).cast("bigint").alias("n_inter"),
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per.filter((F.col("n_intra2") + F.col("n_inter")) > 0).select(
        "label",
        F.expr("n_intra2 div 2").cast("bigint").alias("n_intra"),
        "n_inter",
        F.floor(
            F.col("n_intra2").cast("double")
            / (F.col("n_intra2") + F.col("n_inter"))
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("purity_micro"),
        F.floor(
            F.sum("n_intra2").over(w_all).cast("double")
            / F.sum(F.col("n_intra2") + F.col("n_inter")).over(w_all)
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("overall_micro"),
    )


# --- q_sim_matryoshka (truncated-dimension retrieval fidelity) ---------------

_MRL_PREFIX = 16
_MRL_K = 5

_MRL_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS emb,
         SQRT(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           AS nrm,
         SQRT(list_dot_product(embedding[1:{_MRL_PREFIX}]::DOUBLE[],
                               embedding[1:{_MRL_PREFIX}]::DOUBLE[])) AS pnrm
  FROM embeddings
), scored AS (
  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         FLOOR(list_dot_product(a.emb, b.emb) / (a.nrm * b.nrm) * 10000 + 0.5)
           / 10000 AS cos_r,
         FLOOR(list_dot_product(a.emb[1:{_MRL_PREFIX}], b.emb[1:{_MRL_PREFIX}])
               / (a.pnrm * b.pnrm) * 10000 + 0.5) / 10000 AS pcos_r
  FROM e a JOIN e b ON a.vec_id < 10 AND b.vec_id >= 10
), rf AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cos_r DESC, neighbor_id) AS rk
  FROM scored
), rp AS (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY pcos_r DESC, neighbor_id) AS rk
  FROM scored
)
SELECT f.query_id,
       CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_overlap,
       FLOOR(CAST(COUNT(p.neighbor_id) AS DOUBLE) / {_MRL_K} * 10000 + 0.5)
         / 10000 AS recall_r4
FROM rf f
LEFT JOIN rp p ON f.query_id = p.query_id
              AND f.neighbor_id = p.neighbor_id AND p.rk <= {_MRL_K}
WHERE f.rk <= {_MRL_K}
GROUP BY f.query_id
"""


@register("q_sim_matryoshka", oracle=_MRL_ORACLE)
def q_sim_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-truncation retrieval fidelity: recall@5 of top-5 by
    the FIRST-16-dim prefix cosine against top-k by the full
    64-dim cosine, per query (vec_id < 10, q_sim_cosine_topk's
    query/candidate split). This is the certificate behind the
    matryoshka-embedding deployment decision — serve the short prefix
    (4× less memory/bandwidth in the ANN index, the nested-representation
    property MRL training optimizes for) and this number is exactly what
    you trade. Companion to q_sim_recall (which certifies an ANN
    structure); here the index is exact and the REPRESENTATION is
    truncated.

    Parity engineering: both cosines snap r4 before ranking (the
    cosine_topk discipline: last-ulp differences can't flip an order),
    both rankings tie-break on neighbor_id, and the overlap count is an
    integer join — no float crosses the final aggregate.

    Scale shape: ONE broadcast-queries × candidates pass scores both
    resolutions (the prefix dot is a strict subexpression of the full
    dot, so the second resolution is ~free); two per-query top-k windows
    (WindowGroupLimit prunes to k per partition pre-sort) and a
    per-(query,neighbor) equi-join over 2·|Q|·k rows. Candidates never
    shuffle; the plan is the brute-force ANN baseline's, with the recall
    join on top."""
    e = shared_normed_embeddings(spark, sf_dir).select("vec_id", "emb", "nrm")
    pn = F.sqrt(dot_expr("emb", "emb", _MRL_PREFIX))
    q = e.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("qemb"),
        F.col("nrm").alias("qnrm"),
        pn.alias("qpnrm"),
    )
    c = e.filter(F.col("vec_id") >= 10).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("cemb"),
        F.col("nrm").alias("cnrm"),
        pn.alias("cpnrm"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .select(
            "query_id",
            "neighbor_id",
            (
                F.floor(
                    dot_expr("qemb", "cemb")
                    / (F.col("qnrm") * F.col("cnrm"))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("cos_r"),
            (
                F.floor(
                    dot_expr("qemb", "cemb", _MRL_PREFIX)
                    / (F.col("qpnrm") * F.col("cpnrm"))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("pcos_r"),
        )
        .localCheckpoint(eager=False)
    )
    wf = Window.partitionBy("query_id").orderBy(F.col("cos_r").desc(), "neighbor_id")
    wp = Window.partitionBy("query_id").orderBy(F.col("pcos_r").desc(), "neighbor_id")
    topf = (
        scored.withColumn("rk", F.row_number().over(wf))
        .filter(F.col("rk") <= _MRL_K)
        .select("query_id", "neighbor_id")
    )
    topp = (
        scored.withColumn("rk", F.row_number().over(wp))
        .filter(F.col("rk") <= _MRL_K)
        .select(
            F.col("query_id").alias("p_query"), F.col("neighbor_id").alias("p_nb"),
            F.lit(1).alias("inp"),
        )
    )
    return (
        topf.join(
            # |Q|·k rows by construction (the window already pruned) —
            # unconditionally broadcastable at any corpus size.
            F.broadcast(topp),
            (F.col("query_id") == F.col("p_query"))
            & (F.col("neighbor_id") == F.col("p_nb")),
            "left",
        )
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce("inp", F.lit(0))).cast("bigint").alias("n_overlap"),
            (
                F.floor(
                    F.sum(F.coalesce("inp", F.lit(0))).cast("double")
                    / _MRL_K
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("recall_r4"),
        )
    )

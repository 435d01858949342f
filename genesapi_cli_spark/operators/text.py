"""Text-analysis + deduplication operators (SURVEY.md §2.10; BASELINE.json
mandates dedup/text-analysis as first-class for LLM-data pipelines).

Reference analog: the content-hash ``fact_id`` dedup of
``genesapi/serialize.py (upstream)`` generalizes to corpus-level exact and
near dedup.

Scale notes:
- exact dedup hashes every doc once (sha256, JVM-side) and aggregates by
  digest — one shuffle keyed by a uniformly distributed 256-bit key: no skew
  by construction. At 100 TB this is the canonical first pass.
- MinHash-LSH: shingle → per-seed min-hash signatures via a single explode +
  32 min-aggregates (one shuffle on doc_id), then band signatures and a
  self-join on (band_id, band_hash) — candidate pairs only, never the O(n²)
  pair space. Deterministic seeds (murmur3 with per-seed salt) keep reruns
  reproducible. Bands with huge buckets (degenerate near-identical corpora)
  are the skew risk; AQE skew-join handles moderate cases, and a bucket-size
  cap is the documented escape hatch.
- tf-idf: two aggregations over the exploded term table + a broadcast of the
  document count; df table is term-keyed (bounded by vocabulary, not corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from genesapi_cli_spark.io import (
    CACHE,
    load,
    spread,
    source_stamps,
)
from genesapi_cli_spark.registry import DEC, oracle_r4, r4, register

# --- q_dedup_exact ----------------------------------------------------------

_DEDUP_EXACT_ORACLE = """
SELECT lang,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT sha256(text)) AS n_unique,
       COUNT(*) - COUNT(DISTINCT sha256(text)) AS n_dup_rows,
       MIN(keep_id) AS min_keep_id
FROM (
  SELECT lang, text, MIN(doc_id) OVER (PARTITION BY sha256(text)) AS keep_id
  FROM documents
)
GROUP BY lang
"""


@register("q_dedup_exact", oracle=_DEDUP_EXACT_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup: canonical keeper = min(doc_id) per sha2(text, 256)
    (the reference's fact_id content-hash identity), summarized per lang.
    sha2 hex output matches DuckDB's sha256 byte-for-byte."""
    docs = load(spark, sf_dir, "documents")
    sha = F.sha2(F.col("text"), 256)
    keep = F.min("doc_id").over(Window.partitionBy(sha))
    return (
        docs.select("lang", sha.alias("sha"), keep.alias("keep_id"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("sha").alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct("sha")).alias("n_dup_rows"),
            F.min("keep_id").alias("min_keep_id"),
        )
    )


# --- q_text_wordcount -------------------------------------------------------

_WORDCOUNT_ORACLE = """
SELECT term, COUNT(*) AS n
FROM (
  SELECT unnest(string_split(lower(text), ' ')) AS term
  FROM documents
)
WHERE LENGTH(term) > 2
GROUP BY term
ORDER BY n DESC, term
LIMIT 20
"""


@register("q_text_wordcount", oracle=_WORDCOUNT_ORACLE)
def q_text_wordcount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus top-20 terms: explode(split(lower)), length filter, count.
    Ties broken by term so the LIMIT is deterministic."""
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .filter(F.length("term") > 2)
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "term")
        .limit(20)
    )


# --- q_text_tfidf -----------------------------------------------------------

_TFIDF_ORACLE = f"""
WITH terms AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
), filtered AS (
  SELECT doc_id, term FROM terms WHERE LENGTH(term) > 2
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf FROM filtered GROUP BY doc_id, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM filtered GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         tf.tf * LN(CAST(n_docs AS DOUBLE) / df.df) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
), ranked AS (
  SELECT doc_id, term, tf, df,
         {oracle_r4('tfidf', 'tfidf_r')},
         ROW_NUMBER() OVER (
           PARTITION BY doc_id
           ORDER BY FLOOR(tfidf * 10000 + 0.5) / 10000 DESC, term
         ) AS rn
  FROM scored
)
SELECT doc_id, term, tf, df, tfidf_r, rn FROM ranked WHERE rn <= 3
"""


@register("q_text_tfidf", oracle=_TFIDF_ORACLE)
def q_text_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf-idf with top-3 terms per document. Ranking happens on the
    deterministically-rounded score (ties then break by term) so a last-ulp
    libm difference in LN can never flip the keep-set across engines."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    # N as a broadcast 1-row aggregate INSIDE the plan — a driver-side
    # .count() here would run a whole extra job per invocation
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    terms = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .filter(F.length("term") > 2)
    )
    tf = terms.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    # df derives from tf (rows are unique per (doc, term)) — the explode+agg
    # pipeline runs once instead of once per branch
    df = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .withColumn("tfidf", F.col("tf") * F.log(F.col("n_docs") / F.col("df")))
    )
    rounded = scored.withColumn("tfidf_r", F.floor(F.col("tfidf") * 10000 + F.lit(0.5)) / 10000)
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf_r").desc(), "term")
    return (
        rounded.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tf", "df", "tfidf_r", "rn")
    )


# --- q_text_stats -----------------------------------------------------------

_TEXT_STATS_ORACLE = """
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
       COUNT(DISTINCT source) AS n_sources
FROM documents
GROUP BY lang
"""


@register("q_text_stats", oracle=_TEXT_STATS_ORACLE)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus stats per language (catalog stats in genesapi/schema.py
    upstream). Integer sum is exact; one double division for the mean."""
    docs = load(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1))).alias("avg_chars"),
        F.countDistinct("source").alias("n_sources"),
    )


# --- q_dedup_near_minhash ---------------------------------------------------

N_HASHES = 32
N_BANDS = 8  # 4 rows per band

#: Universal-hash family for the 32 minhash functions: each shingle gets ONE
#: sha256 (both engines byte-identical), two 32-bit hex prefixes become
#: (h1, h2), and hash_j = (a_j*h1 + b_j*h2 + j) mod p with p = 2^31-1.
#: a_j, b_j < 2^30 keep every product under 2^61 — no bigint overflow in
#: Spark ANSI mode or DuckDB. This replaces the round-1/2 xxhash64 scheme:
#: same plan shape, but every value is reproducible in the DuckDB oracle.
_MH_P = 2147483647
_MH_AB = [
    (
        ((j * 2654435761 + 1013904223) % (1 << 30)) | 1,
        ((j * 1597334677 + 362437) % (1 << 30)) | 1,
    )
    for j in range(N_HASHES)
]
_PER_BAND = N_HASHES // N_BANDS


def near_minhash_oracle_ctes() -> str:
    """Shared DuckDB CTE chain ending in ``pairs(doc_a, doc_b)`` — reused by
    the q_dedup_clusters recursive-CTE oracle so both prove the SAME pair
    relation."""
    mins = ",\n         ".join(
        f"MIN(({a} * h1 + {b} * h2 + {j}) % {_MH_P}) AS m{j}"
        for j, (a, b) in enumerate(_MH_AB)
    )
    band_rows = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band,"
        " ((m{i0} * 31 + m{i1}) * 31 + m{i2}) * 31 + m{i3} AS bkey FROM mins".format(
            b=b,
            i0=b * _PER_BAND,
            i1=b * _PER_BAND + 1,
            i2=b * _PER_BAND + 2,
            i3=b * _PER_BAND + 3,
        )
        for b in range(N_BANDS)
    )
    return f"""t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS parts, lower(text) AS lt
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(
           CASE WHEN len(parts) >= 3
                THEN list_transform(range(1, len(parts) - 1),
                     i -> concat_ws(' ', parts[i], parts[i+1], parts[i+2]))
                ELSE [lt] END
         ) AS g
  FROM t
), h AS (
  SELECT doc_id,
         ('0x' || substr(sha256(g), 1, 8))::BIGINT % {_MH_P} AS h1,
         ('0x' || substr(sha256(g), 9, 8))::BIGINT % {_MH_P} AS h2
  FROM sh
), mins AS (
  SELECT doc_id,
         {mins}
  FROM h GROUP BY doc_id
), bands AS (
{band_rows}
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
)"""


_NEAR_MINHASH_ORACLE = f"WITH {near_minhash_oracle_ctes()}\nSELECT doc_a, doc_b FROM pairs"


# Session-scoped memo of the candidate-pair relation (same convention as
# graph.shared_copurchase_edges): q_dedup_clusters and q_dedup_keep both
# consume the exact pair relation this query emits, so the first consumer
# materializes it (lazy localCheckpoint) and the rest read cached blocks —
# the runtime analog of persisting the LSH pair table next to the corpus.
def build_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UN-checkpointed MinHash-LSH pair plan — separate from the
    memoizing registry entry so the plan-snapshot gate fingerprints the
    shared subtree itself (consumers hash the post-checkpoint stump).

    Pipeline: explode shingle positions into a flat whole-stage-codegen
    projection, sha256 each 3-word shingle ONCE, derive all 32 minhash
    values from the two 32-bit prefixes with a universal-hash family
    (portable: the DuckDB oracle reproduces every value bit-for-bit) → 32
    per-seed MIN aggregates in ONE groupBy (MIN is duplicate-insensitive,
    so no per-doc distinct is needed) → 8 arithmetic band keys →
    bucket-local pair generation.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    base = docs.select("doc_id", "text", F.split(F.lower("text"), " ").alias("parts"))
    p = F.col("parts")
    long_docs = base.filter(F.size(p) >= 3).select(
        "doc_id", "parts", F.explode(F.sequence(F.lit(1), F.size(p) - 2)).alias("i")
    ).select(
        "doc_id",
        F.concat_ws(
            " ", *[F.element_at("parts", F.col("i") + k) for k in range(3)]
        ).alias("g"),
    )
    # docs shorter than 3 words fall back to hashing the whole lowered text
    short_docs = base.filter(F.size(p) < 3).select(
        "doc_id", F.lower(F.col("text")).alias("g")
    )
    hx = F.sha2(F.col("g"), 256)
    hashed = long_docs.unionByName(short_docs).select(
        "doc_id",
        (F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % _MH_P).alias("h1"),
        (F.conv(F.substring(hx, 9, 8), 16, 10).cast("long") % _MH_P).alias("h2"),
    )
    sig = hashed.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(a) * F.col("h1") + F.lit(b) * F.col("h2") + F.lit(j)) % _MH_P
            ).alias(f"m{j}")
            for j, (a, b) in enumerate(_MH_AB)
        ]
    )
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                (
                    (
                        (
                            F.col(f"m{b * _PER_BAND}") * 31
                            + F.col(f"m{b * _PER_BAND + 1}")
                        )
                        * 31
                        + F.col(f"m{b * _PER_BAND + 2}")
                    )
                    * 31
                    + F.col(f"m{b * _PER_BAND + 3}")
                ).alias("band_hash"),
            )
            for b in range(N_BANDS)
        ]
    )
    banded = sig.select("doc_id", F.explode(bands).alias("band")).select(
        "doc_id", F.col("band.band_id").alias("band_id"), F.col("band.band_hash").alias("band_hash")
    )
    # Pair generation WITHOUT a self-join: group each LSH bucket, keep the
    # (rare) buckets with >1 doc, and emit the in-bucket combinations from the
    # sorted id array. A self-join here would recompute the whole
    # shingle+signature pipeline for both sides AND shuffle twice; this form
    # shuffles once and bounds pair fan-out per bucket (the LSH guarantee).
    buckets = (
        banded.groupBy("band_id", "band_hash")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pair_array = F.flatten(
        F.transform(
            F.col("ids"),
            lambda a, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    return (
        buckets.select(F.explode(pair_array).alias("p"))
        .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .distinct()
    )


@register("q_dedup_near_minhash", oracle=_NEAR_MINHASH_ORACLE)
def q_dedup_near_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate candidate pairs via MinHash-LSH over word 3-shingles —
    see build_minhash_pairs for the full pipeline narration. The ENTIRE
    candidate set is value-checked by the oracle; golden-pair behavior (a
    one-word-changed near-dup pair must collide) is additionally
    pytest-pinned. Session-memoized: q_dedup_clusters and q_dedup_keep
    consume the same pair relation (the persisted-LSH-pair-table analog).
    """
    return CACHE.get_or_build(
        spark, "minhash_pairs", lambda: build_minhash_pairs(spark, sf_dir), sf_dir,
        source_stamps(sf_dir, "documents"), checkpoint=True,
    )


# --- q_text_langid ----------------------------------------------------------

#: Disjoint marker-word lists per language label. The corpus vocabulary is
#: synthetic (FIXTURES.md), so these are demo marker sets: the OPERATOR is the
#: real deliverable — per-doc keyword-vote scoring + deterministic argmax, the
#: exact shape of an n-gram language-ID heuristic at 100 TB (fixed tiny model
#: broadcast to every executor; one pass; no shuffle before the final rollup).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("table", "row", "column"),
    "en": ("the", "a", "value"),
    "es": ("query", "scan", "filter"),
    "fr": ("join", "merge", "sort"),
    "zh": ("stream", "batch", "window"),
}

_LANGS = sorted(LANG_MARKERS)  # argmax tie-break: alphabetical


def _langid_oracle() -> str:
    score_cols = ",\n         ".join(
        "len(list_filter(string_split(lower(text), ' '), w -> w IN ({}))) AS s_{}".format(
            ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]), lang
        )
        for lang in _LANGS
    )
    mx = "GREATEST({})".format(", ".join(f"s_{lang}" for lang in _LANGS))
    pred = "CASE " + " ".join(
        f"WHEN s_{lang} = mx THEN '{lang}'" for lang in _LANGS
    ) + " END"
    return f"""
WITH scored AS (
  SELECT doc_id, lang,
         {score_cols}
  FROM documents
), mxd AS (
  SELECT doc_id, lang, {mx} AS mx, * FROM scored
)
SELECT lang, {pred} AS pred, COUNT(*) AS n_docs
FROM mxd
GROUP BY lang, pred
"""


@register("q_text_langid", oracle=_langid_oracle())
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: marker-word votes per language, argmax with
    alphabetical tie-break; output is the (actual, predicted) confusion
    rollup. All scoring is integer HOF filtering — JVM-side, no shuffle
    until the final small groupBy."""
    docs = spread(load(spark, sf_dir, "documents"))
    parts = F.split(F.lower("text"), " ")

    def marker_hits(lang: str):
        markers = LANG_MARKERS[lang]
        return F.size(F.filter(parts, lambda w: w.isin(*markers)))

    scored = docs.select(
        "doc_id",
        "lang",
        *[marker_hits(lang).alias(f"s_{lang}") for lang in _LANGS],
    )
    mx = F.greatest(*[F.col(f"s_{lang}") for lang in _LANGS])
    chain = F.when(F.col(f"s_{_LANGS[0]}") == mx, F.lit(_LANGS[0]))
    for lang in _LANGS[1:]:
        chain = chain.when(F.col(f"s_{lang}") == mx, F.lit(lang))
    return (
        scored.withColumn("pred", chain)
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# --- q_text_quality ---------------------------------------------------------

_STOPWORDS = ("a", "the")

_QUALITY_ORACLE = f"""
WITH m AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS n_tokens,
         LENGTH(text) AS n_chars,
         len(list_filter(string_split(lower(text), ' '),
             w -> w IN ('a', 'the'))) AS n_stop
  FROM documents
), r AS (
  SELECT doc_id, lang, n_tokens,
         CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens AS mean_wlen,
         CAST(n_stop AS DOUBLE) / n_tokens AS stop_ratio
  FROM m
)
SELECT doc_id, lang, n_tokens,
       {oracle_r4('mean_wlen', 'mean_wlen_r')},
       {oracle_r4('stop_ratio', 'stop_ratio_r')},
       {oracle_r4(
           "LEAST(n_tokens / 50.0, 1.0) * 0.5"
           " + (1.0 - stop_ratio) * 0.3"
           " + LEAST(mean_wlen / 5.0, 1.0) * 0.2",
           'score_r',
       )}
FROM r
"""


@register("q_text_quality", oracle=_QUALITY_ORACLE)
def q_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality score from cheap structural signals: token count,
    mean word length, stopword ratio — the standard pre-training corpus
    filter shape (C4/Gopher-style rules), as one JVM-side projection with no
    shuffle at all. Score = 0.5·len_sat + 0.3·(1−stop_ratio) + 0.2·wlen_sat,
    deterministically rounded."""
    docs = spread(load(spark, sf_dir, "documents"))
    parts = F.split(F.col("text"), " ")
    n_tokens = F.size(parts)
    n_stop = F.size(
        F.filter(F.split(F.lower("text"), " "), lambda w: w.isin(*_STOPWORDS))
    )
    mean_wlen = (F.length("text") - (n_tokens - 1)).cast("double") / n_tokens
    stop_ratio = n_stop.cast("double") / n_tokens
    score = (
        F.least(n_tokens / F.lit(50.0), F.lit(1.0)) * 0.5
        + (F.lit(1.0) - stop_ratio) * 0.3
        + F.least(mean_wlen / F.lit(5.0), F.lit(1.0)) * 0.2
    )
    return docs.select(
        "doc_id",
        "lang",
        n_tokens.alias("n_tokens"),
        r4(mean_wlen, "mean_wlen_r"),
        r4(stop_ratio, "stop_ratio_r"),
        r4(score, "score_r"),
    )


# --- q_text_tokens ----------------------------------------------------------

_TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"

_TOKENS_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS ws_tokens,
         len(regexp_extract_all(lower(text), '{_TOKEN_RE}')) AS re_tokens,
         len(list_filter(string_split(text, ' '), w -> LENGTH(w) > 5)) AS long_tokens
  FROM documents
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(ws_tokens) AS BIGINT) AS sum_ws,
       CAST(SUM(re_tokens) AS BIGINT) AS sum_re,
       CAST(SUM(long_tokens) AS BIGINT) AS sum_long,
       CAST(SUM(ws_tokens) AS DOUBLE) / COUNT(*) AS avg_ws
FROM t
GROUP BY lang
"""


@register("q_text_tokens", oracle=_TOKENS_ORACLE)
def q_text_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways — whitespace split and a BPE-ish regex
    lexer (letter runs | digit runs | single other-glyph), the standard
    pre-tokenizer shape — rolled up per lang. Counting stays JVM-side
    (regexp_extract_all + size); only per-doc ints reach the shuffle."""
    docs = spread(load(spark, sf_dir, "documents"))
    t = docs.select(
        "lang",
        F.size(F.split(F.col("text"), " ")).alias("ws_tokens"),
        F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(_TOKEN_RE), 0)
        ).alias("re_tokens"),
        F.size(
            F.filter(F.split(F.col("text"), " "), lambda w: F.length(w) > 5)
        ).alias("long_tokens"),
    )
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("sum_ws"),
        F.sum("re_tokens").alias("sum_re"),
        F.sum("long_tokens").alias("sum_long"),
        (F.sum("ws_tokens").cast("double") / F.count(F.lit(1))).alias("avg_ws"),
    )


# --- q_text_fingerprint -----------------------------------------------------

FP_K = 5  # char k-gram length
FP_W = 4  # winnowing window (k-grams per window)

_FINGERPRINT_ORACLE = f"""
WITH pos AS (
  SELECT doc_id, lang, lower(text) AS t,
         unnest(range(1, GREATEST(LENGTH(text) - {FP_K - 1}, 1) + 1)) AS p
  FROM documents
), grams AS (
  SELECT doc_id, lang, p,
         ('0x' || substr(sha256(substr(t, p::INT, {FP_K})), 1, 15))::BIGINT AS h
  FROM pos
), fp AS (
  SELECT doc_id, lang,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                      ROWS BETWEEN CURRENT ROW AND {FP_W - 1} FOLLOWING) AS f
  FROM grams
)
SELECT doc_id, MIN(lang) AS lang,
       COUNT(DISTINCT f) AS n_fp, MIN(f) AS min_fp
FROM fp
GROUP BY doc_id
"""


@register("q_text_fingerprint", oracle=_FINGERPRINT_ORACLE)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al. local-minima
    selection): hash every char 5-gram (sha256-prefix rolling the window by
    position), keep the minimum hash of each 4-gram window, distinct mins =
    the fingerprint set. Guarantees any shared substring ≥ k+w−1 chars yields
    a shared fingerprint — the classic plagiarism/dup sketch.

    Plan: one explode over positions (no joins), a doc-partitioned sliding
    window min, then a per-doc distinct-count — all shuffles keyed by doc_id.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    t = F.lower("text")
    positions = F.sequence(
        F.lit(1), F.greatest(F.length("text") - (FP_K - 1), F.lit(1))
    )
    pos = docs.select(
        "doc_id", "lang", t.alias("t"), F.explode(positions).alias("p")
    )
    h = F.conv(
        F.substring(F.sha2(F.substring(F.col("t"), F.col("p"), F.lit(FP_K)), 256), 1, 15),
        16,
        10,
    ).cast("long")
    grams = pos.select("doc_id", "lang", "p", h.alias("h"))
    w = Window.partitionBy("doc_id").orderBy("p").rowsBetween(0, FP_W - 1)
    fp = grams.select("doc_id", "lang", F.min("h").over(w).alias("f"))
    return fp.groupBy("doc_id").agg(
        F.min("lang").alias("lang"),
        F.countDistinct("f").alias("n_fp"),
        F.min("f").alias("min_fp"),
    )


# --- q_text_bigrams ---------------------------------------------------------

_BIGRAMS_ORACLE = """
WITH toks AS (
  SELECT string_split(lower(text), ' ') AS t FROM documents
), grams AS (
  SELECT unnest([t[i] || ' ' || t[i + 1] FOR i IN range(1, len(t))]) AS bigram
  FROM toks
)
SELECT bigram, COUNT(*) AS n
FROM grams
WHERE LENGTH(bigram) > 6
GROUP BY bigram
ORDER BY n DESC, bigram
LIMIT 20
"""


@register("q_text_bigrams", oracle=_BIGRAMS_ORACLE)
def q_text_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus bigrams: adjacent-token pairs via an index-transform over
    the token array — the n-gram collocation step of corpus analysis /
    phrase-vocabulary mining for tokenizer training.

    Positions explode first and the pair concat runs as a flat whole-stage-
    codegen projection (an interpreted ``transform`` lambda doesn't codegen);
    the only shuffle is the count aggregation, with map-side partial counts
    doing most of the work. Ties break on the bigram string so LIMIT is
    deterministic.

    The token array is hoisted into its own projection: referenced by both
    the explode bound and the pair lookup, so CollapseProject keeps it
    materialized once per row instead of re-splitting the document per
    reference (~30× at sf0.1).
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.split(F.lower("text"), " ").alias("t")).filter(
        F.size("t") >= 2
    )
    grams = toks.select(
        "t", F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i")
    ).select(
        F.concat(
            F.element_at("t", F.col("i")),
            F.lit(" "),
            F.element_at("t", F.col("i") + 1),
        ).alias("bigram")
    )
    return (
        grams.filter(F.length("bigram") > 6)
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


# --- q_text_repetition ------------------------------------------------------

_REPETITION_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents
), grams AS (
  SELECT doc_id, lang, t[i] || ' ' || t[i + 1] AS g
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) _
  WHERE len(t) >= 2
), per_gram AS (
  SELECT doc_id, lang, g, COUNT(*) AS c FROM grams GROUP BY 1, 2, 3
), per_doc AS (
  SELECT doc_id, lang, MAX(c) AS mx, SUM(c) AS tot FROM per_gram GROUP BY 1, 2
), fr AS (
  SELECT lang, CAST(mx AS DOUBLE) / CAST(tot AS DOUBLE) AS frac FROM per_doc
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN frac > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
       CAST(SUM(CAST(frac AS DECIMAL(18,7))) AS DOUBLE) / COUNT(*) AS avg_top_bigram_frac
FROM fr
GROUP BY lang
"""


@register("q_text_repetition", oracle=_REPETITION_ORACLE)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: a document whose single most frequent
    bigram covers >10% of all its bigrams is template/boilerplate-like.
    Reports per-language doc counts, repetitive counts, and the mean
    top-bigram fraction — the aggregate a pipeline monitors to tune the
    threshold before filtering a 100 TB crawl.

    Plan: bigrams come from one in-row transform (no tokenize re-split per
    reference), then two hash aggregates (gram counts → per-doc max/total);
    both are map-side combinable and key on doc_id, so the second agg
    reuses the first's partitioning (no extra exchange under AQE). The mean
    goes through an exact decimal sum (partition-order independent); the
    per-doc fraction is a single double division — identical IEEE result in
    both engines.
    """
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.split(F.lower("text"), " ").alias("t")
    ).filter(F.size("t") >= 2)
    # Positions explode first; the bigram group key is the xxhash64 of the
    # word PAIR (flat codegen, no string build). Hashed keys group exactly
    # like string keys — the tuple↔string map is 1:1 (words cannot contain
    # the delimiter) — and count distributions are all the query reports.
    grams = toks.select(
        "doc_id", "lang", "t", F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i")
    ).select(
        "doc_id",
        "lang",
        F.xxhash64(F.element_at("t", F.col("i")), F.element_at("t", F.col("i") + 1)).alias("g"),
    )
    per_doc = (
        grams.groupBy("doc_id", "lang", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id", "lang")
        .agg(F.max("c").alias("mx"), F.sum("c").alias("tot"))
    )
    frac = F.col("mx").cast("double") / F.col("tot").cast("double")
    fr = per_doc.select("lang", frac.alias("frac"))
    return fr.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("frac") > 0.1, 1).otherwise(0).cast("long")).alias("n_repetitive"),
        (F.sum(F.col("frac").cast(DEC)).cast("double") / F.count(F.lit(1))).alias(
            "avg_top_bigram_frac"
        ),
    )


# --- q_text_redact ----------------------------------------------------------

#: The PII ladder, applied in THIS order — structured classes first so the
#: generic digit-run rule never eats an IPv4 octet or a phone before the
#: class-specific template lands. Patterns restricted to the regex subset
#: where Java (Spark) and RE2 (DuckDB) agree: literal classes, bounded
#: repetition, no backreferences/lookaround.
_REDACT_LADDER = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", r"\+?[0-9][0-9-]{6,}[0-9]", "<PHONE>"),
    ("num", r"[0-9]+", "<NUM>"),
)


def _redact_oracle() -> str:
    s = "props"
    cnt_cols = []
    for name, pat, token in _REDACT_LADDER:
        cnt_cols.append(
            f"len(regexp_extract_all({s}, '{pat}')) AS c_{name}"
        )
        s = f"regexp_replace({s}, '{pat}', '{token}', 'g')"
    cnts = ",\n         ".join(cnt_cols)
    return f"""
WITH r AS (
  SELECT event_type,
         {cnts},
         {s} AS redacted,
         length(props) - length(regexp_replace(props, '[0-9]', '', 'g'))
           AS n_digit_chars
  FROM events
)
SELECT event_type,
       COUNT(*) AS n,
       CAST(SUM(c_email) AS BIGINT) AS n_email,
       CAST(SUM(c_ip) AS BIGINT) AS n_ip,
       CAST(SUM(c_phone) AS BIGINT) AS n_phone,
       CAST(SUM(c_num) AS BIGINT) AS n_num,
       CAST(SUM(n_digit_chars) AS BIGINT) AS digits_removed,
       COUNT(DISTINCT redacted) AS n_distinct_shapes,
       MIN(redacted) AS sample_shape
FROM r
GROUP BY event_type
"""


@register("q_text_redact", oracle=_redact_oracle())
def q_text_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction LADDER — the scrubbing pass a training-data pipeline
    runs before anything leaves the raw zone: email → IPv4 → phone →
    generic digit run, each class replaced by its template token IN THAT
    ORDER (structured classes first, so the generic digit rule never eats
    an IPv4 octet or a phone digit before the class-specific template
    lands), with a per-class match count so the redaction profile says
    WHAT kind of PII each event stream leaks, not just how much. On this
    synthetic corpus the email/ip/phone counts are structurally zero (the
    props payloads carry bare integers only) — the oracle still proves the
    ladder's composition order and the per-class counters end-to-end, and
    a real corpus exercises the same plan with nonzero rows.

    Pure codegen'd regexp projection ladder — no Python, no UDF — followed
    by one hash aggregate; at 100 TB the four replaces stream through the
    scan in one stage with zero extra shuffles. `n_distinct_shapes` is the
    fleet-health signal: a redacted corpus should collapse to few
    templates; an explosion means a new unredacted pattern is leaking
    through.

    Parity: patterns restricted to the Java/RE2-agreeing subset (literal
    classes, bounded repetition); Spark regexp_replace is global by
    default = DuckDB 'g'; match counts via regexp_extract_all on BOTH
    sides."""
    ev = load(spark, sf_dir, "events")
    s = F.col("props")
    cnts = {}
    for name, pat, token in _REDACT_LADDER:
        cnts[name] = F.size(F.regexp_extract_all(s, F.lit(pat), F.lit(0)))
        s = F.regexp_replace(s, pat, token)
    n_digits = F.length("props") - F.length(
        F.regexp_replace(F.col("props"), "[0-9]", "")
    )
    r = ev.select(
        "event_type",
        *[cnts[name].alias(f"c_{name}") for name, _, _ in _REDACT_LADDER],
        s.alias("redacted"),
        n_digits.alias("n_digit_chars"),
    )
    return r.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("c_email").cast("bigint").alias("n_email"),
        F.sum("c_ip").cast("bigint").alias("n_ip"),
        F.sum("c_phone").cast("bigint").alias("n_phone"),
        F.sum("c_num").cast("bigint").alias("n_num"),
        F.sum("n_digit_chars").cast("bigint").alias("digits_removed"),
        F.countDistinct("redacted").alias("n_distinct_shapes"),
        F.min("redacted").alias("sample_shape"),
    )


# --- q_text_unigram_lm ------------------------------------------------------

_UNIGRAM_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
), vocab AS (
  SELECT lang, tok, COUNT(*) AS c FROM toks GROUP BY lang, tok
), totals AS (
  SELECT lang, CAST(SUM(c) AS BIGINT) AS total FROM vocab GROUP BY lang
), logp AS (
  SELECT v.lang, v.tok,
         FLOOR(LN(CAST(v.c AS DOUBLE) / t.total) * 1000000 + 0.5) / 1000000 AS lp
  FROM vocab v JOIN totals t USING (lang)
), scored AS (
  SELECT k.doc_id, k.lang,
         COUNT(*) AS n_toks,
         CAST(SUM(CAST(l.lp AS DECIMAL(18,7))) AS DOUBLE) AS sum_lp
  FROM toks k JOIN logp l ON k.lang = l.lang AND k.tok = l.tok
  GROUP BY k.doc_id, k.lang
)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(MIN(n_toks) AS BIGINT) AS min_toks,
       FLOOR(MIN(sum_lp / n_toks) * 10000 + 0.5) / 10000 AS worst_avg_lp,
       FLOOR(MAX(sum_lp / n_toks) * 10000 + 0.5) / 10000 AS best_avg_lp
FROM scored
GROUP BY lang
"""


@register("q_text_unigram_lm", oracle=_UNIGRAM_ORACLE)
def q_text_unigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality scoring: a corpus-trained unigram language model
    scores every document by mean token log-probability — the statistical
    rung above heuristic quality filters (CCNet's KenLM step reduced to its
    distributed essentials: TRAIN pass = count tokens, SCORE pass = join
    log-probs back, both over the same lake).

    Scale shape: vocab is tiny relative to the corpus (Zipf), so the score
    join broadcasts the per-lang log-prob table onto the token stream — the
    100 TB scan shuffles only for the per-doc aggregate. Parity: ln() is
    snapped to integer micros (floor-form) BEFORE summation; snapped values
    sit on the 1e-6 grid so the decimal-cast sum has no rounding ties, and
    the final per-lang extremes are floor-rounded.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    vocab = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    totals = vocab.groupBy("lang").agg(F.sum("c").cast("bigint").alias("total"))
    logp = vocab.join(F.broadcast(totals), "lang").select(
        "lang",
        "tok",
        (
            F.floor(F.log(F.col("c").cast("double") / F.col("total")) * 1000000 + F.lit(0.5))
            / 1000000
        ).alias("lp"),
    )
    scored = (
        toks.join(F.broadcast(logp), ["lang", "tok"])
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.sum(F.col("lp").cast("decimal(18,7)")).cast("double").alias("sum_lp"),
        )
    )
    avg = F.col("sum_lp") / F.col("n_toks")
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("n_toks").cast("bigint").alias("min_toks"),
        (F.floor(F.min(avg) * 10000 + F.lit(0.5)) / 10000).alias("worst_avg_lp"),
        (F.floor(F.max(avg) * 10000 + F.lit(0.5)) / 10000).alias("best_avg_lp"),
    )


# --- q_vocab_coverage -------------------------------------------------------

_VOCAB_ORACLE = """
WITH toks AS (
  SELECT lang, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
), vocab AS (
  SELECT lang, tok, COUNT(*) AS c FROM toks GROUP BY lang, tok
), ranked AS (
  SELECT lang, tok, c,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY c DESC, tok) AS rk,
         SUM(c) OVER (PARTITION BY lang ORDER BY c DESC, tok
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(c) OVER (PARTITION BY lang) AS total
  FROM vocab
)
SELECT lang,
       CAST(MAX(total) AS BIGINT) AS n_tokens,
       COUNT(*) AS n_vocab,
       CAST(MIN(CASE WHEN cum * 100 >= total * 99 THEN rk END) AS BIGINT) AS vocab_p99,
       CAST(MIN(CASE WHEN cum * 2 >= total THEN rk END) AS BIGINT) AS vocab_p50
FROM ranked
GROUP BY lang
"""


@register("q_vocab_coverage", oracle=_VOCAB_ORACLE)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary sizing: per language, how many distinct tokens
    (by descending frequency) cover 50% / 99% of all token occurrences —
    the Zipf-coverage analysis that sizes a tokenizer vocab before training
    it, and a drift check afterwards.

    Plan: token hash-count (the scan's only full shuffle, map-side combined)
    → per-lang frequency ranking + running coverage in ONE window sort over
    the (small, Zipf-compressed) vocab table. The coverage threshold is an
    exact integer cross-multiply (cum·100 ≥ total·99) — no float division
    anywhere in the operator.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("lang", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    vocab = toks.groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    wo = Window.partitionBy("lang").orderBy(F.col("c").desc(), F.col("tok"))
    ranked = vocab.select(
        "lang",
        "c",
        F.row_number().over(wo).alias("rk"),
        F.sum("c").over(wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)).alias("cum"),
        F.sum("c").over(Window.partitionBy("lang")).alias("total"),
    )
    return ranked.groupBy("lang").agg(
        F.max("total").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_vocab"),
        F.min(F.when(F.col("cum") * 100 >= F.col("total") * 99, F.col("rk")))
        .cast("bigint")
        .alias("vocab_p99"),
        F.min(F.when(F.col("cum") * 2 >= F.col("total"), F.col("rk")))
        .cast("bigint")
        .alias("vocab_p50"),
    )


# --- q_text_entropy ---------------------------------------------------------

_ENTROPY_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
), cnt AS (
  SELECT doc_id, lang, tok, COUNT(*) AS c FROM toks GROUP BY doc_id, lang, tok
), ent AS (
  SELECT doc_id, lang,
         CAST(SUM(c) AS BIGINT) AS n,
         CAST(SUM(c * CAST(FLOOR(LN(CAST(c AS DOUBLE)) * 1000000 + 0.5) AS BIGINT))
              AS DOUBLE) AS s_clnc
  FROM cnt GROUP BY doc_id, lang
), h AS (
  SELECT doc_id, lang, n,
         FLOOR(LN(CAST(n AS DOUBLE)) * 1000000 + 0.5) / 1000000.0
           - s_clnc / (CAST(n AS DOUBLE) * 1000000.0) AS entropy
  FROM ent
)
SELECT lang,
       COUNT(*) AS n_docs,
       FLOOR(MIN(entropy) * 10000 + 0.5) / 10000 AS min_entropy,
       FLOOR(MAX(entropy) * 10000 + 0.5) / 10000 AS max_entropy,
       CAST(SUM(CASE WHEN entropy < 3.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_entropy
FROM h
GROUP BY lang
"""


@register("q_text_entropy", oracle=_ENTROPY_ORACLE)
def q_text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution Shannon entropy per document — the randomness
    filter of corpus curation: near-zero entropy flags boilerplate/repeated
    junk, abnormally high entropy flags encoded blobs or alphabet soup; both
    ends get dropped before training.

    H = ln(n) − Σc·ln(c)/n via exact integer arithmetic: ln(c) snapped to
    integer micros (c has few distinct values — Zipf — so libm ulp drift
    can't straddle a snap boundary), multiplied by the exact count, and
    integer-summed; the closed form on top is identical double math in both
    engines, so even the <3.0 low-entropy threshold compare is
    deterministic. Plan: per-doc token hash-count → per-doc agg → per-lang
    rollup, all map-side combined — one data shuffle on (doc,tok), then
    shuffles only of shrinking aggregates.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    cnt = toks.groupBy("doc_id", "lang", "tok").agg(F.count(F.lit(1)).alias("c"))
    lnc_micro = F.floor(F.log(F.col("c").cast("double")) * 1000000 + F.lit(0.5))
    ent = cnt.groupBy("doc_id", "lang").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.col("c") * lnc_micro).cast("double").alias("s_clnc"),
    )
    entropy = (
        F.floor(F.log(F.col("n").cast("double")) * 1000000 + F.lit(0.5)) / 1000000.0
        - F.col("s_clnc") / (F.col("n").cast("double") * 1000000.0)
    )
    h = ent.select("lang", entropy.alias("entropy"))
    return h.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.floor(F.min("entropy") * 10000 + F.lit(0.5)) / 10000).alias("min_entropy"),
        (F.floor(F.max("entropy") * 10000 + F.lit(0.5)) / 10000).alias("max_entropy"),
        F.sum(F.when(F.col("entropy") < 3.0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_low_entropy"),
    )


# --- q_text_kl_drift --------------------------------------------------------

_KL_ORACLE = """
WITH toks AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
), sc AS (
  SELECT source, tok, COUNT(*) AS c FROM toks GROUP BY source, tok
), gc AS (
  SELECT tok, CAST(SUM(c) AS BIGINT) AS g FROM sc GROUP BY tok
), ns AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM sc GROUP BY source
), ng AS (
  SELECT CAST(SUM(g) AS BIGINT) AS ntot FROM gc
), terms AS (
  SELECT s.source,
         (CAST(s.c AS DOUBLE) / ns.n)
           * (FLOOR(LN((CAST(s.c AS DOUBLE) / ns.n)
                       / (CAST(gc.g AS DOUBLE) / ng.ntot)) * 1000000 + 0.5)
              / 1000000.0) AS t
  FROM sc s
  JOIN gc ON s.tok = gc.tok
  JOIN ns ON s.source = ns.source
  CROSS JOIN ng
)
SELECT source,
       COUNT(*) AS n_vocab,
       FLOOR(CAST(SUM(CAST(t AS DECIMAL(18,7))) AS DOUBLE) * 10000 + 0.5) / 10000
         AS kl_vs_corpus
FROM terms
GROUP BY source
"""


@register("q_text_kl_drift", oracle=_KL_ORACLE)
def q_text_kl_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-mix drift monitoring: KL divergence of each source's token
    distribution against the whole-corpus distribution — the alarm that a
    source's content shifted (new crawler behavior, a spam influx) before
    it contaminates a training mix. KL(P_s‖G) = Σ p·ln(p/g); g>0 wherever
    p>0 because the corpus contains the source.

    Scale shape: one token count per (source, tok) — the only full-data
    shuffle — then per-tok global counts derive FROM that aggregate
    (no second scan), and the tiny global/source totals broadcast back
    onto the vocab table. Parity: the ln of the exact-integer ratio is
    snapped to micros; the p·lp products have irrational-denominator
    rationals (never on the decimal half-grid), so the decimal-cast sum is
    deterministic; final KL floor-rounded.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select("source", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    sc = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    gc = sc.groupBy("tok").agg(F.sum("c").cast("bigint").alias("g"))
    ns = sc.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    ng = gc.agg(F.sum("g").cast("bigint").alias("ntot"))
    p = F.col("c").cast("double") / F.col("n")
    g = F.col("g").cast("double") / F.col("ntot")
    lp = F.floor(F.log(p / g) * 1000000 + F.lit(0.5)) / 1000000.0
    terms = (
        sc.join(gc, "tok")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(ng))
        .select("source", (p * lp).alias("t"))
    )
    return terms.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_vocab"),
        (
            F.floor(
                F.sum(F.col("t").cast("decimal(18,7)")).cast("double") * 10000 + F.lit(0.5)
            )
            / 10000
        ).alias("kl_vs_corpus"),
    )


# --- q_text_stopwords -------------------------------------------------------

_STOPWORD_DF_RATIO = 0.6

_STOPWORDS_ORACLE = f"""
WITH n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df
  FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents
  )
  WHERE LENGTH(term) > 0
  GROUP BY term
)
SELECT term, df,
       FLOOR(CAST(df AS DOUBLE) / n_docs * 10000 + 0.5) / 10000 AS df_ratio
FROM df, n
WHERE CAST(df AS DOUBLE) > {_STOPWORD_DF_RATIO} * n_docs
"""


@register("q_text_stopwords", oracle=_STOPWORDS_ORACLE)
def q_text_stopwords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-driven stopword discovery: terms appearing in more than 60% of
    documents — the data-derived stopword list tokenizer/quality pipelines
    build instead of hard-coding one per language.

    Plan: per-doc term SET via in-row array_distinct before the explode (so
    df counting needs no DISTINCT shuffle over (doc, term) pairs), then one
    hash count per term and a broadcast 1-row corpus count folded in as a
    crossJoin — the 100 TB shape: one shuffle of distinct doc-term pairs,
    nothing else.
    """
    docs = load(spark, sf_dir, "documents")
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    terms = docs.select(
        F.explode(
            F.array_distinct(F.split(F.lower("text"), " "))
        ).alias("term")
    ).filter(F.length("term") > 0)
    df = terms.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    return (
        df.crossJoin(F.broadcast(n))
        .filter(F.col("df").cast("double") > _STOPWORD_DF_RATIO * F.col("n_docs"))
        .select(
            "term",
            "df",
            (
                F.floor(
                    F.col("df").cast("double") / F.col("n_docs") * 10000 + F.lit(0.5)
                )
                / 10000
            ).alias("df_ratio"),
        )
    )


# --- q_text_chunk_overlap (sliding-window RAG chunking) ----------------------

_CHUNK_LEN = 200   # chars per chunk
_CHUNK_STRIDE = 150  # stride => 50-char overlap between neighbors


_CHUNK_ORACLE = f"""
SELECT doc_id,
       CAST(s // {_CHUNK_STRIDE} AS BIGINT) AS chunk_idx,
       CAST(s AS BIGINT) AS chunk_start,
       CAST(length(substr(text, s + 1, {_CHUNK_LEN})) AS BIGINT) AS chunk_len,
       md5(substr(text, s + 1, {_CHUNK_LEN})) AS chunk_md5
FROM documents, UNNEST(range(0, length(text), {_CHUNK_STRIDE})) AS t(s)
WHERE length(text) > 0
"""


@register("q_text_chunk_overlap", oracle=_CHUNK_ORACLE)
def q_text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking with overlap — the retrieval/RAG prep
    step next to q_pack_sequences' training-side packing: every document is
    cut into {_CHUNK_LEN}-char chunks on a {_CHUNK_STRIDE}-char stride, so
    neighboring chunks share {_CHUNK_LEN - _CHUNK_STRIDE} chars and no
    boundary sentence is ever lost to a hard cut. Chunks are identified by
    (doc_id, chunk_idx) and content-addressed by md5, so a downstream
    embedding pipeline can dedup/re-embed incrementally.

    Parity: chunk boundaries are pure integer arithmetic on the SAME text
    bytes; md5 of each substring is engine-portable; the final ragged chunk
    is whatever substr() returns past the end on both engines.

    Scale shape: a NARROW 1→⌈len/stride⌉ explode (sequence + posexplode) —
    no shuffle, no join, no UDF; substring+md5 stay in whole-stage codegen.
    At 100 TB this is embarrassingly parallel and chunk rows can be written
    straight out partitioned by md5 prefix for downstream dedup locality.
    """
    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    starts = F.sequence(
        F.lit(0), F.length("text") - 1, F.lit(_CHUNK_STRIDE)
    )
    exploded = docs.select(
        "doc_id", "text", F.explode(starts).alias("s")
    )
    chunk = F.substring(
        F.col("text"), F.col("s") + 1, _CHUNK_LEN
    )
    return exploded.select(
        "doc_id",
        F.expr(f"CAST(s div {_CHUNK_STRIDE} AS BIGINT)").alias("chunk_idx"),
        F.col("s").cast("bigint").alias("chunk_start"),
        F.length(chunk).cast("bigint").alias("chunk_len"),
        F.md5(chunk).alias("chunk_md5"),
    )


# --- q_text_bigram_lm (conditional bigram LM with add-one smoothing) ---------

_BIGRAM_LM_ORACLE = """
WITH toks AS (
  SELECT doc_id, lang, tok, i FROM (
    SELECT doc_id, lang,
           unnest(string_split(lower(text), ' ')) AS tok,
           unnest(range(1, len(string_split(lower(text), ' ')) + 1)) AS i
    FROM documents
  )
), bi AS (
  SELECT doc_id, lang,
         lag(tok) OVER (PARTITION BY doc_id ORDER BY i) AS w1,
         tok AS w2
  FROM toks
  QUALIFY w1 IS NOT NULL
), c2 AS (
  SELECT lang, w1, w2, COUNT(*) AS c FROM bi GROUP BY lang, w1, w2
), c1 AS (
  SELECT lang, w1, CAST(SUM(c) AS BIGINT) AS ctx FROM c2 GROUP BY lang, w1
), vocab AS (
  SELECT lang, CAST(COUNT(DISTINCT w2) AS BIGINT) AS v FROM c2 GROUP BY lang
), logp AS (
  SELECT c2.lang, c2.w1, c2.w2,
         FLOOR(LN((CAST(c2.c AS DOUBLE) + 1) / (c1.ctx + vocab.v)) * 1000000 + 0.5)
           / 1000000 AS lp
  FROM c2 JOIN c1 USING (lang, w1) JOIN vocab USING (lang)
), scored AS (
  SELECT b.doc_id, b.lang,
         COUNT(*) AS n_bi,
         CAST(SUM(CAST(l.lp AS DECIMAL(18,7))) AS DOUBLE) AS sum_lp
  FROM bi b JOIN logp l ON b.lang = l.lang AND b.w1 = l.w1 AND b.w2 = l.w2
  GROUP BY b.doc_id, b.lang
)
SELECT s.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(v.v) AS vocab_v,
       CAST(MIN(n_bi) AS BIGINT) AS min_bi,
       FLOOR(MIN(sum_lp / n_bi) * 10000 + 0.5) / 10000 AS worst_avg_lp,
       FLOOR(MAX(sum_lp / n_bi) * 10000 + 0.5) / 10000 AS best_avg_lp
FROM scored s JOIN vocab v USING (lang)
GROUP BY s.lang
"""


@register("q_text_bigram_lm", oracle=_BIGRAM_LM_ORACLE)
def q_text_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional bigram language model with add-one smoothing, trained on
    the corpus and scoring every document by mean bigram log-probability —
    the next rung above q_text_unigram_lm (context-aware fluency: "the the"
    scores badly under a bigram model no matter how frequent 'the' is).

    Differential construction: Spark builds bigrams NARROWLY — arrays_zip of
    the token array against its own 1-shifted slice, exploded in place, no
    window and no extra shuffle — while the oracle derives the same pairs
    via LAG over an ordinal window; the hash match proves the zip algebra.
    Probabilities are (c₂+1)/(c₁+V) per lang, ln micro-snapped BEFORE the
    decimal-cast sum (registry parity convention).

    Scale shape (round-12 rewrite, guide §2.3): bigram instances collapse
    to per-(doc, bigram) type counts FIRST — explode keeps a document's
    rows in one partition, so the partial aggregation is near-total
    map-side and everything downstream (train aggregate, score join)
    shuffles collapsed types, never raw instances. c₁ is an unordered
    window over c₂ partitioned by (lang, w1) — the former c₂⋈c₁
    re-aggregate join is gone; V stays a tiny per-lang broadcast. SCORE
    joins the log-prob table back on the bigram key weighted by the type
    count (Σ cnt·lp over exact decimals ≡ the instance-level sum) — a
    shuffle join on purpose (bigram vocab outgrows broadcast at corpus
    scale, unlike the unigram table) — then one per-doc agg.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    arr = docs.select(
        "doc_id", "lang", F.split(F.lower("text"), " ").alias("l")
    ).filter(F.size("l") >= 2)
    bi = arr.select(
        "doc_id",
        "lang",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("l"), 1, F.size("l") - 1).alias("w1"),
                F.expr("slice(l, 2, size(l) - 1)").alias("w2"),
            )
        ).alias("p"),
    ).select("doc_id", "lang", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    # Deliberately NOT checkpointed: re-deriving the zip-explode + map-side
    # collapse for the score pass is cheaper than materializing the bigram
    # type relation (the sf1 substring-screen A/B class) — narrow in-row
    # fan-out loses to the write+read round trip.
    bd = bi.groupBy("doc_id", "lang", "w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    c2 = bd.groupBy("lang", "w1", "w2").agg(F.sum("cnt").cast("bigint").alias("c"))
    vocab = c2.groupBy("lang").agg(
        F.count_distinct("w2").cast("bigint").alias("v")
    )
    ctx = F.sum("c").over(Window.partitionBy("lang", "w1")).cast("bigint")
    logp = (
        c2.withColumn("ctx", ctx)
        .join(F.broadcast(vocab), "lang")
        .select(
            "lang",
            "w1",
            "w2",
            (
                F.floor(
                    F.log((F.col("c").cast("double") + 1) / (F.col("ctx") + F.col("v")))
                    * 1000000
                    + F.lit(0.5)
                )
                / 1000000
            ).alias("lp"),
        )
    )
    scored = (
        bd.join(logp, ["lang", "w1", "w2"])
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_bi"),
            F.sum(F.col("lp").cast("decimal(18,7)") * F.col("cnt"))
            .cast("double")
            .alias("sum_lp"),
        )
    )
    avg = F.col("sum_lp") / F.col("n_bi")
    return (
        scored.join(F.broadcast(vocab), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("v").alias("vocab_v"),
            F.min("n_bi").cast("bigint").alias("min_bi"),
            (F.floor(F.min(avg) * 10000 + F.lit(0.5)) / 10000).alias("worst_avg_lp"),
            (F.floor(F.max(avg) * 10000 + F.lit(0.5)) / 10000).alias("best_avg_lp"),
        )
    )


# --- q_feature_hashing (hashing-trick bag-of-words vectors) ------------------

_FH_DIM = 64  # hashed vector dimensionality


_FH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok FROM documents
), hashed AS (
  SELECT doc_id,
         ('0x' || substr(sha256('i:' || tok), 1, 8))::BIGINT % {_FH_DIM} AS idx,
         CASE WHEN ('0x' || substr(sha256('s:' || tok), 1, 8))::BIGINT % 2 = 0
              THEN 1 ELSE -1 END AS sgn
  FROM toks
), cells AS (
  SELECT doc_id, idx, CAST(SUM(sgn) AS BIGINT) AS v
  FROM hashed GROUP BY doc_id, idx
)
SELECT doc_id,
       CAST(COUNT(CASE WHEN v <> 0 THEN 1 END) AS BIGINT) AS nnz,
       CAST(SUM(ABS(v)) AS BIGINT) AS l1,
       CAST(SUM(v * v) AS BIGINT) AS sq_norm,
       CAST(SUM(v * (idx + 1)) AS BIGINT) AS checksum
FROM cells GROUP BY doc_id
"""


@register("q_feature_hashing", oracle=_FH_ORACLE)
def q_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick (feature-hashing) bag-of-words vectors per document —
    the stateless vectorizer of large-scale text ML: token → dimension by
    hash, ± sign by a second hash (Weinberger et al.'s signed variant, which
    keeps collisions unbiased), NO vocabulary to build, broadcast, or keep
    consistent across engines/batches. Output certifies each doc's vector by
    exact integer invariants (nnz, L1, squared norm, position-weighted
    checksum), so the hash-match proves every cell of every vector.

    Parity: sha256-prefix hashes are byte-identical on both engines (the
    q_dedup_minhash_portable convention); every statistic is exact bigint.

    Scale shape: one narrow explode, one (doc, dim) hash agg with map-side
    partials (≤{_FH_DIM} cells per doc regardless of doc length), one per-doc
    rollup riding the same doc_id partitioning. Nothing global — unlike
    tf-idf there is no corpus-wide DF table, which is the point of the
    hashing trick at 100 TB.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    hashed = toks.select(
        "doc_id",
        F.expr(
            f"CAST(CONV(SUBSTRING(SHA2(CONCAT('i:', tok), 256), 1, 8), 16, 10) "
            f"AS BIGINT) % {_FH_DIM}"
        ).alias("idx"),
        F.expr(
            "CASE WHEN CAST(CONV(SUBSTRING(SHA2(CONCAT('s:', tok), 256), 1, 8), "
            "16, 10) AS BIGINT) % 2 = 0 THEN 1 ELSE -1 END"
        ).alias("sgn"),
    )
    cells = hashed.groupBy("doc_id", "idx").agg(
        F.sum("sgn").cast("bigint").alias("v")
    )
    return cells.groupBy("doc_id").agg(
        F.count(F.when(F.col("v") != 0, 1)).cast("bigint").alias("nnz"),
        F.sum(F.abs("v")).cast("bigint").alias("l1"),
        F.sum(F.col("v") * F.col("v")).cast("bigint").alias("sq_norm"),
        F.sum(F.col("v") * (F.col("idx") + 1)).cast("bigint").alias("checksum"),
    )


# --- q_text_sentence_dedup (C4-style cross-doc sentence dedup) ---------------

_SENT_DEDUP_ORACLE = """
WITH sents AS (
  SELECT doc_id, trim(s) AS sent
  FROM (SELECT doc_id, unnest(string_split(text, '.')) AS s FROM documents)
  WHERE length(trim(s)) > 0
), hashes AS (
  SELECT doc_id, md5(sent) AS h FROM sents
), freq AS (
  SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM hashes GROUP BY h
), scored AS (
  SELECT ha.doc_id,
         COUNT(*) AS n_sents,
         SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS n_dup
  FROM hashes ha JOIN freq f USING (h)
  GROUP BY ha.doc_id
)
SELECT doc_id, CAST(n_sents AS BIGINT) AS n_sents, CAST(n_dup AS BIGINT) AS n_dup,
       FLOOR(CAST(n_dup AS DOUBLE) / n_sents * 10000 + 0.5) / 10000 AS dup_share_r4
FROM scored
"""


@register("q_text_sentence_dedup", oracle=_SENT_DEDUP_ORACLE)
def q_text_sentence_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document SENTENCE dedup screen — the C4 preprocessing step that
    removes boilerplate at sub-document granularity (page footers, cookie
    banners, license blurbs repeat across pages whose documents are NOT
    near-duplicates, so doc-level MinHash never sees them): every document
    reports how many of its sentences also occur verbatim in at least one
    OTHER document (the synthetic corpus has none — every doc reporting
    n_dup=0 is itself the assertion the oracle hash-checks).

    Scale shape: sentences hash to md5 (JVM codegen), the frequency table is
    one (hash) aggregate counting DISTINCT docs (map-side partial distinct),
    and scoring joins it back on the hash — the same train/score join shape
    as the LM queries. At 100 TB add a stop-sentence cap (drop hashes in >K
    docs before the join) — the same whale guard as the shingle family.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    sents = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), "\\.")).alias("s")
    ).select("doc_id", F.trim("s").alias("sent")).filter(F.length("sent") > 0)
    # recomputed per consumer on purpose: the corpus-sized hash relation is
    # cheaper to re-project (scan + split + md5, pure codegen) than to
    # materialize — the sf1 A/B on the sibling long-gram screen measured a
    # localCheckpoint here 4× slower (block write + pinned parallelism).
    hashes = sents.select("doc_id", F.md5("sent").alias("h"))
    freq = hashes.groupBy("h").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs")
    )
    # shuffle_hash: the sentence-frequency relation is corpus-sized; a
    # statically mis-estimated broadcast (Generate+Aggregate stats) would
    # collect it to the driver at scale (see q_text_longgram_dedup).
    scored = (
        hashes.join(freq.hint("shuffle_hash"), "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sents"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup"),
        )
    )
    return scored.select(
        "doc_id",
        "n_sents",
        "n_dup",
        F.expr(
            "FLOOR(CAST(n_dup AS DOUBLE) / n_sents * 10000 + 0.5) / 10000"
        ).alias("dup_share_r4"),
    )


# --- q_text_longgram_dedup (substring-level exact-dup screen) ----------------

_LONGGRAM_LEN = 50

_LONGGRAM_ORACLE = f"""
WITH grams AS (
  SELECT DISTINCT doc_id, md5(substr(text, i, {_LONGGRAM_LEN})) AS h
  FROM documents,
       UNNEST(range(1, greatest(length(text) - {_LONGGRAM_LEN - 1}, 1) + 1)) AS u(i)
), freq AS (
  SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
  FROM grams GROUP BY h
), scored AS (
  SELECT g.doc_id,
         COUNT(*) AS n_grams,
         SUM(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS n_dup
  FROM grams g JOIN freq f USING (h)
  GROUP BY g.doc_id
)
SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams, CAST(n_dup AS BIGINT) AS n_dup,
       FLOOR(CAST(n_dup AS DOUBLE) / n_grams * 10000 + 0.5) / 10000 AS dup_share_r4
FROM scored
"""


@register("q_text_longgram_dedup", oracle=_LONGGRAM_ORACLE)
def q_text_longgram_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level exact-duplication screen via {50}-char-gram content
    hashes — the scalable stand-in for suffix-array exact-substring dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    Better"): every doc reports what share of its DISTINCT 50-char windows
    (stride 1, so duplicated spans are caught at ANY alignment) also occurs
    verbatim in at least one OTHER document. Complements the sentence-level
    C4 screen (q_text_sentence_dedup): licence blurbs and boilerplate that
    cross sentence boundaries — or documents with no sentence structure at
    all — only show up at substring granularity.

    Scale shape: the gram relation is one explode + md5 (JVM codegen) and
    is linear in corpus BYTES (≈1 row/char; the distinct collapses repeated
    spans within a doc); the frequency table is one hash aggregate with a
    map-side partial distinct; scoring joins it back on the hash — the
    train/score join shape of the LM queries, always equi-join. At 100 TB,
    two documented knobs keep it flat: a whale cap (drop gram hashes in
    > K docs before the join-back — the q_dedup_stop_shingles guard; those
    grams are boilerplate by definition and count as dup for every doc) and
    winnowing (keep only each sliding window's minimum hash — Schleimer et
    al. 2003 — thinning grams ~w/2-fold while still guaranteeing detection
    of duplicated spans ≥ gram+w chars)."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    grams = (
        docs.select(
            "doc_id",
            "text",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.greatest(
                        F.length("text") - F.lit(_LONGGRAM_LEN - 1), F.lit(1)
                    ),
                )
            ).alias("i"),
        )
        .select(
            "doc_id",
            F.md5(F.expr(f"substring(text, i, {_LONGGRAM_LEN})")).alias("h"),
        )
        .distinct()
    )
    # Document frequency via an unordered COUNT window over the distinct
    # (doc, h) relation (round-12 rewrite, the q_text_dup_ngram_coverage
    # shape): rows are already distinct pairs, so count-over-partition-by-h
    # IS the per-gram doc count, and the former corpus-sized freq relation
    # + shuffled-hash join-back disappear. Two wins the sf10 rehearsal
    # forced: the gram pipeline (explode + md5 over every corpus byte) now
    # evaluates ONCE instead of once per join side (it is deliberately not
    # checkpointed — an sf1 A/B measured the materialization 4× slower,
    # 56 s vs 13.5 s, multi-GB blocks + pinned parallelism), and the
    # spill-UNABLE ShuffledHashJoin build of ~corpus/partitions gram
    # hashes — which OOM'd the 32-partition sf10 sweep (guide §3.1's
    # build-side risk; broadcast was already ruled out in round 9 when the
    # mis-estimated build collected ~1 GB to the driver at sf3) — becomes
    # a window sort that spills gracefully. Both sides hash-partition on
    # h, exactly as the join did: the 100 TB shape, minus the hash build.
    scored = (
        grams.withColumn(
            "n_docs", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup"),
        )
    )
    return scored.select(
        "doc_id",
        "n_grams",
        "n_dup",
        F.expr(
            "FLOOR(CAST(n_dup AS DOUBLE) / n_grams * 10000 + 0.5) / 10000"
        ).alias("dup_share_r4"),
    )


# --- q_text_winnow_dedup (winnowed fingerprint substring screen) -------------

_WINNOW_W = 8  # gram positions per winnowing window
# Tie-break packing base: key = h32 * 2^30 + (2^30-1-i). h32 < 2^32 keeps
# h32*2^30 + pos < 2^63 (int64-safe), and the clamped position term stays
# non-negative for documents up to 2^30-1 grams (~1 GiB); beyond the bound
# positions tie at 0 (degraded rightmost tie-break, never a corrupted h32 —
# the failure mode a 2^20 base had for >1 MiB documents).
_WINNOW_POS_BOUND = 1 << 30

_WINNOW_ORACLE = f"""
WITH g AS (
  SELECT doc_id, i,
         ('0x' || substr(md5(substr(text, i, {_LONGGRAM_LEN})), 1, 8))::BIGINT AS h32
  FROM documents,
       UNNEST(range(1, greatest(length(text) - {_LONGGRAM_LEN - 1}, 1) + 1)) AS u(i)
), k AS (
  SELECT doc_id, i,
         h32 * 1073741824 + greatest(1073741823 - i, 0) AS key,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_grams
  FROM g
), wsel AS (
  SELECT doc_id, n_grams, i,
         MIN(key) OVER (PARTITION BY doc_id ORDER BY i
                        ROWS BETWEEN CURRENT ROW AND {_WINNOW_W - 1} FOLLOWING)
           AS sel
  FROM k
), fp AS (
  SELECT DISTINCT doc_id, n_grams, sel // 1073741824 AS h32
  FROM wsel WHERE i <= greatest(n_grams - {_WINNOW_W - 1}, 1)
), freq AS (
  SELECT h32, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nd FROM fp GROUP BY h32
), scored AS (
  SELECT fp.doc_id, MIN(fp.n_grams) AS n_grams, COUNT(*) AS n_fp,
         SUM(CASE WHEN freq.nd > 1 THEN 1 ELSE 0 END) AS n_dup
  FROM fp JOIN freq USING (h32) GROUP BY fp.doc_id
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_fp AS BIGINT) AS n_fp,
       CAST(n_dup AS BIGINT) AS n_dup,
       FLOOR(CAST(n_fp AS DOUBLE) / n_grams * 10000 + 0.5) / 10000 AS keep_ratio_r4,
       FLOOR(CAST(n_dup AS DOUBLE) / n_fp * 10000 + 0.5) / 10000 AS dup_share_r4
FROM scored
"""


@register("q_text_winnow_dedup", oracle=_WINNOW_ORACLE)
def q_text_winnow_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINNOWED substring fingerprinting (Schleimer, Wilkerson & Aiken 2003,
    the MOSS algorithm) — q_text_longgram_dedup's scale path made a real
    plan instead of a docstring note: within every window of {8} consecutive
    50-char-gram hashes, select the minimum (ties to the RIGHTMOST position,
    the original paper's rule), keep the distinct selected fingerprints per
    doc, and score cross-doc duplication on fingerprints only. Storage and
    join traffic drop ~2/(w+1) while any duplicated span of at least
    gram+w−1 = 57 chars is still GUARANTEED to contribute one common
    fingerprint in both documents (the winnowing correctness theorem), so
    the screen's recall on long boilerplate is intact at a fraction of the
    long-gram cost.

    Parity engineering: the rightmost-min tie-break is packed into ONE
    integer key — h32·2^30 + max(2^30−1−i, 0) — so a plain window MIN
    implements "min hash, then max position" identically in both engines;
    the 2^30 base keeps the packed key int64-safe (h32 < 2^32) while
    giving positions ~1 GiB of headroom, and the clamp means a pathological
    longer document degrades only the tie-break (positions past the bound
    tie), never the unpacked h32 (sel div 2^30). Only FULL windows select (start ≤ n_grams−w+1; short
    docs degrade to one whole-doc window), matching the paper.

    Scale shape: gram hashing is one explode + md5 projection; BOTH window
    functions (the per-doc count and the frame MIN) share one
    partitionBy(doc_id) sort — a single exchange of (doc, i, key) triples,
    never text; the distinct collapses ~w-fold before the frequency
    aggregate and join-back, which is where the 100 TB savings land. The
    whale cap (drop fingerprints in > K docs pre-join) composes unchanged."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    g = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(
                F.lit(1),
                F.greatest(F.length("text") - F.lit(_LONGGRAM_LEN - 1), F.lit(1)),
            )
        ).alias("i"),
    ).select(
        "doc_id",
        "i",
        F.conv(
            F.substring(F.md5(F.expr(f"substring(text, i, {_LONGGRAM_LEN})")), 1, 8),
            16,
            10,
        )
        .cast("long")
        .alias("h32"),
    )
    w_doc = Window.partitionBy("doc_id")
    w_frame = (
        Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, _WINNOW_W - 1)
    )
    k = g.select(
        "doc_id",
        "i",
        (
            F.col("h32") * F.lit(_WINNOW_POS_BOUND)
            + F.greatest(F.lit(_WINNOW_POS_BOUND - 1) - F.col("i"), F.lit(0))
        ).alias("key"),
    ).withColumn("n_grams", F.count(F.lit(1)).over(w_doc))
    fp = (
        k.withColumn("sel", F.min("key").over(w_frame))
        .filter(
            F.col("i")
            <= F.greatest(F.col("n_grams") - F.lit(_WINNOW_W - 1), F.lit(1))
        )
        .select(
            "doc_id",
            "n_grams",
            F.expr(f"sel div {_WINNOW_POS_BOUND}").alias("h32"),
        )
        .distinct()
        # recomputed per consumer on purpose (see q_text_longgram_dedup):
        # the sf1 A/B measured corpus-sized localCheckpoints strictly
        # slower than re-running the codegen pipeline — materialization
        # writes multi-GB blocks and pins downstream parallelism at the
        # few AQE-coalesced partitions of the distinct.
    )
    # fp rows are distinct and n_grams is constant per doc, so there is one
    # row per (h32, doc) — the per-fingerprint doc count is a plain count,
    # no second distinct expansion.
    freq = fp.groupBy("h32").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd")
    )
    # shuffle_hash for the same reason as q_text_longgram_dedup: the
    # fingerprint-frequency relation is corpus-sized and a statically
    # mis-planned broadcast would collect it to the driver at scale.
    scored = (
        fp.join(freq.hint("shuffle_hash"), "h32")
        .groupBy("doc_id")
        .agg(
            F.min("n_grams").cast("bigint").alias("n_grams"),
            F.count(F.lit(1)).cast("bigint").alias("n_fp"),
            F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_dup"),
        )
    )
    return scored.select(
        "doc_id",
        "n_grams",
        "n_fp",
        "n_dup",
        F.expr(
            "FLOOR(CAST(n_fp AS DOUBLE) / n_grams * 10000 + 0.5) / 10000"
        ).alias("keep_ratio_r4"),
        F.expr(
            "FLOOR(CAST(n_dup AS DOUBLE) / n_fp * 10000 + 0.5) / 10000"
        ).alias("dup_share_r4"),
    )


# --- q_text_filter_funnel ----------------------------------------------------

_FUNNEL_STAGES = """
WITH m AS (
  SELECT doc_id,
         LENGTH(text) AS n_chars,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_distinct
  FROM documents
), staged AS (
  SELECT doc_id,
         CASE
           WHEN n_chars < 100 THEN '1_too_short'
           WHEN n_chars > 450 THEN '2_too_long'
           WHEN CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens < 4.0
             OR CAST(n_chars - (n_tokens - 1) AS DOUBLE) / n_tokens > 10.0
             THEN '3_word_len'
           WHEN n_distinct * 10 < n_tokens * 4 THEN '4_low_diversity'
           ELSE '5_kept'
         END AS stage
  FROM m
)
"""

_FUNNEL_ORACLE = f"""
{_FUNNEL_STAGES}
SELECT stage,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       FLOOR(CAST(COUNT(*) * 100 AS DOUBLE)
             / (SELECT COUNT(*) FROM staged) * 10000 + 0.5) / 10000 AS pct_r4
FROM staged
GROUP BY stage
ORDER BY stage
"""


@register("q_text_filter_funnel", oracle=_FUNNEL_ORACLE)
def q_text_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-filter drop accounting: every document is attributed to the
    FIRST quality rule that rejects it (length floor, length cap, mean
    word length band, type-token diversity floor) or to the survivor
    bucket — the per-rule loss report every pre-training filter pipeline
    ships with, because "we kept 62%" is useless without knowing which
    rule ate the other 38%.

    Parity engineering: every rule is integer arithmetic except the mean
    word length band (one double division built identically on both
    engines); the diversity floor is the integer cross-multiplication
    n_distinct/n_tokens < 0.4 ≡ 10·n_distinct < 4·n_tokens. Percentages
    divide two exact counts, the denominator DERIVED from the same staged
    relation (not a second scan) and broadcast.

    Scale shape: one projection pass + a 5-group hash aggregate; at
    100 TB this is scan-bound, which is the point of running all rules in
    a single CASE rather than one pass per rule."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = F.split(F.col("text"), " ")
    n_chars = F.length("text")
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    mean_wlen = (n_chars - (n_tokens - 1)).cast("double") / n_tokens
    staged = docs.select(
        F.when(n_chars < 100, "1_too_short")
        .when(n_chars > 450, "2_too_long")
        .when((mean_wlen < 4.0) | (mean_wlen > 10.0), "3_word_len")
        .when(n_distinct * 10 < n_tokens * 4, "4_low_diversity")
        .otherwise("5_kept")
        .alias("stage")
    )
    counts = staged.groupBy("stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    total = counts.agg(F.sum("n_docs").alias("n_total"))
    return (
        counts.join(F.broadcast(total))
        .select(
            "stage",
            "n_docs",
            (
                F.floor(
                    (F.col("n_docs") * 100).cast("double")
                    / F.col("n_total")
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("pct_r4"),
        )
        .orderBy("stage")
    )


# --- q_text_ttr_curve --------------------------------------------------------

_TTR_ORACLE = """
WITH toks AS (
  SELECT doc_id % 10 AS bucket, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
), first_seen AS (
  SELECT tok, CAST(MIN(bucket) AS BIGINT) AS b0 FROM toks GROUP BY tok
), per_bucket AS (
  SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_tokens FROM toks GROUP BY bucket
), new_types AS (
  SELECT b0 AS bucket, CAST(COUNT(*) AS BIGINT) AS n_new FROM first_seen GROUP BY b0
)
SELECT p.bucket,
       CAST(SUM(p2.n_tokens) AS BIGINT) AS cum_tokens,
       CAST(SUM(COALESCE(nt.n_new, 0)) AS BIGINT) AS cum_types,
       FLOOR(CAST(SUM(COALESCE(nt.n_new, 0)) AS DOUBLE)
             / SUM(p2.n_tokens) * 10000 + 0.5) / 10000 AS ttr_r4
FROM per_bucket p
JOIN per_bucket p2 ON p2.bucket <= p.bucket
LEFT JOIN new_types nt ON nt.bucket = p2.bucket
GROUP BY p.bucket
ORDER BY p.bucket
"""


@register("q_text_ttr_curve", oracle=_TTR_ORACLE)
def q_text_ttr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps-law) curve: cumulative distinct types vs
    cumulative tokens over 10 corpus slices, with the declining type-token
    ratio — how curation teams answer "is more data still buying new
    vocabulary, or just repetition" (complements q_vocab_coverage's Zipf
    head sizing with the growth-over-volume view).

    Parity engineering (the scale trick IS the correctness trick):
    cumulative distinct is NOT a windowed COUNT(DISTINCT) — each type
    contributes at its FIRST bucket (MIN(bucket) per token, one hash agg),
    and the curve is a running sum of new-type counts over 10 rows. Exact
    integers until the final ratio.

    Scale shape: one (bucket, token) shuffle + one token-keyed min — the
    same two-aggregate shape as q_text_kl_drift; the cumulative join runs
    over 10×10 rows."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        (F.col("doc_id") % 10).alias("bucket"),
        F.explode(F.split(F.lower("text"), " ")).alias("tok"),
    )
    first_seen = toks.groupBy("tok").agg(
        F.min("bucket").cast("bigint").alias("b0")
    )
    per_bucket = toks.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens")
    )
    new_types = first_seen.groupBy(F.col("b0").alias("bucket")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_new")
    )
    slices = per_bucket.join(F.broadcast(new_types), "bucket", "left").select(
        "bucket",
        "n_tokens",
        F.coalesce("n_new", F.lit(0).cast("bigint")).alias("n_new"),
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return slices.select(
        "bucket",
        F.sum("n_tokens").over(w).cast("bigint").alias("cum_tokens"),
        F.sum("n_new").over(w).cast("bigint").alias("cum_types"),
    ).select(
        "bucket",
        "cum_tokens",
        "cum_types",
        (
            F.floor(
                F.col("cum_types").cast("double") / F.col("cum_tokens") * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("ttr_r4"),
    ).orderBy("bucket")


# --- q_text_sentiment_lexicon ------------------------------------------------

_POS_WORDS = ("fast", "big")
_NEG_WORDS = ("slow", "small")

_SENTIMENT_ORACLE = f"""
WITH m AS (
  SELECT source,
         len(string_split(lower(text), ' ')) AS n_tokens,
         len(list_filter(string_split(lower(text), ' '),
             w -> w IN ('fast', 'big'))) AS n_pos,
         len(list_filter(string_split(lower(text), ' '),
             w -> w IN ('slow', 'small'))) AS n_neg
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_pos) AS BIGINT) AS n_pos,
       CAST(SUM(n_neg) AS BIGINT) AS n_neg,
       FLOOR(CAST(SUM(n_pos) - SUM(n_neg) AS DOUBLE)
             / SUM(n_tokens) * 10000 + 0.5) / 10000 AS polarity_r4,
       CAST(SUM(CASE WHEN n_pos > n_neg THEN 1
                     WHEN n_neg > n_pos THEN -1 ELSE 0 END) AS BIGINT)
         AS net_doc_votes
FROM m
GROUP BY source
ORDER BY source
"""


@register("q_text_sentiment_lexicon", oracle=_SENTIMENT_ORACLE)
def q_text_sentiment_lexicon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexicon-based sentiment polarity per source: positive/negative
    marker-word counts, the token-normalized polarity score, and per-doc
    majority votes — the dictionary-scoring pattern (AFINN/VADER-style
    without the weights) that is still the first-pass sentiment signal at
    corpus scale because it needs no model and runs as a pure projection.
    The 2+2-word lexicon matches the synthetic vocabulary; a real lexicon
    swaps into the SAME in-row filter (broadcast as a literal array).

    Plan: marker counting is an in-row HOF filter over the token split
    (the q_text_langid shape), then one source-keyed aggregate; the
    polarity divides two exact integer sums once."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = F.split(F.lower("text"), " ")
    n_pos = F.size(F.filter(toks, lambda w: w.isin(*_POS_WORDS)))
    n_neg = F.size(F.filter(toks, lambda w: w.isin(*_NEG_WORDS)))
    m = docs.select(
        "source",
        F.size(toks).alias("n_tokens"),
        n_pos.alias("n_pos"),
        n_neg.alias("n_neg"),
    )
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_pos").cast("bigint").alias("n_pos"),
            F.sum("n_neg").cast("bigint").alias("n_neg"),
            (
                F.floor(
                    (F.sum("n_pos") - F.sum("n_neg")).cast("double")
                    / F.sum("n_tokens")
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("polarity_r4"),
            F.sum(
                F.when(F.col("n_pos") > F.col("n_neg"), 1)
                .when(F.col("n_neg") > F.col("n_pos"), -1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias("net_doc_votes"),
        )
        .orderBy("source")
    )


# --- q_text_cross_source_overlap ---------------------------------------------

_XSRC_MIN_BP = 5000  # report pairs with vocabulary Jaccard > 0.50

_XSRC_ORACLE = f"""
WITH vocab AS (
  SELECT DISTINCT source, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
), sz AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS sz FROM vocab GROUP BY source
), inter AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS ni
  FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.source < b.source
  GROUP BY src_a, src_b
)
SELECT src_a, src_b, ni, sa.sz AS sz_a, sb.sz AS sz_b,
       FLOOR(CAST(ni AS DOUBLE) / (sa.sz + sb.sz - ni) * 10000 + 0.5) / 10000
         AS jaccard_r4
FROM inter
JOIN sz sa ON sa.source = src_a
JOIN sz sb ON sb.source = src_b
WHERE ni * 10000 > {_XSRC_MIN_BP} * (sa.sz + sb.sz - ni)
ORDER BY src_a, src_b
"""


@register("q_text_cross_source_overlap", oracle=_XSRC_ORACLE)
def q_text_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source vocabulary overlap: the Jaccard similarity of each
    source pair's distinct-token vocabularies, reported above 0.5 — the
    corpus-level redundancy map ("are src3 and src11 the same crawl twice")
    that guides source-level dedup BEFORE any document-level pass runs,
    because dropping a mirrored source is free compared to pairwise
    document dedup.

    Parity engineering: vocabularies are distinct (source, token) sets;
    |A∩B| falls out of the token equi-join (the q_dedup_ngram_jaccard
    skeleton lifted from documents to sources), the Jaccard gate is
    integer cross-multiplied, and only the reported ratio divides.

    Scale shape: one distinct shuffle + one token-keyed join whose
    fan-out per token is the number of sources containing it (≤20) — at
    100 TB hot universal tokens get the stop-shingle cap documented in
    the dedup family."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    vocab = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).distinct()
    sz = vocab.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    a = vocab.select(F.col("source").alias("src_a"), "tok")
    b = vocab.select(F.col("source").alias("src_b"), F.col("tok").alias("tb"))
    inter = (
        a.join(b, (F.col("tok") == F.col("tb")) & (F.col("src_a") < F.col("src_b")))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("ni"))
    )
    un = F.col("sz_a") + F.col("sz_b") - F.col("ni")
    return (
        inter.join(
            F.broadcast(sz.select(F.col("source").alias("src_a"), F.col("sz").alias("sz_a"))),
            "src_a",
        )
        .join(
            F.broadcast(sz.select(F.col("source").alias("src_b"), F.col("sz").alias("sz_b"))),
            "src_b",
        )
        .filter(F.col("ni") * 10000 > _XSRC_MIN_BP * un)
        .select(
            "src_a",
            "src_b",
            "ni",
            "sz_a",
            "sz_b",
            (F.floor(F.col("ni").cast("double") / un * 10000 + F.lit(0.5)) / 10000).alias(
                "jaccard_r4"
            ),
        )
        .orderBy("src_a", "src_b")
    )


# --- q_text_hapax ------------------------------------------------------------

_HAPAX_ORACLE = """
WITH toks AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
), tc AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks GROUP BY source, tok
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_types,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       FLOOR(CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) * 10000 + 0.5) / 10000 AS hapax_share_r4
FROM tc
GROUP BY source
ORDER BY source
"""


@register("q_text_hapax", oracle=_HAPAX_ORACLE)
def q_text_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena share per source: the fraction of each source's
    vocabulary seen exactly once — the lexical long-tail gauge (natural
    prose runs ~40-60% hapax; far lower means templated/boilerplate text,
    far higher means OCR noise or alphabet soup), complementing
    q_text_ttr_curve's growth view with a per-source quality scalar.

    Plan: one (source, token) count aggregate, then a per-source rollup of
    type/token/hapax counts — both map-side combined; the share is one
    division of exact counts.

    At 100 TB the (source, token) aggregate is the only data-sized step,
    and hapax-heavy sources are by definition skew-free on the token key."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    tc = (
        docs.select("source", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return (
        tc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_types"),
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_hapax"),
            (
                F.floor(
                    F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("double")
                    / F.count(F.lit(1))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("hapax_share_r4"),
        )
        .orderBy("source")
    )


# --- q_text_novelty (first-occurrence shingle novelty per document) ----------

_NOVELTY_ORACLE = """
WITH t AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS parts,
         lower(text) AS lt
  FROM documents
), sh AS (
  SELECT DISTINCT doc_id, source,
         unnest(
           CASE WHEN len(parts) >= 3
                THEN list_transform(range(1, len(parts) - 1),
                     i -> concat_ws(' ', parts[i], parts[i+1], parts[i+2]))
                ELSE [lt] END
         ) AS g
  FROM t
), fo AS (
  SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY g
), per_doc AS (
  SELECT s.doc_id, s.source,
         CAST(SUM(CASE WHEN fo.first_doc = s.doc_id THEN 1 ELSE 0 END)
              AS BIGINT) AS novel,
         CAST(COUNT(*) AS BIGINT) AS total
  FROM sh s JOIN fo USING (g)
  GROUP BY s.doc_id, s.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(novel) AS BIGINT) AS sum_novel,
       CAST(SUM(total) AS BIGINT) AS sum_shingles,
       FLOOR(CAST(SUM(CAST(CAST(novel AS DOUBLE) / total AS DECIMAL(18,7)))
                  AS DOUBLE) / COUNT(*) * 10000 + 0.5) / 10000
         AS macro_novelty_r4
FROM per_doc GROUP BY source
"""


@register("q_text_novelty", oracle=_NOVELTY_ORACLE)
def q_text_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document NOVELTY scoring: for each doc, the share of its distinct
    word-3-shingles whose FIRST corpus occurrence (min doc_id holding the
    shingle) is the doc itself — the dedup-aware sampling signal corpus
    curation uses to prefer documents that add new content over documents
    that restate the crawl (novelty ~1 = fresh material, ~0 = n-gram-level
    rehash of earlier docs), reported per source as micro counts + the
    macro-averaged novelty.

    Spark shape: the shingle table (same 3-gram split as the MinHash
    family, whole-doc fallback for short docs) is deduped per doc, then
    ONE min-over-window on the shingle key marks first occurrences —
    shingle keys are uniform text digests, so the window partitioning is
    skew-free the same way the LSH band keys are; per-doc and per-source
    rollups follow. No joins: first-occurrence is a window, not a
    groupBy + join-back.

    Parity: novel/total are exact ints; each per-doc fraction is one
    double division cast decimal(18,7) (bounded ≤ 1) so the
    macro-average's sum is order-independent; one r4 snap at the end.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    base = docs.select(
        "doc_id", "source", F.split(F.lower("text"), " ").alias("parts"),
        F.lower(F.col("text")).alias("lt"),
    )
    p = F.col("parts")
    long_docs = base.filter(F.size(p) >= 3).select(
        "doc_id",
        "source",
        F.explode(F.sequence(F.lit(1), F.size(p) - 2)).alias("i"),
        "parts",
    ).select(
        "doc_id",
        "source",
        F.concat_ws(
            " ", *[F.element_at("parts", F.col("i") + k) for k in range(3)]
        ).alias("g"),
    )
    short_docs = base.filter(F.size(p) < 3).select(
        "doc_id", "source", F.col("lt").alias("g")
    )
    sh = long_docs.unionByName(short_docs).distinct()
    w = Window.partitionBy("g")
    flagged = sh.withColumn(
        "novel", (F.col("doc_id") == F.min("doc_id").over(w)).cast("int")
    )
    per_doc = flagged.groupBy("doc_id", "source").agg(
        F.sum("novel").cast("bigint").alias("novel"),
        F.count(F.lit(1)).cast("bigint").alias("total"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("novel").cast("bigint").alias("sum_novel"),
        F.sum("total").cast("bigint").alias("sum_shingles"),
        (
            F.floor(
                F.sum(
                    (F.col("novel").cast("double") / F.col("total")).cast(DEC)
                ).cast("double")
                / F.count(F.lit(1))
                * 10000
                + F.lit(0.5)
            )
            / 10000
        ).alias("macro_novelty_r4"),
    )


# --- q_agg_kmv_sketch (k-minimum-values set-intersection sketch) -------------

_KMV_K = 128            # sketch size: k smallest hash values per set
_KMV_SPACE = 1152921504606846976  # 2^60 — hash space (DuckDB shift-safe)

_KMV_ORACLE = f"""
WITH vocab AS (
  SELECT DISTINCT source, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
), hashed AS (
  SELECT DISTINCT source,
         ('0x' || substr(sha256(tok), 1, 15))::BIGINT AS h
  FROM vocab
), sk AS (
  SELECT source, h FROM (
    SELECT source, h, ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rn
    FROM hashed
  ) WHERE rn <= {_KMV_K}
), srcs AS (
  SELECT DISTINCT source FROM vocab
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b
  FROM srcs a JOIN srcs b ON a.source < b.source
), merged AS (
  SELECT p.src_a, p.src_b, s.h,
         CAST(MAX(CASE WHEN s.source = p.src_a THEN 1 ELSE 0 END)
            + MAX(CASE WHEN s.source = p.src_b THEN 1 ELSE 0 END) AS BIGINT)
           AS n_sides
  FROM pairs p JOIN sk s ON s.source IN (p.src_a, p.src_b)
  GROUP BY p.src_a, p.src_b, s.h
), unionsk AS (
  SELECT src_a, src_b, h, n_sides,
         ROW_NUMBER() OVER (PARTITION BY src_a, src_b ORDER BY h) AS rn
  FROM merged
), est AS (
  SELECT src_a, src_b,
         CAST(SUM(CASE WHEN rn <= {_KMV_K} AND n_sides = 2 THEN 1 ELSE 0 END)
              AS BIGINT) AS m_both,
         CAST(MAX(CASE WHEN rn = {_KMV_K} THEN h END) AS BIGINT) AS kth
  FROM unionsk GROUP BY src_a, src_b
), exact AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS ni
  FROM hashed a JOIN hashed b ON a.h = b.h AND a.source < b.source
  GROUP BY src_a, src_b
)
SELECT e.src_a, e.src_b, e.m_both,
       COALESCE(
         FLOOR(CAST(e.m_both AS DOUBLE) / {_KMV_K}
               * (CAST({_KMV_K - 1} AS DOUBLE) * {_KMV_SPACE} / e.kth)
               * 10000 + 0.5) / 10000,
         CAST(e.m_both AS DOUBLE)) AS est_inter_r4,
       COALESCE(x.ni, 0) AS exact_inter
FROM est e LEFT JOIN exact x ON x.src_a = e.src_a AND x.src_b = e.src_b
"""


@register("q_agg_kmv_sketch", oracle=_KMV_ORACLE)
def q_agg_kmv_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-MINIMUM-VALUES sketch for SET-INTERSECTION cardinality — the
    third mergeable sketch next to HLL (distinct counts,
    q_agg_hll_portable) and Count-Min (frequencies, q_agg_countmin): KMV
    keeps each set's k smallest hash values, the union sketch of a pair
    is the k smallest of the merged sketches, est |A∪B| = (k−1)/h₍ₖ₎
    (normalized k-th minimum), and est |A∩B| = (matching fraction of the
    union sketch) × est |A∪B| — the estimator HLL fundamentally cannot
    provide (inclusion-exclusion on HLLs explodes in error), and the
    workhorse behind audience-overlap / cross-corpus contamination
    screens at scale. Estimates are reported NEXT TO the exact
    intersection from the full token join, so the certificate carries
    its own error measurement per source pair.

    Scale shape: sketches are k rows per set (a per-source top-k window
    over uniform sha-derived hashes — skew-free); pair estimation
    touches ONLY sketches (sources × k rows), never re-scanning the
    corpus — exactly how sketch tables amortize at 100 TB (build once
    per shard, merge cheaply per question). The exact arm is the
    same-shape token equi-join used by q_text_cross_source_overlap and
    exists purely as ground truth.

    Parity: hashes are 60-bit sha prefixes (identical on both engines);
    the estimator is pure double arithmetic from exact integers, snapped
    r4; ties cannot occur (distinct hash values within a source). When a
    pair's union sketch holds fewer than k hashes the sketch IS the
    exact union, so the estimate falls back to m_both (the exact
    intersection) instead of propagating the NULL k-th minimum — a
    tiny-corpus run reports exact numbers, not NULLs.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    vocab = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).distinct()
    hashed = vocab.select(
        "source",
        F.conv(F.substring(F.sha2(F.col("tok"), 256), 1, 15), 16, 10)
        .cast("bigint")
        .alias("h"),
    ).distinct()
    wk = Window.partitionBy("source").orderBy("h")
    sk = (
        hashed.withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") <= _KMV_K)
        .drop("rn")
        .localCheckpoint(eager=False)
    )
    srcs = vocab.select("source").distinct()
    pairs = (
        srcs.alias("a")
        .join(srcs.alias("b"), F.col("a.source") < F.col("b.source"))
        .select(F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b"))
    )
    merged = (
        pairs.join(
            sk, (sk.source == F.col("src_a")) | (sk.source == F.col("src_b"))
        )
        .groupBy("src_a", "src_b", "h")
        .agg(
            (
                F.max((F.col("source") == F.col("src_a")).cast("int"))
                + F.max((F.col("source") == F.col("src_b")).cast("int"))
            )
            .cast("bigint")
            .alias("n_sides")
        )
    )
    wu = Window.partitionBy("src_a", "src_b").orderBy("h")
    unionsk = merged.withColumn("rn", F.row_number().over(wu))
    est = unionsk.groupBy("src_a", "src_b").agg(
        F.sum(
            F.when((F.col("rn") <= _KMV_K) & (F.col("n_sides") == 2), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("m_both"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("h"))).cast("bigint").alias("kth"),
    )
    exact = (
        hashed.alias("a")
        .join(
            hashed.alias("b"),
            (F.col("a.h") == F.col("b.h")) & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("ni"))
    )
    return (
        est.join(exact, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "m_both",
            F.coalesce(
                F.floor(
                    F.col("m_both").cast("double")
                    / _KMV_K
                    * (
                        F.lit(float(_KMV_K - 1))
                        * _KMV_SPACE
                        / F.col("kth")
                    )
                    * 10000
                    + F.lit(0.5)
                )
                / 10000,
                F.col("m_both").cast("double"),
            ).alias("est_inter_r4"),
            F.coalesce(F.col("ni"), F.lit(0).cast("bigint")).alias("exact_inter"),
        )
    )


# --- q_text_pmi (windowed co-occurrence pointwise mutual information) --------

_PMI_WIN = 2        # skip-gram window: tokens within ±2 positions co-occur
_PMI_MIN_N = 30     # min pair support reported

_PMI_ORACLE = f"""
WITH t AS (
  SELECT doc_id, string_split(lower(text), ' ') AS parts FROM documents
), tok AS (
  SELECT doc_id, unnest(range(1, len(parts) + 1)) AS i, parts
  FROM t
), pos AS (
  SELECT doc_id, i, parts[i] AS w FROM tok
), pairs AS (
  SELECT CASE WHEN a.w < b.w THEN a.w ELSE b.w END AS w1,
         CASE WHEN a.w < b.w THEN b.w ELSE a.w END AS w2
  FROM pos a JOIN pos b
    ON a.doc_id = b.doc_id AND b.i > a.i AND b.i <= a.i + {_PMI_WIN}
  WHERE a.w <> b.w
), pc AS (
  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12 FROM pairs GROUP BY w1, w2
), tot AS (
  SELECT CAST(SUM(n12) AS BIGINT) AS np FROM pc
), marg AS (
  SELECT w, CAST(SUM(n) AS BIGINT) AS nw FROM (
    SELECT w1 AS w, n12 AS n FROM pc
    UNION ALL
    SELECT w2 AS w, n12 AS n FROM pc
  ) GROUP BY w
)
SELECT pc.w1, pc.w2, pc.n12,
       FLOOR(LN(CAST(pc.n12 AS DOUBLE) * tot.np
                / (CAST(m1.nw AS DOUBLE) * m2.nw)) * 10000 + 0.5) / 10000
         AS pmi_r4
FROM pc
JOIN marg m1 ON m1.w = pc.w1
JOIN marg m2 ON m2.w = pc.w2
CROSS JOIN tot
WHERE pc.n12 >= {_PMI_MIN_N}
"""


@register("q_text_pmi", oracle=_PMI_ORACLE)
def q_text_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed co-occurrence PMI — the statistic word2vec implicitly
    factorizes (Levy & Goldberg: SGNS ≈ shifted-PMI matrix
    factorization): token pairs within a ±2 skip-gram window, scored by
    ln(n₁₂·N / (n₁·n₂)) over the pair distribution, reported for pairs
    with support ≥ 30 — collocation mining, embedding-corpus
    diagnostics, and phrase-vocabulary induction all read this table.

    Scale shape: positions explode once (the flat posexplode projection
    of the shingle family); co-occurrence is a bounded BAND self-join on
    (doc, position) — each token joins to at most ±2 positions, so the
    fan-out is 2·window per token, never quadratic in document length.
    Marginals derive from the PAIR table (one union-aggregate — the
    corpus is never re-scanned), canonical w1<w2 orientation halves the
    matrix, and the min-support cut keeps the output the dense head of
    the PMI matrix. One ln per output row, micro-snapped r4.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    pos = docs.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), " ")).alias("i", "w")
    )
    a = pos.alias("a")
    b = pos.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.i") > F.col("a.i"))
            & (F.col("b.i") <= F.col("a.i") + _PMI_WIN),
        )
        .filter(F.col("a.w") != F.col("b.w"))
        .select(
            F.least(F.col("a.w"), F.col("b.w")).alias("w1"),
            F.greatest(F.col("a.w"), F.col("b.w")).alias("w2"),
        )
    )
    pc = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n12")
    ).localCheckpoint(eager=False)
    tot = pc.agg(F.sum("n12").cast("bigint").alias("np"))
    marg = (
        pc.select(F.col("w1").alias("w"), F.col("n12").alias("n"))
        .unionByName(pc.select(F.col("w2").alias("w"), F.col("n12").alias("n")))
        .groupBy("w")
        .agg(F.sum("n").cast("bigint").alias("nw"))
    )
    m1 = marg.select(F.col("w").alias("w1"), F.col("nw").alias("n1"))
    m2 = marg.select(F.col("w").alias("w2"), F.col("nw").alias("n2"))
    return (
        pc.filter(F.col("n12") >= _PMI_MIN_N)
        .join(m1, "w1")
        .join(m2, "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n12",
            (
                F.floor(
                    F.log(
                        F.col("n12").cast("double")
                        * F.col("np")
                        / (F.col("n1").cast("double") * F.col("n2"))
                    )
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("pmi_r4"),
        )
    )


# --- q_text_bm25 ------------------------------------------------------------

#: BM25 free parameters (Robertson-Sparck Jones defaults) and the fixed
#: query term set. k1+1 and 1-b are PRE-FOLDED literals (2.2, 0.25) so both
#: engines evaluate the same double constants — 1.2 + 1 recomputed at
#: runtime could differ from the literal 2.2 in the last ulp.
_BM25_TERMS = ("hash", "merge", "vector")

_BM25_ORACLE = f"""
WITH terms AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents
  ) WHERE len(term) > 2
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM terms GROUP BY doc_id
), corpus AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
), tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM terms WHERE term IN {_BM25_TERMS!r}
  GROUP BY doc_id, term
), dfr AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), contrib AS (
  SELECT t.doc_id,
         FLOOR(
           LN(CAST(1 AS DOUBLE)
              + (c.n_docs - d.df + CAST(0.5 AS DOUBLE))
                / (d.df + CAST(0.5 AS DOUBLE)))
           * (t.tf * CAST(2.2 AS DOUBLE))
           / (t.tf + CAST(1.2 AS DOUBLE)
                     * (CAST(0.25 AS DOUBLE)
                        + CAST(0.75 AS DOUBLE) * l.dl / c.avgdl))
           * 10000 + 0.5) / 10000 AS contrib_r
  FROM tf t
  JOIN dfr d USING (term)
  JOIN dl l USING (doc_id)
  CROSS JOIN corpus c
)
SELECT doc_id, n_terms, score, rank FROM (
  SELECT doc_id,
         COUNT(*) AS n_terms,
         CAST(SUM(CAST(contrib_r AS DECIMAL(18,7))) AS DOUBLE) AS score,
         ROW_NUMBER() OVER (
           ORDER BY CAST(SUM(CAST(contrib_r AS DECIMAL(18,7))) AS DOUBLE)
                    DESC, doc_id) AS rank
  FROM contrib GROUP BY doc_id
) WHERE rank <= 10
"""


@register("q_text_bm25", oracle=_BM25_ORACLE)
def q_text_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 retrieval for a fixed 3-term query — the lexical ranking
    function search and RAG-retrieval pipelines run where tf-idf
    (q_text_tfidf) is too crude: document-length normalization (b=0.75)
    and tf saturation (k1=1.2) on top of the same two corpus aggregates.

    Parity: every per-term contribution is computed with an identical IEEE
    op sequence on both engines, rounded to 4 decimals (r4 — last-ulp LN
    differences are measure-zero at the rounding boundary), then summed per
    doc through the exact-decimal path so the score is independent of term
    order; ranking happens on the rounded-sum score with a doc_id
    tie-break.

    Scale shape: the exploded term table aggregates twice (dl per doc, tf
    per doc x query-term); df and the corpus (N, avgdl) aggregate are
    broadcast 1-row/3-row relations — the big side shuffles ONCE on doc_id
    and the final top-10 is a single-partition window over the pre-scored
    docs (at 100 TB: per-partition top-10 via AQE before the global sort).
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    terms = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .filter(F.length("term") > 2)
        .localCheckpoint(eager=False)
    )
    dl = terms.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    corpus = dl.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl"),
    )
    tf = (
        terms.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfr = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
    )
    tfn = (F.col("tf") * F.lit(2.2)) / (
        F.col("tf")
        + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / F.col("avgdl"))
    )
    # dfr is one row per distinct TERM — vocabulary-sized (Heaps growth:
    # tens of millions of types at corpus scale), so no broadcast hint;
    # AQE decides, and the term-keyed shuffle reuses tf's grouping key.
    contrib = (
        tf.join(dfr, "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select("doc_id", r4(idf * tfn, "contrib_r"))
    )
    score = F.sum(F.col("contrib_r").cast(DEC)).cast("double")
    w = Window.orderBy(score.desc(), "doc_id")
    return (
        contrib.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            score.alias("score"),
        )
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.col("score").desc(), "doc_id")),
        )
        .filter(F.col("rank") <= 10)
        .select("doc_id", "n_terms", "score", "rank")
    )


# --- q_text_bpe_pairs -------------------------------------------------------

_BPE_ORACLE = """
WITH words AS (
  SELECT term AS word, COUNT(*) AS freq FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents
  ) WHERE len(term) >= 2 GROUP BY term
), pairs AS (
  SELECT substr(word, CAST(i AS INTEGER), 2) AS pair, freq, word FROM (
    SELECT unnest(generate_series(1, len(word) - 1)) AS i, word, freq
    FROM words
  )
), agg AS (
  SELECT pair,
         CAST(SUM(freq) AS BIGINT) AS total,
         COUNT(DISTINCT word) AS n_words
  FROM pairs GROUP BY pair
)
SELECT pair, total, n_words, rank FROM (
  SELECT pair, total, n_words,
         ROW_NUMBER() OVER (ORDER BY total DESC, pair) AS rank
  FROM agg
) WHERE rank <= 20
"""


@register("q_text_bpe_pairs", oracle=_BPE_ORACLE)
def q_text_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of BPE tokenizer training: count every adjacent
    symbol pair across the corpus weighted by word frequency, and rank the
    top-20 merge candidates — the inner loop of byte-pair-encoding vocab
    construction, run at corpus scale before LLM training. Repeated pairs
    inside one word ('aaa' -> 'aa' twice) count per position, exactly as
    the reference BPE counts them.

    All-integer (word freqs + position sums), so the oracle is bit-exact;
    ties rank by pair string.

    Scale shape: the corpus aggregates ONCE to the word-frequency table
    (vocabulary-bounded, not corpus-bounded — the classic BPE optimization),
    then pair generation explodes positions over the small word table and
    re-aggregates on the tiny pair key space. At 100 TB of text the only
    corpus-scale shuffle is the word-count; everything downstream is
    vocabulary-sized.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    words = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = words.select(
        "word",
        "freq",
        F.explode(F.sequence(F.lit(1), F.length("word") - 1)).alias("i"),
    ).select(F.expr("substring(word, i, 2)").alias("pair"), "freq", "word")
    agg = pairs.groupBy("pair").agg(
        F.sum("freq").cast("bigint").alias("total"),
        F.countDistinct("word").alias("n_words"),
    )
    w = Window.orderBy(F.col("total").desc(), "pair")
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("pair", "total", "n_words", "rank")
    )


# --- q_text_zipf ------------------------------------------------------------

_ZIPF_ORACLE = """
WITH freq AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS f FROM (
    SELECT unnest(string_split(lower(text), ' ')) AS term FROM documents
  ) WHERE len(term) > 2 GROUP BY term
), ranked AS (
  SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, term) AS r FROM freq
), xy AS (
  SELECT FLOOR(LN(CAST(r AS DOUBLE)) * 10000 + 0.5) / 10000 AS x,
         FLOOR(LN(CAST(f AS DOUBLE)) * 10000 + 0.5) / 10000 AS y
  FROM ranked
), s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(x AS DECIMAL(18,7))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(18,7))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(x * y AS DECIMAL(18,7))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(x * x AS DECIMAL(18,7))) AS DOUBLE) AS sxx
  FROM xy
)
SELECT CAST(n AS BIGINT) AS n_terms,
       FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx) * 10000 + 0.5) / 10000
         AS zipf_slope,
       FLOOR((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
             * 10000 + 0.5) / 10000 AS zipf_intercept
FROM s
"""


@register("q_text_zipf", oracle=_ZIPF_ORACLE)
def q_text_zipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit of the corpus: OLS slope/intercept of log(frequency)
    against log(rank) over the full vocabulary — the power-law exponent
    (natural text ~ -1) that corpus-quality pipelines track to detect
    template spam (too steep) or gibberish (too flat). Complements
    q_text_ttr_curve (Heaps' law) with the rank-frequency law.

    Parity: each LN is rounded to 4 decimals first (last-ulp libm
    differences are measure-zero at the boundary), every OLS sum runs
    through the exact-decimal path (order-independent), and the closed-form
    slope/intercept is one identical IEEE op sequence on both engines,
    r4-rounded on output.

    Scale shape: term counting is the single corpus-scale aggregate;
    ranking the vocabulary is a window over the vocabulary-sized relation
    (at 100 TB: still vocabulary-sized — the rank sort is the only global
    step and it is bounded by |vocab|, not corpus size); the OLS reduction
    is a 1-row aggregate.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    freq = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .filter(F.length("term") > 2)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    ranked = freq.withColumn(
        "r", F.row_number().over(Window.orderBy(F.col("f").desc(), "term"))
    )
    x = F.floor(F.log(F.col("r").cast("double")) * 10000 + F.lit(0.5)) / 10000
    y = F.floor(F.log(F.col("f").cast("double")) * 10000 + F.lit(0.5)) / 10000
    xy = ranked.select(x.alias("x"), y.alias("y"))
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast(DEC)).cast("double").alias("sx"),
        F.sum(F.col("y").cast(DEC)).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast(DEC)).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast(DEC)).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_terms"),
        r4(slope, "zipf_slope"),
        r4((F.col("sy") - slope * F.col("sx")) / F.col("n"), "zipf_intercept"),
    )


# --- q_text_burstiness ------------------------------------------------------

_BURST_ORACLE = """
WITH terms AS (
  SELECT doc_id, term FROM (
    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
    FROM documents
  ) WHERE len(term) > 2
), stats AS (
  SELECT term,
         CAST(COUNT(*) AS BIGINT) AS cf,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
  FROM terms GROUP BY term
), corpus AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs FROM terms
), scored AS (
  SELECT term, cf, df,
         FLOOR(n_docs * (1 - EXP(-(CAST(cf AS DOUBLE) / n_docs)))
               * 10000 + 0.5) / 10000 AS e_df_r
  FROM stats CROSS JOIN corpus
)
SELECT term, cf, df, e_df_r,
       FLOOR(df / e_df_r * 10000 + 0.5) / 10000 AS burst_r,
       rank
FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY cf DESC, term) AS rank FROM scored
) WHERE rank <= 20
"""


@register("q_text_burstiness", oracle=_BURST_ORACLE)
def q_text_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church-Gale term burstiness: observed document frequency vs the
    Poisson expectation N·(1−e^(−cf/N)) for the top-20 terms — the
    clumping diagnostic behind stopword selection and tf saturation
    choices (function words hit df ≈ expectation, topical words 'burst':
    fewer docs than Poisson predicts, each containing the term many
    times). burst < 1 marks content-bearing vocabulary.

    Parity: cf/df/N are exact integers; the one EXP is snapped to 4
    decimals, and the df/E ratio divides by the SNAPPED expectation so
    both engines divide identical doubles, r4 on output; ranking is on
    integer cf with term tie-break.

    Scale shape: one corpus-scale (doc, term) aggregate; everything after
    is vocabulary-sized plus a broadcast 1-row N.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    terms = (
        docs.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term"))
        .filter(F.length("term") > 2)
        .localCheckpoint(eager=False)
    )
    stats = terms.groupBy("term").agg(
        F.count(F.lit(1)).cast("bigint").alias("cf"),
        F.countDistinct("doc_id").cast("bigint").alias("df"),
    )
    corpus = terms.agg(
        F.countDistinct("doc_id").cast("double").alias("n_docs")
    )
    e_df = (
        F.floor(
            F.col("n_docs")
            * (F.lit(1) - F.exp(-(F.col("cf").cast("double") / F.col("n_docs"))))
            * 10000
            + F.lit(0.5)
        )
        / 10000
    )
    scored = stats.crossJoin(F.broadcast(corpus)).select(
        "term", "cf", "df", e_df.alias("e_df_r")
    )
    w = Window.orderBy(F.col("cf").desc(), "term")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select(
            "term",
            "cf",
            "df",
            "e_df_r",
            (
                F.floor(F.col("df") / F.col("e_df_r") * 10000 + F.lit(0.5)) / 10000
            ).alias("burst_r"),
            "rank",
        )
    )


# --- q_text_rake ------------------------------------------------------------

#: RAKE phrase boundaries: stopwords + the length filter split candidate
#: keyphrases. Reuses the corpus stopword pair from q_text_quality.
_RAKE_STOPS = ("a", "the")

_RAKE_ORACLE = f"""
WITH pos AS (
  SELECT doc_id, i, w FROM (
    SELECT doc_id,
           unnest(generate_series(1, len(string_split(lower(text), ' '))))
             AS i,
           string_split(lower(text), ' ') AS ws
    FROM documents
  ) t, LATERAL (SELECT ws[i] AS w)
), members AS (
  SELECT doc_id, i, w,
         i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS island
  FROM pos WHERE w NOT IN {_RAKE_STOPS!r}
), sized AS (
  SELECT doc_id, island, i, w,
         COUNT(*) OVER (PARTITION BY doc_id, island) AS plen
  FROM members
), wstats AS (
  SELECT w,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(plen) AS BIGINT) AS deg
  FROM sized GROUP BY w
), wscore AS (
  SELECT w, CAST((deg * 1000000) // freq AS BIGINT) AS w_micro FROM wstats
), phrases AS (
  SELECT s.doc_id, s.island,
         string_agg(s.w, ' ' ORDER BY s.i) AS phrase,
         CAST(MAX(s.plen) AS BIGINT) AS phrase_len,
         CAST(SUM(ws.w_micro) AS BIGINT) AS score_micro
  FROM sized s JOIN wscore ws ON ws.w = s.w
  GROUP BY s.doc_id, s.island
), uniq AS (
  SELECT phrase, MAX(phrase_len) AS phrase_len,
         CAST(COUNT(*) AS BIGINT) AS n_occ,
         MAX(score_micro) AS score_micro
  FROM phrases WHERE phrase_len >= 2
  GROUP BY phrase
)
SELECT phrase, phrase_len, n_occ, score_micro, rank FROM (
  SELECT *, ROW_NUMBER() OVER (ORDER BY score_micro DESC, phrase) AS rank
  FROM uniq
) WHERE rank <= 15
"""


@register("q_text_rake", oracle=_RAKE_ORACLE)
def q_text_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al.): candidate phrases are
    maximal stopword-free token runs (gaps-and-islands on token
    positions), each word scores deg(w)/freq(w) — degree counts co-members
    across every phrase occurrence — and a phrase scores the sum of its
    member word scores; top-15 multiword phrases corpus-wide. The
    classic unsupervised keyword extractor, run at corpus scale for
    tagging/retrieval pipelines.

    Parity: word scores are integer micro floor-divisions (positive),
    phrase scores integer sums; phrase text is assembled in explicit
    position order on both engines (Spark sorts the (i, w) struct array —
    collect_list order is NOT deterministic, array_sort makes it so).
    Identical phrases scoring identically is a THEOREM of the shared
    (deg, freq) tables, so MAX over duplicates is exact.

    Scale shape: one posexplode pass, the island key from one per-doc
    window, word stats from one vocabulary-keyed aggregate (joined back
    broadcast-small), phrase assembly from one (doc, island) aggregate.
    No corpus-scale joins — the only join is members ⋈ word-scores on the
    vocabulary key.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("p", "w"),
    ).select("doc_id", (F.col("p") + 1).alias("i"), "w")
    members = pos.filter(~F.col("w").isin(*_RAKE_STOPS)).withColumn(
        "island",
        F.col("i")
        - F.row_number().over(Window.partitionBy("doc_id").orderBy("i")),
    )
    sized = members.withColumn(
        "plen", F.count(F.lit(1)).over(Window.partitionBy("doc_id", "island"))
    ).localCheckpoint(eager=False)
    wscore = (
        sized.groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum("plen").cast("bigint").alias("deg"),
        )
        .select("w", F.expr("cast((deg * 1000000) div freq as bigint)").alias("w_micro"))
    )
    phrases = (
        sized.join(F.broadcast(wscore), "w")
        .groupBy("doc_id", "island")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("i", "w"))),
                    lambda s: s["w"],
                ),
                " ",
            ).alias("phrase"),
            F.max("plen").cast("bigint").alias("phrase_len"),
            F.sum("w_micro").cast("bigint").alias("score_micro"),
        )
    )
    uniq = (
        phrases.filter(F.col("phrase_len") >= 2)
        .groupBy("phrase")
        .agg(
            F.max("phrase_len").alias("phrase_len"),
            F.count(F.lit(1)).cast("bigint").alias("n_occ"),
            F.max("score_micro").alias("score_micro"),
        )
    )
    w = Window.orderBy(F.col("score_micro").desc(), "phrase")
    return (
        uniq.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 15)
        .select("phrase", "phrase_len", "n_occ", "score_micro", "rank")
    )


# --- q_text_dup_ngram_coverage ----------------------------------------------

_DUPNG_N = 5  # n-gram width of the duplicate-coverage metric


_DUPNG_ORACLE = f"""
WITH ws AS (
  SELECT doc_id, source, string_split(lower(text), ' ') AS w FROM documents
), grams AS (
  SELECT doc_id, source,
         array_to_string(list_slice(w, i, i + {_DUPNG_N - 1}), ' ') AS g
  FROM ws, LATERAL (
    SELECT unnest(generate_series(1, len(w) - {_DUPNG_N - 1})) AS i
  )
  WHERE len(w) >= {_DUPNG_N}
), df AS (
  SELECT g, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df FROM grams GROUP BY g
), per_doc AS (
  SELECT gr.doc_id, gr.source,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
  FROM grams gr JOIN df ON df.g = gr.g
  GROUP BY gr.doc_id, gr.source
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_grams) AS BIGINT) AS total_grams,
       CAST(SUM(n_dup) AS BIGINT) AS total_dup,
       FLOOR(AVG(FLOOR(CAST(n_dup AS DOUBLE) / n_grams * 10000 + 0.5) / 10000)
             * 10000 + 0.5) / 10000 AS mean_dup_frac_r
FROM per_doc
GROUP BY source
"""


@register("q_text_dup_ngram_coverage", oracle=_DUPNG_ORACLE)
def q_text_dup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-5-gram coverage per source: the fraction of each document's
    5-grams that also occur in at least one OTHER document — the
    'duplicate n-gram fraction' quality signal from the Gopher /
    RefinedWeb filtering recipes (high coverage = boilerplate or template
    text; the per-source mean decides which feeds need harder dedup before
    training). Complements the pairwise dedup ladder: this is a
    corpus-global document-frequency statistic, not a pair metric.

    Parity: gram instances and document frequencies are exact integers;
    the only float is the per-doc fraction, snapped to 4 decimals before
    the per-source mean, which is snapped again on output.

    Scale shape (round-12 rewrite, guide §2.3/§2.4): grams hash in-row to
    8-byte xxhash64 keys inside the explode lambda (the q_dedup_ngram_jaccard
    convention — the oracle joins gram strings, the hash-green gate certifies
    collision-freedom), and the per-(doc, gram) COUNT collapses instances
    map-side BEFORE anything shuffles. Document frequency is then an
    unordered COUNT(*) window over the collapsed relation partitioned by
    gram — the corpus-sized instance↔df equi-join AND the corpus-sized
    localCheckpoint of the exploded gram strings are both gone (the sf1
    substring-screen A/B showed that materialization class is the
    regression); the single remaining consumer re-derives nothing. Per-doc
    and per-source rollups stay map-side combined: the corpus shuffles
    exactly twice, both times as collapsed (doc, gram-hash, cnt) rows."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    ws = docs.select(
        "doc_id", "source", F.split(F.lower("text"), " ").alias("w")
    )
    grams = ws.filter(F.size("w") >= _DUPNG_N).select(
        "doc_id",
        "source",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(w) - {_DUPNG_N - 1}),"
                f" i -> xxhash64(slice(w, i, {_DUPNG_N})))"
            )
        ).alias("g"),
    )
    gd = grams.groupBy("doc_id", "source", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    # df per gram: gd rows are distinct (doc, gram) pairs, so an unordered
    # count-over-partition window IS COUNT(DISTINCT doc_id) — no join back.
    gdf = gd.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("g")))
    per_doc = gdf.groupBy("doc_id", "source").agg(
        F.sum("cnt").cast("bigint").alias("n_grams"),
        F.sum(F.when(F.col("df") >= 2, F.col("cnt")).otherwise(0))
        .cast("bigint")
        .alias("n_dup"),
    )
    frac = F.floor(F.col("n_dup").cast("double") / F.col("n_grams") * 10000 + F.lit(0.5)) / 10000
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_grams").cast("bigint").alias("total_grams"),
        F.sum("n_dup").cast("bigint").alias("total_dup"),
        (F.floor(F.avg(frac) * 10000 + F.lit(0.5)) / 10000).alias("mean_dup_frac_r"),
    )


# --- q_text_perplexity --------------------------------------------------------

_PPX_TRAIN_SOURCE = "src0"  # the reference corpus the screen LM is trained on

_PPX_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
), vocab AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks WHERE source = '{_PPX_TRAIN_SOURCE}' GROUP BY tok
), st AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_train, CAST(COUNT(*) AS BIGINT) AS v
  FROM vocab
), logp AS (
  SELECT tok,
         FLOOR(LN((c + 1.0) / (n_train + v)) * 1000000 + 0.5) / 1000000 AS lp
  FROM vocab, st
), sc AS (
  SELECT t.doc_id, t.source,
         COALESCE(l.lp,
                  FLOOR(LN(1.0 / (st.n_train + st.v)) * 1000000 + 0.5)
                    / 1000000) AS lp,
         CASE WHEN l.tok IS NULL THEN 1 ELSE 0 END AS oov
  FROM toks t LEFT JOIN logp l ON t.tok = l.tok, st
  WHERE t.source <> '{_PPX_TRAIN_SOURCE}'
), pd AS (
  SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_toks,
         CAST(SUM(CAST(lp AS DECIMAL(18,7))) AS DOUBLE) AS sum_lp,
         CAST(SUM(oov) AS BIGINT) AS n_oov
  FROM sc GROUP BY doc_id, source
), ced AS (
  SELECT source, n_oov,
         FLOOR((-sum_lp / n_toks) * 10000 + 0.5) / 10000 AS ce_r
  FROM pd
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_oov) AS BIGINT) AS oov_tokens,
       MIN(ce_r) AS min_ce,
       MAX(ce_r) AS max_ce,
       FLOOR(CAST(SUM(CAST(ce_r AS DECIMAL(18,7))) AS DOUBLE) / COUNT(*)
             * 10000 + 0.5) / 10000 AS mean_ce
FROM ced GROUP BY source
"""


@register("q_text_perplexity", oracle=_PPX_ORACLE)
def q_text_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source perplexity screen: train an add-1-smoothed unigram LM on
    the reference source ({src0}) and score every OTHER source's documents by
    per-token cross-entropy, with unseen tokens charged the full smoothed OOV
    mass 1/(N+V) — the deployment shape of the CCNet/KenLM quality filter
    (reference corpus = Wikipedia, scored corpus = the crawl), one rung above
    q_text_unigram_lm which scores a corpus against itself and so never sees
    an OOV token.

    Parity: each ln is snapped to integer micros before the per-doc
    exact-decimal sum (the q_text_unigram_lm argument); per-doc cross-entropy
    is snapped to 4 decimals before the per-source mean so the mean sums on a
    fixed grid.

    Scale shape: the LM table is Zipf-small, so the score join BROADCASTS
    log-probs onto the token stream (left join keeps OOV rows); the single
    (n_train, V) row fans in via broadcast crossJoin. The 100 TB corpus is
    scanned once and shuffles only for the per-doc aggregate — train and
    score are the same scan, split by a pushed-down source predicate.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id", "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    )
    vocab = (
        toks.filter(F.col("source") == _PPX_TRAIN_SOURCE)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    st = vocab.agg(
        F.sum("c").cast("bigint").alias("n_train"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    snap6 = lambda col: F.floor(col * 1000000 + F.lit(0.5)) / 1000000  # noqa: E731
    logp = vocab.crossJoin(F.broadcast(st)).select(
        F.col("tok").alias("ltok"),
        snap6(
            F.log((F.col("c") + F.lit(1.0)) / (F.col("n_train") + F.col("v")))
        ).alias("lp"),
    )
    sc = (
        toks.filter(F.col("source") != _PPX_TRAIN_SOURCE)
        .join(F.broadcast(logp), F.col("tok") == F.col("ltok"), "left")
        .crossJoin(F.broadcast(st))
        .select(
            "doc_id",
            "source",
            F.coalesce(
                "lp",
                snap6(F.log(F.lit(1.0) / (F.col("n_train") + F.col("v")))),
            ).alias("lp"),
            F.when(F.col("ltok").isNull(), 1).otherwise(0).alias("oov"),
        )
    )
    pd_ = sc.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_toks"),
        F.sum(F.col("lp").cast(DEC)).cast("double").alias("sum_lp"),
        F.sum("oov").cast("bigint").alias("n_oov"),
    )
    ce_r = (
        F.floor((-F.col("sum_lp") / F.col("n_toks")) * 10000 + F.lit(0.5)) / 10000
    )
    return (
        pd_.select("source", "n_oov", ce_r.alias("ce_r"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_oov").cast("bigint").alias("oov_tokens"),
            F.min("ce_r").alias("min_ce"),
            F.max("ce_r").alias("max_ce"),
            (
                F.floor(
                    F.sum(F.col("ce_r").cast(DEC)).cast("double")
                    / F.count(F.lit(1))
                    * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("mean_ce"),
        )
    )


# --- q_text_kneser_ney ---------------------------------------------------------

_KN_D = 0.75  # absolute discount (the standard KN value)


_KN_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, tok, idx
  FROM (
    SELECT doc_id, lang,
           unnest(string_split(lower(text), ' ')) AS tok,
           generate_subscripts(string_split(lower(text), ' '), 1) AS idx
    FROM documents
  )
), bg AS (
  SELECT a.lang, a.tok AS w1, b.tok AS w2, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks a JOIN toks b
    ON b.doc_id = a.doc_id AND b.idx = a.idx + 1
  GROUP BY a.lang, a.tok, b.tok
), c1 AS (
  SELECT lang, w1, CAST(SUM(c) AS BIGINT) AS cw1,
         CAST(COUNT(*) AS BIGINT) AS n1fw
  FROM bg GROUP BY lang, w1
), cont AS (
  SELECT lang, w2, CAST(COUNT(*) AS BIGINT) AS n1bw FROM bg
  GROUP BY lang, w2
), t AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_types FROM bg GROUP BY lang
), scored AS (
  SELECT bg.lang, bg.w1, bg.w2, bg.c,
         CAST(FLOOR((GREATEST(bg.c - {_KN_D}, 0) / c1.cw1
                     + {_KN_D} * c1.n1fw / c1.cw1
                       * (CAST(cont.n1bw AS DOUBLE) / t.n_types))
                    * 1000000 + 0.5) AS BIGINT) AS p_kn_micro,
         ROW_NUMBER() OVER (
           PARTITION BY bg.lang ORDER BY bg.c DESC, bg.w1, bg.w2
         ) AS rk
  FROM bg
  JOIN c1 ON c1.lang = bg.lang AND c1.w1 = bg.w1
  JOIN cont ON cont.lang = bg.lang AND cont.w2 = bg.w2
  JOIN t ON t.lang = bg.lang
)
SELECT lang, CAST(rk AS BIGINT) AS rk, w1, w2, c, p_kn_micro
FROM scored WHERE rk <= 3
"""


@register("q_text_kneser_ney", oracle=_KN_ORACLE)
def q_text_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram probabilities (D={_KN_D}) — the
    smoothing that made n-gram LMs work and still the baseline CCNet-class
    quality scorers discount with: P(w2|w1) = max(c−D,0)/c(w1) +
    D·N₁₊(w1,·)/c(w1) · N₁₊(·,w2)/|bigram types|, where the continuation
    count N₁₊(·,w2) — in how many CONTEXTS w2 appears, not how often —
    is what distinguishes KN from plain backoff (the "San Francisco"
    problem: 'Francisco' is frequent but appears in one context). Reports
    each language's top-3 bigrams with their smoothed probabilities.

    Parity: every count (bigram, left-marginal, continuation, type total)
    is an exact integer; the discount is the shared {_KN_D} literal; one
    double expression per row snapped to micros; ranking ties break
    lexicographically.

    Scale shape: bigrams come from the q_text_bigrams position-join
    machinery (index equi-join, never a window over the corpus); the three
    marginal relations are shrinking aggregates joined back — the bigram
    table is touched once. This IS the distributed KN estimation pass of an
    n-gram pipeline; higher orders add one marginal join per order.
    """
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "doc_id",
        "lang",
        F.posexplode(F.split(F.lower("text"), " ")).alias("idx", "tok"),
    )
    tb = toks.select(
        F.col("doc_id").alias("bd"),
        F.col("idx").alias("bidx"),
        F.col("tok").alias("w2"),
    )
    bg = (
        toks.join(
            tb,
            (F.col("bd") == F.col("doc_id"))
            & (F.col("bidx") == F.col("idx") + 1),
        )
        .groupBy("lang", F.col("tok").alias("w1"), "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .localCheckpoint(eager=False)
    )
    c1 = bg.groupBy(F.col("lang").alias("l1"), F.col("w1").alias("x1")).agg(
        F.sum("c").cast("bigint").alias("cw1"),
        F.count(F.lit(1)).cast("bigint").alias("n1fw"),
    )
    cont = bg.groupBy(F.col("lang").alias("l2"), F.col("w2").alias("x2")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n1bw")
    )
    t = bg.groupBy(F.col("lang").alias("l3")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types")
    )
    p_kn = F.floor(
        (
            F.greatest(F.col("c") - _KN_D, F.lit(0.0)) / F.col("cw1")
            + _KN_D
            * F.col("n1fw")
            / F.col("cw1")
            * (F.col("n1bw").cast("double") / F.col("n_types"))
        )
        * 1000000
        + F.lit(0.5)
    ).cast("bigint")
    scored = (
        bg.join(
            F.broadcast(c1),
            (F.col("lang") == F.col("l1")) & (F.col("w1") == F.col("x1")),
        )
        .join(
            F.broadcast(cont),
            (F.col("lang") == F.col("l2")) & (F.col("w2") == F.col("x2")),
        )
        .join(F.broadcast(t), F.col("lang") == F.col("l3"))
        .select(
            "lang",
            "w1",
            "w2",
            "c",
            p_kn.alias("p_kn_micro"),
            F.row_number()
            .over(
                Window.partitionBy("lang").orderBy(F.desc("c"), "w1", "w2")
            )
            .alias("rk"),
        )
    )
    return scored.filter(F.col("rk") <= 3).select(
        "lang", F.col("rk").cast("bigint").alias("rk"), "w1", "w2", "c", "p_kn_micro"
    )


# --- q_text_jsd ----------------------------------------------------------------

_JSD_LN2 = "0.6931471805599453"  # shared ln(2) literal for the one-sided mass


_JSD_ORACLE = f"""
WITH toks AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS tok FROM documents
), sc AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY source, tok
), ns AS (
  SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM sc GROUP BY source
), shared AS (
  SELECT a.source AS sa, b.source AS sb, na.n AS n_a, nb.n AS n_b,
         a.c AS ca, b.c AS cb
  FROM sc a JOIN sc b ON a.tok = b.tok AND a.source < b.source
  JOIN ns na ON na.source = a.source
  JOIN ns nb ON nb.source = b.source
), terms AS (
  SELECT sa, sb, n_a, n_b, ca, cb,
         CAST(CAST(ca AS DOUBLE) / n_a
              * LN(2.0 * ca * n_b / (CAST(ca AS DOUBLE) * n_b
                                     + CAST(cb AS DOUBLE) * n_a))
              AS DECIMAL(18,7)) AS tp,
         CAST(CAST(cb AS DOUBLE) / n_b
              * LN(2.0 * cb * n_a / (CAST(ca AS DOUBLE) * n_b
                                     + CAST(cb AS DOUBLE) * n_a))
              AS DECIMAL(18,7)) AS tq
  FROM shared
)
SELECT sa, sb,
       CAST(COUNT(*) AS BIGINT) AS n_shared_tokens,
       FLOOR(0.5 * (CAST(SUM(tp) AS DOUBLE) + CAST(SUM(tq) AS DOUBLE)
                    + {_JSD_LN2} * (CAST(MAX(n_a) - SUM(ca) AS DOUBLE) / MAX(n_a))
                    + {_JSD_LN2} * (CAST(MAX(n_b) - SUM(cb) AS DOUBLE) / MAX(n_b)))
             * 10000 + 0.5) / 10000 AS jsd_r4
FROM terms
GROUP BY sa, sb
"""


@register("q_text_jsd", oracle=_JSD_ORACLE)
def q_text_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Jensen-Shannon divergence between every pair of source
    unigram distributions — the symmetric, bounded corpus-distance matrix
    that drives source-mixing decisions (q_corpus_mix picks weights; this
    measures how redundant or complementary two sources actually are).
    Complements q_text_kl_drift (each source vs the global mix,
    asymmetric) with the full 190-pair source×source geometry.

    The scalable formulation: tokens present in BOTH sources come from one
    equi-join on token (never a per-pair full-outer or a vocab×pairs
    grid), and the entire one-sided tail collapses to a CLOSED FORM —
    when q(t)=0, ln(p/m) = ln 2 exactly, so the missing-mass contribution
    is ln2·(1 − Σ_shared p), computable from the shared-token integer
    sums alone. JSD = ½[Σ tp + Σ tq + ln2·(miss_p + miss_q)].

    Parity: token counts and totals are exact bigints; each shared-token
    term is one double sequence over exact integer ratios
    (p/m = 2·c_a·n_b/(c_a·n_b + c_b·n_a)) snapped to decimal(18,7) so the
    vocabulary-sized sum is order-independent; ln 2 is a shared literal.

    Scale shape: one token-count aggregate, one self-equi-join on token
    (fan-out = sources co-containing the token, bounded by |sources|),
    one (pair) aggregate. At 100 TB with 10k sources, block the pair
    space by LSH over source term-vectors first (q_dedup_near_minhash's
    banding) and run this exact JSD only within candidate blocks.
    """
    docs = load(spark, sf_dir, "documents")
    toks = spread(docs).select(
        "source", F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok")
    )
    sc = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    ns = sc.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    a = sc.select(
        F.col("source").alias("sa"), F.col("tok").alias("ta"), F.col("c").alias("ca")
    )
    b = sc.select(
        F.col("source").alias("sb"), F.col("tok").alias("tb"), F.col("c").alias("cb")
    )
    na = ns.select(F.col("source").alias("sa"), F.col("n").alias("n_a"))
    nb = ns.select(F.col("source").alias("sb"), F.col("n").alias("n_b"))
    shared = (
        a.join(b, (F.col("ta") == F.col("tb")) & (F.col("sa") < F.col("sb")))
        .join(F.broadcast(na), "sa")
        .join(F.broadcast(nb), "sb")
    )
    ln2 = float(_JSD_LN2)
    denom = F.col("ca").cast("double") * F.col("n_b") + F.col("cb").cast(
        "double"
    ) * F.col("n_a")
    tp = (
        F.col("ca").cast("double")
        / F.col("n_a")
        * F.log(F.lit(2.0) * F.col("ca") * F.col("n_b") / denom)
    ).cast("decimal(18,7)")
    tq = (
        F.col("cb").cast("double")
        / F.col("n_b")
        * F.log(F.lit(2.0) * F.col("cb") * F.col("n_a") / denom)
    ).cast("decimal(18,7)")
    terms = shared.select(
        "sa", "sb", "n_a", "n_b", "ca", "cb", tp.alias("tp"), tq.alias("tq")
    )
    jsd = 0.5 * (
        F.sum("tp").cast("double")
        + F.sum("tq").cast("double")
        + ln2
        * ((F.max("n_a") - F.sum("ca")).cast("double") / F.max("n_a"))
        + ln2
        * ((F.max("n_b") - F.sum("cb")).cast("double") / F.max("n_b"))
    )
    return terms.groupBy("sa", "sb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared_tokens"),
        (F.floor(jsd * 10000 + F.lit(0.5)) / 10000).alias("jsd_r4"),
    )


# --- q_text_watermark -------------------------------------------------------

#: z threshold in micro units for flagging a doc as watermarked (z > 2).
_WM_Z_CRIT_MICRO = 2_000_000

_WM_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, source, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
), marked AS (
  SELECT doc_id, source,
         CASE WHEN substr(sha256(tok), 1, 1) IN
                   ('0','1','2','3','4','5','6','7')
              THEN 1 ELSE 0 END AS green
  FROM toks WHERE LENGTH(tok) > 0
), per_doc AS (
  SELECT doc_id, source,
         CAST(COUNT(*) AS BIGINT) AS n_tok,
         CAST(SUM(green) AS BIGINT) AS n_green
  FROM marked GROUP BY doc_id, source
), z AS (
  SELECT doc_id, source, n_tok, n_green,
         CAST(FLOOR(CAST(2 * n_green - n_tok AS DOUBLE) / SQRT(CAST(n_tok AS DOUBLE))
                    * 1000000 + 0.5) AS BIGINT) AS z_micro
  FROM per_doc
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN z_micro > {_WM_Z_CRIT_MICRO} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_flagged,
       CAST(SUM(z_micro) AS BIGINT) AS sum_z_micro,
       CAST(MAX(z_micro) AS BIGINT) AS max_z_micro
FROM z GROUP BY source
"""


@register("q_text_watermark", oracle=_WM_ORACLE)
def q_text_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Green-list watermark detection (Kirchenbauer-style, hash-seeded token
    partition): every token is deterministically assigned green/red by the
    first hex digit of its sha256 (p_green = 1/2 — sha2 hex matches
    DuckDB's sha256 byte-for-byte), a watermarked generator would
    over-sample green tokens, and the per-doc one-proportion z-score
    (2g − n)/√n flags docs with z > 2. The per-source rollup (doc counts,
    flag counts, exact z-sums) is the corpus screen a training-data
    pipeline runs to quarantine synthetic/model-generated sources before
    mixing.

    Exactness: n and g are bigints; z is one sqrt + one division
    (identical IEEE sequence both engines) snapped to micro units, and
    the source rollup sums only bigints — no float accumulation.

    Scale shape: tokenize → per-doc aggregate (map-side combined, keyed by
    doc_id so the explode never shuffles raw tokens: partial agg collapses
    each doc locally) → per-source aggregate over |docs| rows. At 100 TB
    the plan is the same two hash aggregates; the hash is JVM-side
    whole-stage codegen, no Python.
    """
    docs = load(spark, sf_dir, "documents")
    toks = spread(docs).select(
        "doc_id",
        "source",
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("tok"),
    )
    marked = toks.filter(F.length("tok") > 0).select(
        "doc_id",
        "source",
        F.when(
            F.substring(F.sha2(F.col("tok"), 256), 1, 1).isin(
                "0", "1", "2", "3", "4", "5", "6", "7"
            ),
            1,
        )
        .otherwise(0)
        .alias("green"),
    )
    per_doc = marked.groupBy("doc_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok"),
        F.sum("green").cast("bigint").alias("n_green"),
    )
    z = per_doc.select(
        "source",
        F.floor(
            (2 * F.col("n_green") - F.col("n_tok")).cast("double")
            / F.sqrt(F.col("n_tok").cast("double"))
            * 1000000
            + F.lit(0.5)
        )
        .cast("bigint")
        .alias("z_micro"),
    )
    return z.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(
            F.when(F.col("z_micro") > _WM_Z_CRIT_MICRO, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_flagged"),
        F.sum("z_micro").cast("bigint").alias("sum_z_micro"),
        F.max("z_micro").cast("bigint").alias("max_z_micro"),
    )


# --- q_text_simpson -----------------------------------------------------------

_SIMPSON_ORACLE = """
WITH toks AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS tok
  FROM documents
), tc AS (
  SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS c
  FROM toks WHERE LENGTH(tok) > 0 GROUP BY source, tok
)
SELECT source,
       CAST(SUM(c) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS vocab,
       CAST(FLOOR(CAST(SUM(c * (c - 1)) AS DOUBLE)
                  / (CAST(SUM(c) AS DOUBLE) * (SUM(c) - 1))
                  * 1000000 + 0.5) AS BIGINT) AS simpson_micro
FROM tc
GROUP BY source
HAVING SUM(c) > 1
"""


@register("q_text_simpson", oracle=_SIMPSON_ORACLE)
def q_text_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson concentration index per source — the lexical-diversity gauge
    next to Zipf coverage, Heaps growth, and token entropy: D = Σ c(c−1) /
    (N(N−1)), the exact probability two tokens drawn WITHOUT replacement
    are the same type. High D = repetitive/templated text (boilerplate,
    spam mills); the screen that catches low-diversity sources before they
    flood a training mix. Degenerate single-token sources are dropped by
    both engines (N(N−1) = 0).

    Parity: numerator Σ c(c−1) and denominator N(N−1) are exact bigints
    (c ≤ N ≤ ~10⁹ tokens per source before c(c−1) nears int64 — the
    decimal escalation documented at q_agg_hhi applies beyond); the
    reported index is ONE micro-snapped double division.

    Scale shape: one (source, token) count — the only full-data shuffle —
    then a per-source rollup of the collapsed vocabulary relation;
    map-side combine on both. The same two-level aggregate the rest of
    the lexicostatistics family rides."""
    docs = spread(load(spark, sf_dir, "documents"), "doc_id")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), " ")).alias("tok")
    ).filter(F.length("tok") > 0)
    tc = toks.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    return (
        tc.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("vocab"),
            F.floor(
                F.sum(F.col("c") * (F.col("c") - 1)).cast("double")
                / (
                    F.sum("c").cast("double")
                    * (F.sum("c") - 1).cast("double")
                )
                * 1000000
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("simpson_micro"),
        )
        .filter(F.col("n_tokens") > 1)
    )


# --- q_text_readability ---------------------------------------------------------

_READ_ORACLE = """
WITH m AS (
  SELECT lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
         CAST(GREATEST(LENGTH(text) - LENGTH(replace(replace(replace(text,
                '.', ''), '!', ''), '?', '')), 1) AS BIGINT) AS sents,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
           AS syll
  FROM documents WHERE LENGTH(text) > 0
), agg AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(words) AS BIGINT) AS words,
         CAST(SUM(sents) AS BIGINT) AS sents,
         CAST(SUM(syll) AS BIGINT) AS syll
  FROM m GROUP BY lang
)
SELECT lang, n_docs, words, sents, syll,
       FLOOR((0.39 * (CAST(words AS DOUBLE) / sents)
              + 11.8 * (CAST(syll AS DOUBLE) / words) - 15.59)
             * 10000 + 0.5) / 10000 AS fk_grade_r4
FROM agg
"""


@register("q_text_readability", oracle=_READ_ORACLE)
def q_text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-Kincaid grade level per language — the classic readability
    screen next to the stopword/length quality heuristics (training mixes
    gate on it to skew toward clear prose; accessibility audits report
    it): grade = 0.39·(words/sentence) + 11.8·(syllables/word) − 15.59,
    with syllables approximated by vowel groups (the standard
    dictionary-free proxy) and sentences by terminal-punctuation count
    (floored at 1 per doc).

    Parity: words / sentence marks / vowel groups are deterministic
    integer string counts; the corpus-level grade is ONE fixed double
    formula over the exact per-language integer sums, snapped r4 — no
    per-doc floats ever aggregated.

    Scale shape: one pushed-down scan with all three counts in a single
    codegen projection (the text column dies there), one
    map-side-combined rollup keyed by the tiny language domain."""
    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    sents_expr = F.greatest(
        F.length("text")
        - F.length(
            F.regexp_replace(F.regexp_replace(F.regexp_replace("text", "\\.", ""), "!", ""), "\\?", "")
        ),
        F.lit(1),
    )
    m = docs.select(
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("words"),
        sents_expr.cast("bigint").alias("sents"),
        F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
        .cast("bigint")
        .alias("syll"),
    )
    agg = m.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("words").cast("bigint").alias("words"),
        F.sum("sents").cast("bigint").alias("sents"),
        F.sum("syll").cast("bigint").alias("syll"),
    )
    grade = (
        0.39 * (F.col("words").cast("double") / F.col("sents"))
        + 11.8 * (F.col("syll").cast("double") / F.col("words"))
        - 15.59
    )
    return agg.select(
        "lang",
        "n_docs",
        "words",
        "sents",
        "syll",
        (F.floor(grade * 10000 + F.lit(0.5)) / 10000).alias("fk_grade_r4"),
    )


# --- q_text_bpe_train ---------------------------------------------------------

_BPE_ROUNDS = 2


#: The words/w1 front shared by the BPE train and encode oracles: the
#: corpus collapsed to the word-frequency relation, chars exploded to the
#: initial symbol sequence.
_BPE_WORDS_SQL = """
WITH words AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT UNNEST(string_split(lower(text), ' ')) AS word FROM documents)
  WHERE word <> '' GROUP BY word
), w1 AS (
  SELECT word, freq,
         list_transform(range(1, length(word) + 1), i -> substr(word, i, 1)) AS t
  FROM words
)"""

#: One unrolled merge round (round {r}: w{r} -> w{nxt}), shared by the BPE
#: train and encode oracles. Greedy left-to-right application proved via
#: gaps-and-islands: alternating members of each maximal run of
#: consecutive match positions merge, which is exactly the left fold.
_BPE_STAGE_SQL = """, p{r} AS (
  SELECT t[i] AS a, t[i+1] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
  FROM w{r}, UNNEST(range(1, len(t))) AS u(i)
  GROUP BY a, b
), best{r} AS (
  SELECT a, b, cnt FROM p{r} ORDER BY cnt DESC, a, b LIMIT 1
), pos{r} AS (
  SELECT word, freq, i, t[i] AS tok,
         (i < len(t) AND t[i] = best.a AND t[i+1] = best.b) AS m
  FROM w{r}, UNNEST(range(1, len(t) + 1)) AS u(i) CROSS JOIN best{r} AS best
), isl{r} AS (
  SELECT word, i, i - ROW_NUMBER() OVER (PARTITION BY word ORDER BY i) AS g
  FROM pos{r} WHERE m
), kept{r} AS (
  SELECT word, i FROM (
    SELECT word, i, MIN(i) OVER (PARTITION BY word, g) AS i0 FROM isl{r}
  ) WHERE (i - i0) % 2 = 0
), w{nxt} AS (
  SELECT p.word, p.freq,
         list(CASE WHEN k.i IS NOT NULL THEN best.a || best.b ELSE p.tok END
              ORDER BY p.i) AS t
  FROM pos{r} p
  CROSS JOIN best{r} AS best
  LEFT JOIN kept{r} k  ON k.word = p.word AND k.i = p.i
  LEFT JOIN kept{r} k2 ON k2.word = p.word AND k2.i = p.i - 1
  WHERE k2.i IS NULL
  GROUP BY p.word, p.freq
), stat{r} AS (
  SELECT CAST({r} AS BIGINT) AS round, a, b, cnt AS pair_count,
         (SELECT CAST(SUM(freq * len(t)) AS BIGINT) FROM w{r})
           - (SELECT CAST(SUM(freq * len(t)) AS BIGINT) FROM w{nxt})
           AS n_merges_w,
         (SELECT CAST(SUM(freq * len(t)) AS BIGINT) FROM w{nxt})
           AS corpus_tokens_after,
         (SELECT CAST(COUNT(DISTINCT x) AS BIGINT) FROM w{nxt}, UNNEST(t) AS s(x))
           AS n_symbols_after
  FROM best{r}
)"""


def _bpe_oracle() -> str:
    """Two unrolled BPE merge rounds in DuckDB: pair counting over the
    word-frequency table, argmax merge selection (count DESC, pair ASC),
    then GREEDY LEFT-TO-RIGHT application via gaps-and-islands — maximal
    runs of consecutive match positions keep alternating members, which is
    provably the left-fold greedy (overlap only arises for a=b runs)."""
    sql = _BPE_WORDS_SQL
    for r in range(1, _BPE_ROUNDS + 1):
        sql += _BPE_STAGE_SQL.format(r=r, nxt=r + 1)
    sql += "\n" + "\nUNION ALL\n".join(
        f"SELECT * FROM stat{r}" for r in range(1, _BPE_ROUNDS + 1)
    )
    return sql


def _bpe_words(docs: DataFrame) -> DataFrame:
    """Corpus → (word, freq, toks) word-frequency relation with the initial
    per-character symbol sequence — the ONE corpus-scale shuffle of the BPE
    family; every merge round after it is vocabulary-bounded."""
    return (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
        .withColumn(
            "toks",
            F.expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"),
        )
    )


def _bpe_pair_best(w: DataFrame) -> DataFrame:
    """Argmax merge candidate for one round: adjacent-pair counts weighted
    by word frequency (explode positions over the vocab-bounded relation),
    tie-broken (count DESC, pair ASC) to a 1-row (a, b, cnt)."""
    pairs = (
        w.filter(F.size("toks") >= 2)
        .select(
            "freq",
            F.explode(F.sequence(F.lit(1), F.size("toks") - 1)).alias("i"),
            "toks",
        )
        .select(
            F.element_at("toks", F.col("i")).alias("a"),
            F.element_at("toks", F.col("i") + 1).alias("b"),
            "freq",
        )
        .groupBy("a", "b")
        .agg(F.sum("freq").cast("bigint").alias("cnt"))
    )
    return pairs.orderBy(F.desc("cnt"), "a", "b").limit(1)


def _bpe_apply_merge(w: DataFrame, best: DataFrame) -> DataFrame:
    """Greedy left-to-right application of the broadcast 1-row merge (a, b)
    inside every word: ``F.aggregate`` left fold — merge the incoming
    symbol into the accumulator's tail when (tail, x) equals the chosen
    pair, else append. Row-local inside codegen; no explode/window/regroup
    per round."""
    return w.crossJoin(F.broadcast(best.select("a", "b"))).select(
        "word",
        "freq",
        F.aggregate(
            "toks",
            F.expr("CAST(array() AS array<string>)"),
            lambda acc, x: F.when(
                (F.size(acc) > 0)
                & (F.element_at(acc, -1) == F.col("a"))
                & (x == F.col("b")),
                F.concat(
                    F.slice(acc, F.lit(1), F.size(acc) - 1),
                    F.array(F.concat(F.col("a"), F.col("b"))),
                ),
            ).otherwise(F.concat(acc, F.array(x))),
        ).alias("toks"),
    )


@register("q_text_bpe_train", oracle=_bpe_oracle())
def q_text_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer TRAINING, two unrolled merge rounds — the full inner
    loop q_text_bpe_pairs only scores once: count adjacent symbol pairs
    over the word-frequency table, pick the argmax merge (count DESC, pair
    ASC), APPLY it greedily left-to-right inside every word, and repeat on
    the merged symbols. Emits per round the chosen pair, its weighted
    count, the realized merge count (overlaps make it ≤ the pair count),
    and the corpus/vocab sizes after — the learning curve a tokenizer
    build reports.

    Greedy semantics, exactly: a merge consumes its right symbol, so inside
    a run like "aaa" the pair (a,a) counts twice but merges once. The
    Spark side applies this as a per-word LEFT FOLD — ``F.aggregate``
    (Catalyst's fold HOF): merge the incoming symbol into the
    accumulator's tail when (tail, x) equals the chosen pair, else append
    — which runs row-local inside codegen, NO explode/window/re-group per
    round. The oracle proves the same semantics relationally
    (gaps-and-islands: alternating members of each maximal run of
    consecutive match positions), so the hash match is a cross-PARADIGM
    proof of the greedy application, not just of the counts.

    Scale shape (the classic BPE optimization, shared with
    q_text_bpe_pairs): the corpus collapses ONCE to the word-frequency
    relation — the only corpus-scale shuffle; every merge round is then
    vocabulary-bounded (pair counts explode over words, the fold rewrites
    ≤ |vocab| rows; the 1-row argmax broadcasts). At 100 TB of text this
    is why BPE training is feasible at all. The merged word relation is
    lazily checkpointed between rounds so round 2's plan reads blocks, not
    a doubled lineage.
    """
    docs = load(spark, sf_dir, "documents")
    words = _bpe_words(docs)

    def tok_sum(w):
        return w.agg(
            F.sum(F.col("freq") * F.size("toks")).cast("bigint").alias("s")
        )

    out_rows = []
    w = words.localCheckpoint(eager=False)
    for r in range(1, _BPE_ROUNDS + 1):
        best = _bpe_pair_best(w)
        merged = _bpe_apply_merge(w, best).localCheckpoint(eager=False)
        syms = merged.select(F.explode("toks").alias("x")).agg(
            F.count_distinct("x").cast("bigint").alias("n_symbols_after")
        )
        row = (
            best.select(
                F.lit(r).cast("bigint").alias("round"), "a", "b",
                F.col("cnt").alias("pair_count"),
            )
            .crossJoin(F.broadcast(tok_sum(w).select(F.col("s").alias("before"))))
            .crossJoin(F.broadcast(tok_sum(merged).select(F.col("s").alias("after"))))
            .crossJoin(F.broadcast(syms))
            .select(
                "round", "a", "b", "pair_count",
                (F.col("before") - F.col("after")).alias("n_merges_w"),
                F.col("after").alias("corpus_tokens_after"),
                "n_symbols_after",
            )
        )
        out_rows.append(row)
        w = merged
    out = out_rows[0]
    for row in out_rows[1:]:
        out = out.unionByName(row)
    return out


def _bpe_encode_oracle() -> str:
    """Encode = the same two unrolled merge rounds (so the oracle trains the
    identical merge list), then a per-word token-count lookup joined back
    to the exploded corpus and rolled up per language."""
    sql = _BPE_WORDS_SQL
    for r in range(1, _BPE_ROUNDS + 1):
        sql += _BPE_STAGE_SQL.format(r=r, nxt=r + 1)
    sql += f"""
, wtok AS (
  SELECT word, CAST(len(t) AS BIGINT) AS n_tok FROM w{_BPE_ROUNDS + 1}
), corpus AS (
  SELECT doc_id, lang, word FROM (
    SELECT doc_id, lang, UNNEST(string_split(lower(text), ' ')) AS word
    FROM documents)
  WHERE word <> ''
)
SELECT lang,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_words,
       CAST(SUM(length(word)) AS BIGINT) AS n_chars,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       FLOOR(CAST(SUM(length(word)) AS DOUBLE) / SUM(n_tok) * 10000 + 0.5)
         / 10000 AS chars_per_token_r4,
       FLOOR(CAST(SUM(n_tok) AS DOUBLE) / COUNT(DISTINCT doc_id) * 10000 + 0.5)
         / 10000 AS tokens_per_doc_r4
FROM corpus JOIN wtok USING (word)
GROUP BY lang
"""
    return sql


@register("q_text_bpe_encode", oracle=_bpe_encode_oracle())
def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer ENCODE — the operator a training-data pipeline runs
    daily: apply the trained merge list to the corpus and report, per
    language, the realized token economics (total tokens, chars per token =
    the compression ratio, tokens per document). Completes the tokenizer
    lifecycle next to q_text_bpe_pairs (score) and q_text_bpe_train
    (learn): here the {_BPE_ROUNDS}-merge list learned by the same
    argmax/fold machinery (_bpe_pair_best / _bpe_apply_merge) is applied
    in merge order — BPE encode semantics are exactly "replay the merges
    in learned order", so the per-word greedy left fold per round IS the
    encoder.

    Scale shape (the reason BPE encoding is feasible at 100 TB): encoding
    happens at the DISTINCT-WORD level — the corpus collapses once to the
    word-frequency relation, each merge round is a vocabulary-bounded fold,
    and the per-word token COUNT (a 2-column map) joins back to the
    exploded corpus for the per-language rollup via a shuffle hash join —
    the vocabulary is unbounded on natural corpora, so it is never
    broadcast. The corpus is never re-folded per merge round and never
    carries token arrays — only the one explode it already pays for word
    counting, one shuffled hash join, one final aggregate. A real tokenizer build emits the token ids the
    same way (word → id-array lookup table); the economics rollup here is
    the certificate every curation run reports.

    Parity: the oracle re-trains the identical merge list via the
    gaps-and-islands relational form of the greedy fold, so the hash match
    proves train+encode end-to-end across paradigms."""
    docs = load(spark, sf_dir, "documents")
    w = _bpe_words(docs).localCheckpoint(eager=False)
    for _ in range(_BPE_ROUNDS):
        w = _bpe_apply_merge(w, _bpe_pair_best(w)).localCheckpoint(eager=False)
    wtok = w.select("word", F.size("toks").cast("bigint").alias("n_tok"))
    corpus = (
        docs.select(
            "doc_id", "lang", F.explode(F.split(F.lower("text"), " ")).alias("word")
        )
        .filter(F.col("word") != "")
    )
    # shuffle_hash, NOT broadcast: wtok is the DISTINCT-WORD vocabulary,
    # which on a natural corpus is unbounded (IDs, URLs, typos grow with
    # corpus size) — a forced broadcast is the same driver-collect failure
    # class round 9 demoted in the longgram/sentence/5-gram join-backs.
    # word is the equi-key on both sides, so the hash join shuffles the
    # vocabulary once instead of collecting it.
    return (
        corpus.join(wtok.hint("shuffle_hash"), "word")
        .groupBy("lang")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_words"),
            F.sum(F.length("word")).cast("bigint").alias("n_chars"),
            F.sum("n_tok").cast("bigint").alias("n_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "n_words",
            "n_chars",
            "n_tokens",
            F.expr(
                "FLOOR(CAST(n_chars AS DOUBLE) / n_tokens * 10000 + 0.5) / 10000"
            ).alias("chars_per_token_r4"),
            F.expr(
                "FLOOR(CAST(n_tokens AS DOUBLE) / n_docs * 10000 + 0.5) / 10000"
            ).alias("tokens_per_doc_r4"),
        )
    )


# --- q_text_synthetic_screen --------------------------------------------------

_SYNTH_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, lang, string_split(lower(text), ' ') AS t FROM documents
), ws AS (
  SELECT doc_id, lang,
         len(t) AS n_words,
         len(list_distinct(t)) AS n_distinct
  FROM toks
), grams AS (
  SELECT doc_id, t[i] || ' ' || t[i + 1] AS g
  FROM toks, LATERAL (SELECT unnest(generate_series(1, len(t) - 1)) AS i) _
  WHERE len(t) >= 2
), per_gram AS (
  SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY 1, 2
), rep AS (
  SELECT doc_id, CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS frac
  FROM per_gram GROUP BY doc_id
), scored AS (
  SELECT ws.lang,
         CAST(ws.n_distinct AS DOUBLE) / ws.n_words AS ttr,
         COALESCE(rep.frac, 0.0) AS frac
  FROM ws LEFT JOIN rep USING (doc_id)
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN frac > 0.08 OR ttr < 0.3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_suspect,
       {oracle_r4(
           "CAST(SUM(CASE WHEN frac > 0.08 OR ttr < 0.3 THEN 1 ELSE 0 END)"
           " AS DOUBLE) / COUNT(*)",
           'suspect_share_r4',
       )},
       {oracle_r4(
           "CAST(SUM(CAST(ttr AS DECIMAL(18,7))) AS DOUBLE) / COUNT(*)",
           'avg_ttr_r4',
       )},
       {oracle_r4(
           "CAST(SUM(CAST(frac AS DECIMAL(18,7))) AS DOUBLE) / COUNT(*)",
           'avg_top_bigram_r4',
       )}
FROM scored GROUP BY lang
"""


@register("q_text_synthetic_screen", oracle=_SYNTH_ORACLE)
def q_text_synthetic_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-generated/template-text screen — the post-2023 curation gate a
    pretraining pipeline runs alongside the C4/Gopher filters: flag a
    document as synthetic-suspect when its single hottest bigram covers
    > 8% of all bigrams (template looping) OR its type-token ratio falls
    below 0.3 (the low lexical diversity that repetitive generation
    produces). Reports per-language suspect share plus the two underlying
    signal means — the numbers an operator watches before turning the
    screen into a hard drop at crawl scale.

    Parity engineering: both signals are single double divisions of exact
    integers; the OR-threshold compares those identical doubles, so the
    verdict is engine-portable without rounding tricks; the signal means
    cross the aggregate as exact decimals (partition-order independent).

    Scale shape: one token split feeds BOTH signals — the word stats are
    per-row array functions (no explode), and the bigram max/total reuses
    q_text_repetition's two map-side-combinable hash aggregates keyed by
    doc_id; the verdict is one more hash aggregate keyed by lang. Nothing
    quadratic, nothing Python, no window over the corpus."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.split(F.lower("text"), " ").alias("t")
    )
    ws = toks.select(
        "doc_id",
        "lang",
        F.size("t").alias("n_words"),
        F.size(F.array_distinct("t")).alias("n_distinct"),
    )
    grams = (
        toks.filter(F.size("t") >= 2)
        .select(
            "doc_id",
            "t",
            F.explode(F.sequence(F.lit(1), F.size("t") - 1)).alias("i"),
        )
        .select(
            "doc_id",
            F.xxhash64(
                F.element_at("t", F.col("i")),
                F.element_at("t", F.col("i") + 1),
            ).alias("g"),
        )
    )
    rep = (
        grams.groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(
            (F.max("c").cast("double") / F.sum("c").cast("double")).alias("frac")
        )
    )
    scored = (
        ws.join(rep, "doc_id", "left")
        .select(
            "lang",
            (F.col("n_distinct").cast("double") / F.col("n_words")).alias("ttr"),
            F.coalesce(F.col("frac"), F.lit(0.0)).alias("frac"),
        )
    )
    suspect = (F.col("frac") > 0.08) | (F.col("ttr") < 0.3)
    n_suspect = F.sum(F.when(suspect, 1).otherwise(0)).cast("bigint")
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        n_suspect.alias("n_suspect"),
        r4(
            n_suspect.cast("double") / F.count(F.lit(1)),
            "suspect_share_r4",
        ),
        r4(
            F.sum(F.col("ttr").cast(DEC)).cast("double") / F.count(F.lit(1)),
            "avg_ttr_r4",
        ),
        r4(
            F.sum(F.col("frac").cast(DEC)).cast("double") / F.count(F.lit(1)),
            "avg_top_bigram_r4",
        ),
    )

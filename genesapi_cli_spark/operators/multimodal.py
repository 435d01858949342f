"""Multimodal-column plumbing (BASELINE.json mandate: image/audio/video as
opaque binary columns with typed metadata).

The pattern at 100 TB: media lives in parquet as ``binary`` payload columns
next to a typed metadata struct (mime, byte length, dims, sample rate…).
Decode / feature-extract / resize / frame-sample run as Arrow-batched
``mapInPandas`` stages: each Python batch sees a bounded slice of rows, the
payload bytes cross Py4J exactly once via Arrow, and everything upstream and
downstream of the UDF stays JVM-side (pruning, partitioning, joins). Real
codec libraries are feature-detected at import (``HAVE_IMAGE_CODEC``): with
PIL installed the decode stage runs the real codec body; in this codec-less
container it falls back to a deterministic byte-level feature with an
IDENTICAL output schema (pytest-pinned, tests/test_multimodal_codec.py).
Either way the Spark-side plumbing (schema, Arrow batch shape, UDF
signature, partition behavior) is real and oracle-checked.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from genesapi_cli_spark.io import (
    CACHE,
    load,
    source_stamps,
)
from genesapi_cli_spark.registry import oracle_dec_avg, register


try:  # feature-detect the real codec once at import; plans never branch on it
    from PIL import Image as _PIL_Image  # type: ignore
except ImportError:  # pragma: no cover - container has no PIL
    _PIL_Image = None

#: True when a real image codec is importable. The mapInPandas stages keep
#: an identical output schema either way, so swapping the codec in changes
#: zero plan shape — only the Python batch body.
HAVE_IMAGE_CODEC = _PIL_Image is not None


def decode_image(payload: bytes) -> "object":
    """Real image decode when PIL is importable; otherwise raises — the
    deterministic byte-level fallback in the batch stages keeps the pipeline
    testable in codec-less containers."""
    if _PIL_Image is None:
        raise NotImplementedError("image codecs not available in this environment")
    import io

    return _PIL_Image.open(io.BytesIO(payload))


def _codec_or_byte_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The decode stage with the REAL-codec branch wired in: when PIL is
    available each payload is decoded and feat = pixel count; otherwise the
    deterministic byte-level fallback below runs. Output schema is identical
    either way (pytest-pinned), so the surrounding plan never changes."""
    for pdf in batches:
        n_bytes = pdf["payload"].map(len).astype("int64")
        if HAVE_IMAGE_CODEC:
            feats = []
            for payload in pdf["payload"]:
                try:
                    img = decode_image(bytes(payload))
                    feats.append(float(img.width * img.height))
                except Exception:  # undecodable payload → byte-level fallback
                    feats.append(float(len(payload) % 97) / 97.0)
            feat = pd.Series(feats, dtype="float64")
        else:
            feat = (n_bytes % 97).astype("float64") / 97.0
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "lang": pdf["lang"],
                "mime": pdf["mime"],
                "n_bytes": n_bytes,
                "feat": feat,
            }
        )


def _decode_features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched 'decode': derives deterministic byte-level features from
    the binary payload (length + a cheap content feature). This is the exact
    batch shape a real decoder uses — bytes in, fixed feature columns out —
    with the codec call replaced by arithmetic on the payload length."""
    for pdf in batches:
        n_bytes = pdf["payload"].map(len).astype("int64")
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"],
                "lang": pdf["lang"],
                "mime": pdf["mime"],
                "n_bytes": n_bytes,
                "feat": (n_bytes % 97).astype("float64") / 97.0,
            }
        )


_DECODE_ORACLE = f"""
WITH assets AS (
  SELECT doc_id, lang, 'text/plain' AS mime,
         octet_length(encode(text)) AS n_bytes,
         CAST(octet_length(encode(text)) % 97 AS DOUBLE) / 97.0 AS feat
  FROM documents
)
SELECT lang, mime,
       COUNT(*) AS n_assets,
       CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
       MIN(n_bytes) AS min_bytes,
       MAX(n_bytes) AS max_bytes,
       {oracle_dec_avg('feat', 'avg_feat')}
FROM assets
GROUP BY lang, mime
"""


@register("q_multimodal_decode", oracle=_DECODE_ORACLE)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-column decode pipeline: build (payload binary, metadata struct)
    assets from documents, run the Arrow-batched decode stage (mapInPandas),
    roll features up per (lang, mime).

    Plan shape: projection → mapInPandas (one Arrow exchange) → small
    groupBy. At 100 TB the payload column is pruned everywhere except the
    decode stage input, and partition count bounds decoder memory: each batch
    holds spark.sql.execution.arrow.maxRecordsPerBatch payloads.
    """
    docs = load(spark, sf_dir, "documents")
    assets = docs.select(
        "doc_id",
        "lang",
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("text/plain").alias("mime"),
        # typed metadata struct rides NEXT TO the payload — queries that only
        # need metadata never touch the bytes (column pruning does the rest)
        F.struct(
            F.lit("text/plain").alias("mime"),
            F.octet_length(F.encode(F.col("text"), "UTF-8")).alias("n_bytes"),
        ).alias("meta"),
    )
    decoded = assets.select("doc_id", "lang", "mime", "payload").mapInPandas(
        _decode_features,
        schema="doc_id long, lang string, mime string, n_bytes long, feat double",
    )
    return decoded.groupBy("lang", "mime").agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("n_bytes").alias("min_bytes"),
        F.max("n_bytes").alias("max_bytes"),
        (F.sum(F.col("feat").cast("decimal(18,7)")).cast("double") / F.count(F.lit(1))).alias(
            "avg_feat"
        ),
    )


# --- q_multimodal_framesample -----------------------------------------------

FRAME_BYTES = 32
FRAME_STRIDE = 4  # sample every 4th frame


def sample_video_frames(payload: bytes) -> "object":
    """STUB — real frame extraction (ffmpeg/pyav) is unavailable in this
    environment. The mapInPandas plumbing around it is real; swap this body
    for an av.open(...) keyframe iterator where codecs exist."""
    raise NotImplementedError("video codecs not available in this environment")


def _frame_sample(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    """Row-EXPLODING Arrow stage: one input row (payload) → many output rows
    (sampled frames). This is the defining batch shape of frame sampling —
    output cardinality is data-dependent, so it must be mapInPandas (UDTF-
    like), not a scalar pandas_udf. The 'frame' is a fixed-width byte slice;
    features are slice length + first-byte code (pure byte arithmetic
    standing in for the codec call, oracle-checkable)."""
    for pdf in batches:
        out_doc, out_lang, out_idx, out_len, out_code = [], [], [], [], []
        for doc_id, lang, payload in zip(pdf["doc_id"], pdf["lang"], pdf["payload"]):
            n_frames = (len(payload) + FRAME_BYTES - 1) // FRAME_BYTES
            for i in range(0, n_frames, FRAME_STRIDE):
                chunk = payload[i * FRAME_BYTES : (i + 1) * FRAME_BYTES]
                out_doc.append(doc_id)
                out_lang.append(lang)
                out_idx.append(i)
                out_len.append(len(chunk))
                out_code.append(chunk[0])
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out_doc, dtype="int64"),
                "lang": pd.Series(out_lang, dtype="object"),
                "frame_idx": pd.Series(out_idx, dtype="int64"),
                "frame_len": pd.Series(out_len, dtype="int64"),
                "first_code": pd.Series(out_code, dtype="int64"),
            }
        )


_FRAMESAMPLE_ORACLE = f"""
WITH base AS (
  SELECT doc_id, lang, text,
         CAST(ceil(octet_length(encode(text)) / {FRAME_BYTES}.0) AS INT) AS nf
  FROM documents
), frames AS (
  SELECT doc_id, lang, i AS frame_idx,
         octet_length(encode(substr(text, i * {FRAME_BYTES} + 1, {FRAME_BYTES})))
           AS frame_len,
         ascii(substr(text, i * {FRAME_BYTES} + 1, 1)) AS first_code
  FROM base, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS i) _
  WHERE i % {FRAME_STRIDE} = 0
)
SELECT lang,
       COUNT(*) AS n_frames,
       COUNT(DISTINCT doc_id) AS n_docs,
       CAST(SUM(frame_len) AS BIGINT) AS sum_frame_bytes,
       CAST(SUM(first_code) AS BIGINT) AS sum_first_codes
FROM frames
GROUP BY lang
"""


@register("q_multimodal_framesample", oracle=_FRAMESAMPLE_ORACLE)
def q_multimodal_framesample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-frame sampling plumbing: binary payloads chunk into fixed-width
    'frames'; every FRAME_STRIDE-th frame is extracted with byte-level
    features, then rolled up per language. Complements q_multimodal_decode
    (1 row in → 1 row out) with the OTHER multimodal batch shape: 1 row in →
    N rows out, where N is data-dependent.

    The oracle reproduces the byte arithmetic with substr/ascii on the same
    (all-ASCII) text, so even the stubbed codec path is value-checked, not
    just row-counted. At 100 TB: payload column pruned except at this stage;
    Arrow batch size bounds peak frame memory; downstream rollup is a
    map-side-combined hash agg on the exploded (small) feature rows.
    """
    docs = load(spark, sf_dir, "documents")
    assets = docs.select(
        "doc_id", "lang", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    frames = assets.mapInPandas(
        _frame_sample,
        schema="doc_id long, lang string, frame_idx long, frame_len long, first_code long",
    )
    return frames.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.countDistinct("doc_id").alias("n_docs"),
        F.sum("frame_len").cast("long").alias("sum_frame_bytes"),
        F.sum("first_code").cast("long").alias("sum_first_codes"),
    )


# --- q_multimodal_chunks ----------------------------------------------------

_CHUNK_BYTES = 256

_CHUNK_ORACLE = f"""
WITH n AS (
  SELECT doc_id, text, octet_length(encode(text)) AS nb
  FROM documents
), idx AS (
  SELECT doc_id, text, nb,
         unnest(generate_series(0, CAST(CEIL(nb / {_CHUNK_BYTES}.0) AS BIGINT) - 1))
           AS chunk_idx
  FROM n
)
SELECT doc_id,
       chunk_idx,
       octet_length(encode(substring(text, CAST(chunk_idx * {_CHUNK_BYTES} + 1 AS BIGINT),
                                     {_CHUNK_BYTES}))) AS n_bytes,
       md5(substring(text, CAST(chunk_idx * {_CHUNK_BYTES} + 1 AS BIGINT),
                     {_CHUNK_BYTES})) AS chunk_md5
FROM idx
"""


@register("q_multimodal_chunks", oracle=_CHUNK_ORACLE)
def q_multimodal_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size binary chunking (256-byte windows, the audio/PCM framing
    primitive): one payload row explodes into N chunk rows, each carrying a
    content checksum — the byte-exact shape every downstream feature
    extractor (spectrogram, codec probe, CDC chunk store) consumes.

    The chunker is a row-exploding ``mapInPandas`` stage operating on raw
    bytes (the real multimodal plumbing; a codec would slot in per chunk) —
    Arrow-batched, payload column pruned everywhere else. The DuckDB oracle
    mirrors it with string substring + md5, valid because the synthetic
    corpus is pure ASCII (1 byte/char); the Spark path slices true UTF-8
    bytes and would be unchanged for arbitrary binary. Chunk md5s make the
    comparison content-exact, not just count-exact.
    """
    docs = load(spark, sf_dir, "documents")
    assets = docs.select("doc_id", F.encode(F.col("text"), "UTF-8").alias("payload"))

    def chunker(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in batches:
            out = {"doc_id": [], "chunk_idx": [], "n_bytes": [], "chunk_md5": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = bytes(payload)
                for i in range(0, max(len(data), 1), _CHUNK_BYTES):
                    chunk = data[i : i + _CHUNK_BYTES]
                    if not chunk:
                        continue
                    out["doc_id"].append(doc_id)
                    out["chunk_idx"].append(i // _CHUNK_BYTES)
                    out["n_bytes"].append(len(chunk))
                    out["chunk_md5"].append(hashlib.md5(chunk).hexdigest())
            yield pd.DataFrame(out)

    return assets.mapInPandas(
        chunker, "doc_id long, chunk_idx long, n_bytes int, chunk_md5 string"
    )


# --- q_multimodal_resize ----------------------------------------------------

_IMG_W, _IMG_H = 16, 8  # fake 16×8 single-channel "image" from doc bytes

_RESIZE_ORACLE = f"""
WITH img AS (
  SELECT doc_id, rpad(substring(text, 1, {_IMG_W * _IMG_H}), {_IMG_W * _IMG_H}, ' ') AS px
  FROM documents
)
SELECT doc_id,
       string_agg(substring(px, (2*r)*{_IMG_W} + 2*c + 1, 1), '' ORDER BY r, c)
         AS resized,
       CAST({_IMG_W // 2} AS INT) AS out_w,
       CAST({_IMG_H // 2} AS INT) AS out_h
FROM img,
     LATERAL (SELECT unnest(generate_series(0, {_IMG_H // 2 - 1})) AS r),
     LATERAL (SELECT unnest(generate_series(0, {_IMG_W // 2 - 1})) AS c)
GROUP BY doc_id
"""


@register("q_multimodal_resize", oracle=_RESIZE_ORACLE)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image resize stage (2× stride downsample) over binary payloads: the
    missing rung between decode (q_multimodal_decode) and feature rollup —
    1 image row in, 1 smaller image row out, byte-exact.

    The container has no image codecs, so the "image" is a deterministic
    16×8 byte plane cut from the document (STUB — a real pipeline swaps the
    body of ``resize`` for PIL/cv2; the Spark-side plumbing is the real
    thing: Arrow-batched ``mapInPandas`` over a binary column with a typed
    (payload, w, h) contract, payload pruned outside the stage). Nearest-
    neighbor stride sampling keeps the oracle exact: DuckDB mirrors the
    same index arithmetic with string ops (valid: ASCII corpus, 1 byte/px).
    """
    docs = load(spark, sf_dir, "documents")
    n = _IMG_W * _IMG_H
    assets = docs.select(
        "doc_id",
        F.encode(F.rpad(F.substring("text", 1, n), n, " "), "UTF-8").alias("payload"),
    )

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "resized": [], "out_w": [], "out_h": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                px = bytes(payload)
                small = bytes(
                    px[(2 * r) * _IMG_W + 2 * c]
                    for r in range(_IMG_H // 2)
                    for c in range(_IMG_W // 2)
                )
                out["doc_id"].append(doc_id)
                out["resized"].append(small.decode("ascii"))
                out["out_w"].append(_IMG_W // 2)
                out["out_h"].append(_IMG_H // 2)
            yield pd.DataFrame(out)

    return assets.mapInPandas(
        resize, "doc_id long, resized string, out_w int, out_h int"
    )


# --- q_multimodal_dedup -----------------------------------------------------

_MM_DEDUP_ORACLE = """
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
       CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dup
FROM documents
GROUP BY source
"""


@register("q_multimodal_dedup", oracle=_MM_DEDUP_ORACLE)
def q_multimodal_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressed BINARY asset dedup: md5 over the raw payload bytes,
    duplicate accounting per source — the blob-store dedup step of a
    multimodal ingest (identical images/audio uploaded twice collapse to one
    stored object; the text twin is q_dedup_exact).

    The digest is computed JVM-side on the binary column (no Python, no
    decode); the aggregate is a two-phase distinct count keyed by a
    uniformly distributed 128-bit digest — no skew by construction. At
    100 TB this is the dedup key you'd persist next to the payload at
    ingest so re-uploads short-circuit before ever writing bytes.
    """
    docs = load(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    digest = F.md5(payload)
    return (
        docs.select("source", digest.alias("d"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_assets"),
            F.countDistinct("d").cast("bigint").alias("n_unique"),
            (F.count(F.lit(1)) - F.countDistinct("d")).cast("bigint").alias("n_dup"),
        )
    )


# --- q_multimodal_audio_energy -----------------------------------------------

AUDIO_FRAME = 64  # samples (bytes) per analysis frame
AUDIO_BIAS = 100  # center the unsigned byte samples near zero


SUBFRAME = 16  # shared framing granularity: gcd of every consumer's frame size


def _subframe_stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Shared framing stage: interpret the binary payload as unsigned 8-bit
    PCM, window into fixed {SUBFRAME}-byte subframes, and emit per-subframe
    integer byte-sum (shot-detect's 'luma energy') AND Σ(sample−bias)²
    (audio energy) in one numpy pass — the exact batch shape a real feature
    extractor uses, with the DSP call replaced by arithmetic the DuckDB
    oracles reproduce from character codes. Consumers re-aggregate subframes
    to their own frame sizes (audio/vad: 4 subframes = one 64-byte frame),
    so one Arrow pass over the payload bytes feeds the whole family.
    Vectorized via np.add.reduceat — no per-sample Python loop."""
    import numpy as np

    for pdf in batches:
        out_doc, out_lang, out_sub, out_n, out_bsum, out_sqsum = [], [], [], [], [], []
        for doc_id, lang, payload in zip(pdf["doc_id"], pdf["lang"], pdf["payload"]):
            a = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
            if a.size == 0:
                continue
            sq = (a - AUDIO_BIAS) ** 2
            starts = np.arange(0, a.size, SUBFRAME)
            bsums = np.add.reduceat(a, starts)
            sqsums = np.add.reduceat(sq, starts)
            sizes = np.diff(np.append(starts, a.size))
            out_doc.extend([doc_id] * len(starts))
            out_lang.extend([lang] * len(starts))
            out_sub.extend(range(len(starts)))
            out_n.extend(sizes.tolist())
            out_bsum.extend(bsums.tolist())
            out_sqsum.extend(sqsums.tolist())
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out_doc, dtype="int64"),
                "lang": pd.Series(out_lang, dtype="object"),
                "sub_idx": pd.Series(out_sub, dtype="int64"),
                "n_samples": pd.Series(out_n, dtype="int64"),
                "bsum": pd.Series(out_bsum, dtype="int64"),
                "sqsum": pd.Series(out_sqsum, dtype="int64"),
            }
        )


# Session memo of the framed-payload relation (doc_id, lang, sub_idx,
# n_samples, bsum, sqsum), keyed by (application, sf_dir) — the multimodal
# family's common Arrow prefix (audio_energy, vad, shot_detect), the
# shared_normed_embeddings/shared_copurchase_edges pattern. At 100 TB this relation is precisely the
# persisted "frame features" table a media pipeline materializes once after
# decode; results are identical with or without the memo.
def build_payload_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UN-checkpointed framing plan — separate from the memoizing
    wrapper so the plan-snapshot gate fingerprints the shared subtree."""
    docs = load(spark, sf_dir, "documents")
    assets = docs.filter(F.length("text") > 0).select(
        "doc_id", "lang", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return assets.mapInPandas(
        _subframe_stats,
        schema="doc_id long, lang string, sub_idx long, n_samples long,"
        " bsum long, sqsum long",
    )


def shared_payload_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    return CACHE.get_or_build(
        spark, "payload_frames", lambda: build_payload_frames(spark, sf_dir), sf_dir,
        source_stamps(sf_dir, "documents"), checkpoint=True,
    )


def _audio_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-byte audio frames rebuilt EXACTLY from the shared subframe relation:
    frame_idx = sub_idx // 4 (16 | 64, so subframe boundaries align), and the
    frame's n_samples / Σ(sample−bias)² are plain sums of its subframes —
    a map-side-combinable hash agg over the memoized Arrow output."""
    sub = shared_payload_frames(spark, sf_dir)
    return (
        sub.groupBy(
            "doc_id",
            (F.col("sub_idx") / (AUDIO_FRAME // SUBFRAME))
            .cast("long")
            .alias("frame_idx"),
        )
        .agg(
            F.sum("n_samples").cast("bigint").alias("n_samples"),
            F.sum("sqsum").cast("bigint").alias("energy_q"),
        )
    )


_AUDIO_ORACLE = f"""
WITH d AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
), f AS (
  SELECT doc_id, text, n,
         unnest(range(0, (n + {AUDIO_FRAME - 1}) // {AUDIO_FRAME})) AS frame_idx
  FROM d WHERE n > 0
)
SELECT doc_id, frame_idx,
       CAST(LEAST((frame_idx + 1) * {AUDIO_FRAME}, n)
            - frame_idx * {AUDIO_FRAME} AS BIGINT) AS n_samples,
       CAST(list_sum(list_transform(
           range(frame_idx * {AUDIO_FRAME} + 1,
                 LEAST((frame_idx + 1) * {AUDIO_FRAME}, n) + 1),
           i -> (unicode(substr(text, CAST(i AS INT), 1)) - {AUDIO_BIAS})
              * (unicode(substr(text, CAST(i AS INT), 1)) - {AUDIO_BIAS})
       )) AS BIGINT) AS energy_q
FROM f
"""


@register("q_multimodal_audio_energy", oracle=_AUDIO_ORACLE)
def q_multimodal_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Framewise energy over binary 'audio' payloads — the third modality's
    plumbing next to image decode and video frame-sampling: payload bytes →
    numpy int64 samples → fixed 64-sample frames → per-frame integer energy,
    all inside ONE Arrow-batched mapInPandas with a data-dependent output
    cardinality (frames per asset), vectorized with np.add.reduceat.

    Parity: the corpus is ASCII, so byte values equal character codes and
    the oracle recomputes every frame energy from substr/unicode — integer
    arithmetic end to end, no float tolerance. At 100 TB the stage
    parallelizes per input split; Arrow batch size bounds resident payload
    bytes, and downstream consumers see a narrow (doc, frame, energy) table
    that never carries the payload column past the UDF.

    The framing itself comes from the family-shared subframe relation
    (shared_payload_frames — ONE Arrow pass per session/sf_dir feeds
    audio_energy, vad, and shot_detect); 64-byte frames are exact sums of
    four aligned 16-byte subframes.
    """
    return _audio_frames(spark, sf_dir).select(
        "doc_id", "frame_idx", "n_samples", "energy_q"
    )


# --- q_multimodal_ahash ------------------------------------------------------

_AHASH_BYTES = 240  # 60 blocks × 4 bytes/block → a 60-bit hash (63-bit safe)
_AHASH_MAXDIST = 6  # report pairs within this hamming distance
_AHASH_TOPK = 3     # nearest neighbors reported per asset (bounds the output)
_AHASH_MAX_BUCKET = 1024  # hot-bucket cap: drop degenerate band buckets

#: The shared aHash CTE chain (payload → 60-bit hash → capped band buckets
#: → verified near-dup pairs), reused by the top-k oracle and the
#: cluster-rollup oracle.
_AHASH_CTES = f"""padded AS (
  SELECT doc_id, rpad(substring(text, 1, {_AHASH_BYTES}), {_AHASH_BYTES}, ' ') AS p
  FROM documents
), sig AS (
  SELECT doc_id,
         list_transform(range(0,60), b -> list_sum(list_transform(range(1,5),
            i -> ascii(substring(p, b*4+i, 1))))) AS blocks
  FROM padded
), tot AS (
  SELECT doc_id, blocks, list_sum(blocks) AS total FROM sig
), h AS (
  SELECT doc_id,
         CAST(list_sum(list_transform(range(0,60),
            j -> CASE WHEN blocks[j+1]*60 > total
                      THEN (CAST(1 AS BIGINT)<<j) ELSE 0 END)) AS BIGINT) AS h60
  FROM tot
), bands AS (
  SELECT doc_id, h60, b AS band_idx, (h60 >> (15*b)) & 32767 AS band_val
  FROM h, UNNEST(range(0,4)) AS t(b)
), bsz AS (
  SELECT band_idx, band_val, COUNT(*) AS bn
  FROM bands GROUP BY band_idx, band_val
), kept AS (
  SELECT b.doc_id, b.h60, b.band_idx, b.band_val
  FROM bands b JOIN bsz USING (band_idx, band_val)
  WHERE bsz.bn <= {_AHASH_MAX_BUCKET}
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.h60 AS ha, b.h60 AS hb
  FROM kept a JOIN kept b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
                          AND a.doc_id < b.doc_id
), pairs AS (
  SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
  FROM cand
  WHERE bit_count(xor(ha, hb)) <= {_AHASH_MAXDIST}
)"""

_AHASH_ORACLE = f"""
WITH {_AHASH_CTES}, sym AS (
  SELECT doc_a AS doc_id, doc_b AS nbr_id, hamming FROM pairs
  UNION ALL
  SELECT doc_b AS doc_id, doc_a AS nbr_id, hamming FROM pairs
), ranked AS (
  SELECT doc_id, nbr_id, hamming,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY hamming, nbr_id) AS rn
  FROM sym
)
SELECT doc_id, rn, nbr_id, hamming FROM ranked WHERE rn <= {_AHASH_TOPK}
"""


def ahash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERNAL stage: the (doc_a, doc_b, hamming) near-dup pair relation
    behind q_multimodal_ahash. Kept as a helper — not a registered result
    — because on low-entropy corpora even the hot-bucket-capped pair
    relation can outgrow bounded consumers; only per-asset top-k, cluster
    rollups, or aggregate certificates should materialize downstream.
    Candidate generation is a band equi-join over buckets capped at
    ``_AHASH_MAX_BUCKET`` assets (whale band values are degenerate
    boilerplate; uncapped, ONE bucket held ~0.9M pairs at sf0.1 and the
    corpus-wide pair count hit 319M at sf3 — SCALE.md §6i.3)."""
    docs = load(spark, sf_dir, "documents")
    # Hash construction follows the repo's explode-positions-first rule
    # (SCALE.md §4b): per-(doc, block) rows with a FLAT 4-term ascii sum
    # (whole-stage codegen — the HOF-lambda form was measured interpreted
    # AND CollapseProject-inlined into a ~15k-node tree, ~100× slower),
    # one doc-keyed window for the global mean, and one hash aggregate
    # folding the 60 bit decisions into the 60-bit signature. The padded
    # payload column dies inside the stage — only (doc_id, b, bsum) ever
    # reaches the Exchange.
    ex = docs.select(
        "doc_id",
        F.rpad(F.substring("text", 1, _AHASH_BYTES), _AHASH_BYTES, " ").alias("p"),
    ).select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(59))).alias("b"),
        F.col("p"),
    ).select(
        "doc_id",
        "b",
        F.expr(
            "ascii(substring(p, b*4+1, 1)) + ascii(substring(p, b*4+2, 1)) "
            "+ ascii(substring(p, b*4+3, 1)) + ascii(substring(p, b*4+4, 1))"
        ).alias("bsum"),
    )
    w_doc = Window.partitionBy("doc_id")
    h = (
        ex.withColumn("total", F.sum("bsum").over(w_doc))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.expr(
                    "IF(bsum*60 > total, shiftleft(CAST(1 AS BIGINT), b), "
                    "CAST(0 AS BIGINT))"
                )
            )
            .cast("bigint")
            .alias("h60")
        )
    )
    # Candidate generation stays a band-keyed EQUI-self-join — measured
    # here, text prefixes are low-entropy so band buckets have whales
    # (1,338 docs share band 0's all-ones value at sf0.1 → ~0.9M pairs in
    # one bucket); the q_dedup_near_minhash collect-the-bucket form would
    # put that whole fan-out in ONE task's array (and OOM it at scale),
    # while the hash join spreads whale fan-out across tasks. Two plan
    # fixes instead: (1) the per-doc signature relation is materialized
    # (localCheckpoint — 2 ints/doc, the persisted-signature-table analog),
    # so the join's two sides read cached blocks rather than recomputing
    # the whole hash pipeline twice; (2) the cheap bit_count verification
    # runs BEFORE the pair distinct, so the distinct shuffles only pairs
    # that already pass the hamming budget (~10³) instead of every
    # band-collision candidate (~2.3M at sf0.1).
    sig = h.localCheckpoint(eager=False)
    bands = sig.select(
        "doc_id",
        "h60",
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("band_idx"),
    ).select(
        "doc_id",
        "h60",
        "band_idx",
        F.expr("shiftright(h60, 15*band_idx) & 32767").alias("band_val"),
    )
    # Hot-bucket cap (the q_dedup_stop_shingles guard, pHash edition): a
    # band value shared by >K assets is degenerate low-entropy boilerplate
    # (1,338 docs share band 0's all-ones value at sf0.1 → ~0.9M pairs in
    # ONE bucket; 319M pairs corpus-wide at sf3), and candidate volume
    # through such buckets grows quadratically with corpus size. Dropping
    # whale BUCKETS (not assets — a true near-dup pair inside one usually
    # still collides in a surviving band) bounds per-bucket pair fan-out
    # at K²/2 by construction. The bucket-size relation is ≤ 4·2^15 rows —
    # broadcast, zero extra shuffle of the band relation.
    bsz = bands.groupBy("band_idx", "band_val").agg(
        F.count(F.lit(1)).alias("bn")
    )
    kept = bands.join(
        F.broadcast(bsz.filter(F.col("bn") <= _AHASH_MAX_BUCKET)),
        ["band_idx", "band_val"],
    )
    a = kept.select(
        F.col("doc_id").alias("doc_a"),
        F.col("h60").alias("ha"),
        "band_idx",
        "band_val",
    )
    b = kept.select(
        F.col("doc_id").alias("doc_b"),
        F.col("h60").alias("hb"),
        "band_idx",
        "band_val",
    )
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.expr("CAST(bit_count(ha ^ hb) AS INT)").alias("hamming"),
        )
        .filter(F.col("hamming") <= _AHASH_MAXDIST)
        .distinct()
    )


@register("q_multimodal_ahash", oracle=_AHASH_ORACLE)
def q_multimodal_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate detection for binary assets via a 60-bit
    average-hash (aHash): the payload's leading 240 bytes split into 60
    blocks, bit_j = (block_j mean > global mean), then banded LSH over four
    15-bit bands so candidate generation is an EQUI-join on band values —
    never an all-pairs hamming scan — and only candidates sharing a band
    pay the bit_count(xor) verification. The pigeonhole bound makes recall
    exact for hamming ≤ 3 (a pair within 3 bit flips MUST agree on one of
    4 bands) EXCEPT pairs whose every agreeing band is a whale bucket
    (> 1024 assets — dropped by the hot-bucket cap in ahash_pairs, the
    standard production guard against degenerate boilerplate signatures);
    pairs in (3, 6] are best-effort, the standard pHash-pipeline trade
    (tighten by adding bands at write time, not by widening scans).

    The REGISTERED result is the per-asset top-k nearest table
    (doc_id, rn, nbr_id, hamming; k = 3, ties broken by neighbor id) — a
    bounded O(assets·k) relation — NOT the raw pair list: on low-entropy
    corpora the pair relation itself grows ~quadratically (349k pairs at
    sf0.1 → 319M at sf3, SCALE.md §6i.3), so emitting it as the result
    relation was the measured scale-killer even with perfect candidate
    generation. Pair→top-k is one symmetrize (each undirected pair feeds
    both endpoints' lists) + one row_number window partitioned by doc_id —
    the window shuffles only (doc, nbr, hamming) triples, and AQE's skew
    split handles hub assets. Consumers that need the raw pairs
    (cluster rollups, certificates) compose ``ahash_pairs`` internally.

    The "image" is the documents payload byte-viewed (same ASCII-grid
    convention as q_multimodal_resize — 1 byte/px, codec-less container);
    with a real codec the hash would be computed over decoded 8×8
    downsampled luma in the same mapInPandas slot, leaving this ENTIRE
    candidate/verify/rank plan unchanged.

    Scale shape: hash construction is one in-row projection; the LSH join
    shuffles (band_idx, band_val) keys only — payloads never move;
    verification touches two 8-byte ints per candidate; the output is
    asset-bounded regardless of corpus entropy."""
    pairs = ahash_pairs(spark, sf_dir)
    # Symmetrize in ONE pass (explode of a 2-struct array), not a UNION of
    # two selects — a union would splice the whole candidate-join lineage
    # into the plan twice and re-run it per branch.
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("doc_id"),
                    F.col("doc_b").alias("nbr_id"),
                    F.col("hamming"),
                ),
                F.struct(
                    F.col("doc_b").alias("doc_id"),
                    F.col("doc_a").alias("nbr_id"),
                    F.col("hamming"),
                ),
            )
        ).alias("e")
    ).select("e.doc_id", "e.nbr_id", "e.hamming")
    w = Window.partitionBy("doc_id").orderBy("hamming", "nbr_id")
    return (
        sym.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _AHASH_TOPK)
        .select("doc_id", "rn", "nbr_id", "hamming")
    )


# --- q_multimodal_dedup_clusters ----------------------------------------------

_AHASH_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_AHASH_CTES},
nodes AS (
  SELECT doc_a AS node FROM pairs UNION SELECT doc_b FROM pairs
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach AS (
  -- r < e.src prunes non-minimal label candidates early without losing the
  -- component minimum m: m < every other member, so m survives every hop.
  -- Near-dup clusters here are large cliques (low-entropy payload prefixes),
  -- and the unpruned reachability set is sum(|component|^2) rows.
  SELECT node, node AS r FROM nodes
  UNION
  SELECT e.src AS node, reach.r FROM reach JOIN edges e ON reach.node = e.dst
  WHERE reach.r < e.src
),
labels AS (
  SELECT node, MIN(r) AS label FROM reach GROUP BY node
)
SELECT label AS keeper_doc,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       MAX(node) AS max_doc,
       CAST(COUNT(*) - 1 AS BIGINT) AS n_dropped,
       CAST(0 AS BIGINT) AS n_unconverged
FROM labels GROUP BY label
"""


@register("q_multimodal_dedup_clusters", oracle=_AHASH_CLUSTERS_ORACLE)
def q_multimodal_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate CLUSTERS for binary assets: connected
    components over the aHash pair graph (ahash_pairs — banded LSH,
    hot-bucket-capped, hamming ≤ 6), one row per cluster with its canonical
    keeper (min doc_id) and size — the bounded keep/drop consumer that
    turns pairwise perceptual similarity into an actual asset-dedup
    decision, exactly as q_dedup_clusters does for text MinHash pairs
    (A~B, B~C must drop TWO assets, which pairwise consumers over-count).
    Together with the per-asset top-k this is why the raw pair relation
    never needs to be a registered result: every production consumer is
    cluster- or asset-bounded.

    Same machinery end-to-end: pointer-doubling min-label propagation with
    auto-deepening (connected_components_auto, dedup.py), the declarative
    n_unconverged certificate on every row (the oracle's recursive CTE is
    exact, so its certificate is identically 0 — an under-converged
    schedule fails the value hash loudly), and a DuckDB recursive-CTE
    reachability oracle over the SAME capped pair CTEs as the top-k
    oracle, proving bands → cap → verify → cluster across paradigms.

    Scale shape: near-dup clusters are clique-ish (diameter 2-3; LSH links
    most member pairs directly), so the unrolled O(log diameter) schedule
    converges at its starting depth; each round shuffles (node, label)
    pairs only. Output is cluster-bounded."""
    from genesapi_cli_spark.operators.dedup import connected_components_auto

    pairs = ahash_pairs(spark, sf_dir)
    cc = connected_components_auto(pairs)
    conv = cc.agg(
        F.coalesce(F.sum((F.col("label") != F.col("prev")).cast("int")), F.lit(0))
        .cast("bigint")
        .alias("n_unconverged")
    )
    return (
        cc.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_assets"),
            F.max("node").alias("max_doc"),
        )
        .select(
            F.col("label").alias("keeper_doc"),
            "n_assets",
            "max_doc",
            (F.col("n_assets") - 1).cast("bigint").alias("n_dropped"),
        )
        .crossJoin(F.broadcast(conv))
    )


# --- q_multimodal_align ------------------------------------------------------

_VID_STRIDE_US = 40_000   # 25 fps video frames
_AUD_STRIDE_US = 23_200   # ~43 fps audio frames (1024 samples @ 44.1 kHz)

_ALIGN_ORACLE = f"""
WITH assets AS (
  SELECT doc_id, lang,
         GREATEST(n_chars // 32, 1) AS n_v,
         GREATEST(n_chars // 16, 1) AS n_a
  FROM documents
), video AS (
  SELECT doc_id, lang, v * {_VID_STRIDE_US} AS tv
  FROM assets, UNNEST(range(0, n_v)) AS t(v)
), audio AS (
  SELECT doc_id, a * {_AUD_STRIDE_US} AS ta
  FROM assets, UNNEST(range(0, n_a)) AS t(a)
), nearest AS (
  SELECT v.doc_id, v.lang, v.tv,
         MIN(ABS(v.tv - a.ta)) AS offset_us
  FROM video v JOIN audio a ON a.doc_id = v.doc_id
  GROUP BY v.doc_id, v.lang, v.tv
)
SELECT lang,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_video_frames,
       CAST(SUM(offset_us) AS BIGINT) AS sum_offset_us,
       CAST(MAX(offset_us) AS BIGINT) AS max_offset_us
FROM nearest
GROUP BY lang
ORDER BY lang
"""


@register("q_multimodal_align", oracle=_ALIGN_ORACLE)
def q_multimodal_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio/video frame alignment: every video frame (25 fps) finds its
    nearest audio frame (1024-sample hops at 44.1 kHz) within the same
    asset, and the per-language rollup reports total/max alignment offset
    — the A/V sync audit a multimodal ingest runs before clipping training
    segments, because the two streams tick at incommensurate rates and
    drift accumulates. Frame counts derive from the payload length (same
    codec-less convention as the other multimodal stages; a real demuxer
    would emit true timestamps into the SAME relation).

    Plan: the nearest-neighbor is the UNION + one-ordered-window as-of
    idiom (q_join_asof_nearest) — audio and video frames interleave in one
    per-doc time sort, each video row reads the last audio time behind it
    and the first ahead, min of the two gaps. The oracle keeps the honest
    quadratic per-doc argmin join. Integer µs end to end.

    At 100 TB: one window partitioned by asset, frames never leave their
    doc partition — no cross-asset shuffle at all; the quadratic oracle
    arm is test-only."""
    docs = load(spark, sf_dir, "documents")
    assets = docs.select(
        "doc_id",
        "lang",
        F.greatest(F.expr("n_chars div 32"), F.lit(1)).alias("n_v"),
        F.greatest(F.expr("n_chars div 16"), F.lit(1)).alias("n_a"),
    )
    video = assets.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(0), F.col("n_v") - 1)).alias("v"),
    ).select(
        "doc_id",
        "lang",
        (F.col("v") * _VID_STRIDE_US).alias("t"),
        F.lit(0).alias("is_audio"),
    )
    audio = assets.select(
        "doc_id",
        "lang",
        F.explode(F.sequence(F.lit(0), F.col("n_a") - 1)).alias("a"),
    ).select(
        "doc_id",
        "lang",
        (F.col("a") * _AUD_STRIDE_US).alias("t"),
        F.lit(1).alias("is_audio"),
    )
    merged = video.unionByName(audio)
    # audio rows sort before video at equal timestamps so a coincident
    # frame yields offset 0 through the "previous audio" arm.
    order = Window.partitionBy("doc_id").orderBy("t", F.desc("is_audio"))
    w_prev = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_next = order.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    at = F.when(F.col("is_audio") == 1, F.col("t"))
    scored = merged.select(
        "doc_id",
        "lang",
        "t",
        "is_audio",
        F.last(at, ignorenulls=True).over(w_prev).alias("prev_a"),
        F.first(at, ignorenulls=True).over(w_next).alias("next_a"),
    )
    nearest = scored.filter(F.col("is_audio") == 0).select(
        "doc_id",
        "lang",
        F.least(
            F.coalesce(F.col("t") - F.col("prev_a"), F.lit(2**62)),
            F.coalesce(F.col("next_a") - F.col("t"), F.lit(2**62)),
        ).alias("offset_us"),
    )
    return (
        nearest.groupBy("lang")
        .agg(
            F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
            F.count(F.lit(1)).cast("bigint").alias("n_video_frames"),
            F.sum("offset_us").cast("bigint").alias("sum_offset_us"),
            F.max("offset_us").cast("bigint").alias("max_offset_us"),
        )
        .orderBy("lang")
    )


# --- q_multimodal_shards -----------------------------------------------------

_SHARD_BYTES = 20_000  # per-shard payload budget

_SHARDS_ORACLE = f"""
WITH assets AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS bytes FROM documents
), cum AS (
  SELECT doc_id, bytes,
         CAST(SUM(bytes) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
              AS BIGINT) AS cum_bytes
  FROM assets
), sharded AS (
  SELECT doc_id, bytes, (cum_bytes - 1) // {_SHARD_BYTES} AS shard_id
  FROM cum
)
SELECT CAST(shard_id AS BIGINT) AS shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_assets,
       CAST(SUM(bytes) AS BIGINT) AS shard_bytes,
       CAST(MIN(doc_id) AS BIGINT) AS first_doc,
       CAST(MAX(doc_id) AS BIGINT) AS last_doc
FROM sharded
GROUP BY shard_id
ORDER BY shard_id
"""


@register("q_multimodal_shards", oracle=_SHARDS_ORACLE)
def q_multimodal_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest for binary assets: documents pack into
    byte-budget shards (~20 KB here; ~1 GB webdataset tars in production)
    in deterministic doc_id order via ONE running-sum window — shard_id =
    ⌈cumulative_bytes / budget⌉, the contiguous-fill packing every
    tar/tfrecord writer uses (q_pack_sequences is the token twin; this is
    the byte/asset twin). The manifest row per shard (count, bytes, id
    range) is what the training dataloader actually consumes.

    Parity engineering: integer bytes, integer running sum, integer
    floor-division — zero floats.

    Scale shape — two-level block-offset composition, NO fact-level global
    window (the q_feature_lift tie-block machinery with doc_id div 2¹⁶ as
    the block key, monotone in doc_id so block order = doc order): the
    per-block byte totals collapse 65536× to a tiny relation, ONE
    unpartitioned cumulative window over THAT yields each block's byte
    offset, and the per-row running sum is a window PARTITIONED BY block —
    fully parallel; cum_bytes = block_offset + intra-block running sum,
    bit-identical to the single global sort. The join-back on blk reuses
    the window's hash partitioning. The payload column itself never moves:
    only (doc_id, bytes) enters the window."""
    docs = load(spark, sf_dir, "documents")
    assets = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("bytes"),
        F.expr("doc_id div 65536").alias("blk"),
    )
    bsum = assets.groupBy("blk").agg(F.sum("bytes").cast("bigint").alias("bb"))
    w_off = Window.orderBy("blk").rowsBetween(Window.unboundedPreceding, -1)
    offs = bsum.select(
        "blk", F.coalesce(F.sum("bb").over(w_off), F.lit(0)).alias("boff")
    )
    sharded = assets.join(offs, "blk").select(
        "doc_id",
        "bytes",
        F.expr(
            f"(boff + SUM(bytes) OVER (PARTITION BY blk ORDER BY doc_id"
            f" ROWS UNBOUNDED PRECEDING) - 1) div {_SHARD_BYTES}"
        ).alias("shard_id"),
    )
    return (
        sharded.groupBy("shard_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_assets"),
            F.sum("bytes").cast("bigint").alias("shard_bytes"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.max("doc_id").cast("bigint").alias("last_doc"),
        )
        .select(
            F.col("shard_id").cast("bigint").alias("shard_id"),
            "n_assets",
            "shard_bytes",
            "first_doc",
            "last_doc",
        )
        .orderBy("shard_id")
    )


# --- q_multimodal_vad (energy-threshold voice-activity segmentation) ---------

_VAD_FRAMES_CTE = f"""
WITH d AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
), f AS (
  SELECT doc_id, text, n,
         unnest(range(0, (n + {AUDIO_FRAME - 1}) // {AUDIO_FRAME})) AS frame_idx
  FROM d WHERE n > 0
), fr AS (
  SELECT doc_id, frame_idx,
         CAST(list_sum(list_transform(
             range(frame_idx * {AUDIO_FRAME} + 1,
                   LEAST((frame_idx + 1) * {AUDIO_FRAME}, n) + 1),
             i -> (unicode(substr(text, CAST(i AS INT), 1)) - {AUDIO_BIAS})
                * (unicode(substr(text, CAST(i AS INT), 1)) - {AUDIO_BIAS})
         )) AS BIGINT) AS energy_q
  FROM f
)"""

_VAD_ORACLE = f"""{_VAD_FRAMES_CTE}, tot AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS nf,
         CAST(SUM(energy_q) AS BIGINT) AS te
  FROM fr GROUP BY doc_id
), act AS (
  SELECT fr.doc_id, fr.frame_idx, fr.energy_q
  FROM fr JOIN tot USING (doc_id)
  WHERE fr.energy_q * tot.nf > tot.te
), flagged AS (
  SELECT doc_id, frame_idx, energy_q,
         CASE WHEN frame_idx - LAG(frame_idx) OVER w = 1 THEN 0 ELSE 1 END
           AS new_seg
  FROM act
  WINDOW w AS (PARTITION BY doc_id ORDER BY frame_idx)
), seg AS (
  SELECT doc_id, frame_idx, energy_q,
         SUM(new_seg) OVER (
           PARTITION BY doc_id ORDER BY frame_idx
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS sid
  FROM flagged
)
SELECT doc_id,
       CAST(MIN(frame_idx) AS BIGINT) AS seg_start,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(SUM(energy_q) AS BIGINT) AS seg_energy
FROM seg
GROUP BY doc_id, sid
"""


@register("q_multimodal_vad", oracle=_VAD_ORACLE)
def q_multimodal_vad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity-style SEGMENTATION over the framewise audio energies:
    frames louder than their asset's mean energy (exact cross-multiplied
    integer test — energy·n_frames > total_energy, no division) are
    'active', and runs of consecutive active frames merge into segments
    (start, length, energy) — the clip-extraction step an audio curation
    pipeline runs after feature extraction to keep speech-dense spans and
    drop silence/noise padding before transcription or training.

    Composition showcase: the FRAMES come out of the same Arrow-batched
    ``mapInPandas`` extractor as q_multimodal_audio_energy (Python owns
    only the 1→N DSP explosion); everything after — per-asset calibration,
    thresholding, gaps-and-islands — is declarative Catalyst (one window
    per step, partitioned by doc). The segmentation itself is the
    q_window_sessionize island pattern applied to UDF output, proving the
    multimodal plumbing feeds ordinary relational optimization.

    Parity: integer arithmetic end to end (ASCII corpus ⇒ byte values are
    character codes, same as the energy oracle); LAG-based island ids are
    deterministic under the (doc, frame) order.
    """
    frames = _audio_frames(spark, sf_dir)
    tot = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nf"),
        F.sum("energy_q").cast("bigint").alias("te"),
    )
    act = frames.join(tot, "doc_id").filter(
        F.col("energy_q") * F.col("nf") > F.col("te")
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    flagged = act.withColumn(
        "new_seg",
        F.when(F.col("frame_idx") - F.lag("frame_idx").over(w) == 1, 0).otherwise(1),
    )
    seg = flagged.withColumn(
        "sid",
        F.sum("new_seg").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return seg.groupBy("doc_id", "sid").agg(
        F.min("frame_idx").cast("bigint").alias("seg_start"),
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.sum("energy_q").cast("bigint").alias("seg_energy"),
    ).drop("sid")


# --- q_multimodal_patchify (ViT-style patch-grid extraction) -----------------

_PGRID_W = 32     # fake image width (bytes per row)
_PGRID_P = 8      # square patch edge → 4 patches per row-block

_PGRID_PIFY_ORACLE = f"""
WITH d AS (
  SELECT doc_id, text, octet_length(encode(text)) AS n FROM documents
), g AS (
  SELECT doc_id, text, (n // {_PGRID_W}) // {_PGRID_P} AS npy
  FROM d WHERE n >= {_PGRID_W * _PGRID_P}
), p AS (
  SELECT doc_id, text, unnest(range(0, npy)) AS py FROM g
), pp AS (
  SELECT doc_id, text, py, unnest(range(0, {_PGRID_W // _PGRID_P})) AS px FROM p
)
SELECT doc_id, py, px,
       CAST(list_sum(list_transform(range(0, {_PGRID_P * _PGRID_P}), i ->
           unicode(substr(text,
               CAST((py * {_PGRID_P} + i // {_PGRID_P}) * {_PGRID_W}
                    + px * {_PGRID_P} + (i % {_PGRID_P}) + 1 AS INT), 1))
       )) AS BIGINT) AS psum
FROM pp
"""


def _patchify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """ViT-style patch extraction: payload bytes → W-wide pixel matrix →
    non-overlapping PxP patches → per-patch integer sums, all vectorized
    numpy reshape/sum (the exact batch shape a real patch embedder uses,
    with the projection matmul replaced by a sum the oracle reproduces
    from character codes)."""
    import numpy as np

    for pdf in batches:
        out_doc, out_py, out_px, out_sum = [], [], [], []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            a = np.frombuffer(bytes(payload), dtype=np.uint8).astype(np.int64)
            rows = (a.size // _PGRID_W // _PGRID_P) * _PGRID_P
            if rows == 0:
                continue
            img = a[: rows * _PGRID_W].reshape(rows, _PGRID_W)
            # (rows/P, P, W/P, P) → sum over the two patch axes
            sums = img.reshape(
                rows // _PGRID_P, _PGRID_P, _PGRID_W // _PGRID_P, _PGRID_P
            ).sum(axis=(1, 3))
            npy, npx = sums.shape
            ys, xs = np.indices((npy, npx))
            out_doc.extend([doc_id] * (npy * npx))
            out_py.extend(ys.ravel().tolist())
            out_px.extend(xs.ravel().tolist())
            out_sum.extend(sums.ravel().tolist())
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out_doc, dtype="int64"),
                "py": pd.Series(out_py, dtype="int64"),
                "px": pd.Series(out_px, dtype="int64"),
                "psum": pd.Series(out_sum, dtype="int64"),
            }
        )


@register("q_multimodal_patchify", oracle=_PGRID_PIFY_ORACLE)
def q_multimodal_patchify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-STYLE PATCHIFICATION of binary image payloads: bytes → a
    32-wide pixel matrix (``_PGRID_W``) → non-overlapping 8×8 patches
    (``_PGRID_P``) → one row per patch with its grid position and integer pixel
    sum — the 1→N tokenization step every vision-transformer data
    pipeline runs before embedding, as Arrow-batched ``mapInPandas``
    plumbing (numpy reshape + axis sums; no per-pixel Python). Partial
    trailing row-blocks are truncated, mirroring fixed-size patch grids.

    Next to q_multimodal_audio_energy (1-D framing) and
    q_multimodal_chunks (byte windowing), this pins the 2-D blocking
    shape: the oracle recomputes every patch sum from character codes
    (ASCII corpus ⇒ byte = code), so the reshape/stride arithmetic —
    where off-by-one image bugs live — is value-proved patch by patch.
    At 100 TB the stage parallelizes per input split and emits the
    narrow (doc, py, px, sum) grid, payloads never outliving the UDF.
    """
    docs = load(spark, sf_dir, "documents")
    assets = docs.filter(F.length("text") >= _PGRID_W * _PGRID_P).select(
        "doc_id", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    return assets.mapInPandas(
        _patchify, schema="doc_id long, py long, px long, psum long"
    )


# --- q_multimodal_shot_detect ----------------------------------------------------

_SHOT_FRAME_BYTES = 16
_SHOT_DELTA_MIN = 150  # boundary: |energy(frame) - energy(prev)| exceeds this


_SHOT_ORACLE = f"""
WITH frames AS (
  SELECT doc_id, lang, f AS frame_idx,
         ({" + ".join(f"ascii(substr(text, f * {_SHOT_FRAME_BYTES} + {k + 1}, 1))" for k in range(_SHOT_FRAME_BYTES))})
           AS energy
  FROM documents,
       UNNEST(range(0, n_chars // {_SHOT_FRAME_BYTES})) AS t(f)
), deltas AS (
  SELECT doc_id, lang, frame_idx,
         ABS(energy - LAG(energy) OVER (
           PARTITION BY doc_id ORDER BY frame_idx
         )) AS d
  FROM frames
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_frames,
       CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN d > {_SHOT_DELTA_MIN} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_boundaries,
       CAST(MAX(d) AS BIGINT) AS max_delta
FROM deltas GROUP BY lang
"""


@register("q_multimodal_shot_detect", oracle=_SHOT_ORACLE)
def q_multimodal_shot_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection plumbing for video assets: chunk each payload
    into fixed {_SHOT_FRAME_BYTES}-byte 'frames', compute per-frame energy
    (byte sum — with a real codec this is the luma histogram in the same
    slot), and flag boundaries where the frame-to-frame energy delta exceeds
    the cut threshold — the temporal-segmentation pass a video curation
    pipeline runs before per-shot sampling (q_multimodal_framesample) and
    captioning, certified per language with frame/boundary counts and the
    maximum observed cut strength.

    Exactness: energy is an exact integer byte sum (ASCII corpus ⇒ byte =
    character code, so the shared framing stage's numpy byte-sum equals the
    oracle's 16-term ascii projection bit-for-bit); the delta is integer LAG
    arithmetic, and the threshold is a shared literal. Only FULL
    {_SHOT_FRAME_BYTES}-byte subframes qualify (n_samples filter), matching
    the oracle's range(0, n_chars // {_SHOT_FRAME_BYTES}) frame grid — the
    partial tail subframe, and any doc shorter than one frame, drop out.

    Scale shape: framing comes from the family-shared Arrow subframe
    relation (shared_payload_frames — one pass per session/sf_dir feeds
    audio_energy, vad, and shot_detect; the persisted frame-features table
    at 100 TB). The payload dies inside that stage — only
    (doc, frame_idx, energy) reaches the LAG Exchange; the rollup is
    map-side combined. Real decoders slot into the same plan by swapping
    the framing stage's body — the relational shell is codec-agnostic.
    """
    sub = shared_payload_frames(spark, sf_dir)
    frames = sub.filter(F.col("n_samples") == _SHOT_FRAME_BYTES).select(
        "doc_id",
        "lang",
        F.col("sub_idx").alias("frame_idx"),
        F.col("bsum").alias("energy"),
    )
    w = Window.partitionBy("doc_id").orderBy("frame_idx")
    deltas = frames.select(
        "doc_id",
        "lang",
        F.abs(F.col("energy") - F.lag("energy").over(w)).alias("d"),
    )
    return deltas.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_frames"),
        F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        F.sum(F.when(F.col("d") > _SHOT_DELTA_MIN, 1).otherwise(0))
        .cast("bigint")
        .alias("n_boundaries"),
        F.max("d").cast("bigint").alias("max_delta"),
    )


# --- q_multimodal_colorhist ---------------------------------------------------

_CHIST_BINS = 16  # byte-value histogram bins (values >> 4)

_CHIST_ORACLE = f"""
WITH pos AS (
  SELECT doc_id, lang, text,
         unnest(range(1, octet_length(encode(text)) + 1)) AS p
  FROM documents
), b AS (
  SELECT doc_id, lang, ascii(substr(text, p::INT, 1)) // {256 // _CHIST_BINS} AS bin
  FROM pos
), db AS (
  SELECT doc_id, lang, bin, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM b GROUP BY doc_id, lang, bin
)
SELECT lang, CAST(bin AS BIGINT) AS bin,
       CAST(SUM(cnt) AS BIGINT) AS n_bytes,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(MAX(cnt) AS BIGINT) AS max_doc_count
FROM db GROUP BY lang, bin
"""


def _colorhist(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Arrow-batched 16-bin byte-value histogram per payload: numpy
    bincount over (bytes >> 4) — the exact batch shape of a color/tonal
    histogram extractor on decoded pixel data, with the codec replaced by
    the raw payload bytes the oracle can recount. Emits only non-empty
    bins (narrow sparse rows), never the payload."""
    import numpy as np

    for pdf in batches:
        out_doc, out_lang, out_bin, out_cnt = [], [], [], []
        for doc_id, lang, payload in zip(
            pdf["doc_id"], pdf["lang"], pdf["payload"]
        ):
            a = np.frombuffer(bytes(payload), dtype=np.uint8)
            if a.size == 0:
                continue
            hist = np.bincount(a >> 4, minlength=_CHIST_BINS)
            nz = np.nonzero(hist)[0]
            out_doc.extend([doc_id] * nz.size)
            out_lang.extend([lang] * nz.size)
            out_bin.extend(nz.tolist())
            out_cnt.extend(hist[nz].tolist())
        yield pd.DataFrame(
            {
                "doc_id": pd.Series(out_doc, dtype="int64"),
                "lang": pd.Series(out_lang, dtype="object"),
                "bin": pd.Series(out_bin, dtype="int64"),
                "cnt": pd.Series(out_cnt, dtype="int64"),
            }
        )


@register("q_multimodal_colorhist", oracle=_CHIST_ORACLE)
def q_multimodal_colorhist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-value (color/tonal) histograms over binary payloads: an
    Arrow-batched ``mapInPandas`` stage bincounts each payload's bytes into
    16 bins (value >> 4) and emits sparse per-doc (bin, count) rows; the
    per-language histogram rollup — total bytes, docs touching the bin, and
    the largest single-doc concentration — then aggregates JVM-side. This
    is the decode→histogram→rollup shape of image tonal analysis and of
    corpus byte-composition screens (e.g. detecting base64 blobs or binary
    junk inside a 'text' corpus by their flat byte spectrum).

    The UDF is pure vectorized numpy (one bincount per payload, no
    per-byte Python); payloads never outlive the Arrow stage — only the
    narrow sparse histogram rows shuffle. The oracle recounts every bin
    from character codes (ASCII corpus ⇒ byte = code), value-proving the
    binning arithmetic end to end. At 100 TB the stage parallelizes per
    input split and the rollup is one map-side-combined aggregate.
    """
    docs = load(spark, sf_dir, "documents")
    assets = docs.select(
        "doc_id", "lang", F.encode(F.col("text"), "UTF-8").alias("payload")
    )
    hist = assets.mapInPandas(
        _colorhist, schema="doc_id long, lang string, bin long, cnt long"
    )
    return hist.groupBy("lang", "bin").agg(
        F.sum("cnt").cast("bigint").alias("n_bytes"),
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.max("cnt").cast("bigint").alias("max_doc_count"),
    )


# --- q_multimodal_phash -------------------------------------------------------

_PHASH_FRAMES = 16  # leading 16 full subframes (256 bytes) feed the DCT
_PHASH_SCALE = 10_000  # cos quantizer: floor(cos·1e4 + 0.5)


def _phash_cos_rows() -> list[tuple[int, int, int]]:
    """Quantized DCT-II basis (k = 1..15 over 16 samples, DC skipped):
    cq[k][n] = floor(cos(π(2n+1)k/32)·1e4 + 0.5). Generated ONCE in Python
    and embedded as the same integer literals in both engines (the
    q_sim_hamming plane / q_window_periodogram trig discipline), so no
    cross-engine cos() agreement is ever needed."""
    import math

    out = []
    for k in range(1, _PHASH_FRAMES):
        for n in range(_PHASH_FRAMES):
            cq = math.floor(
                math.cos(math.pi * (2 * n + 1) * k / (2 * _PHASH_FRAMES))
                * _PHASH_SCALE
                + 0.5
            )
            out.append((k, n, cq))
    return out


_PHASH_COS = _phash_cos_rows()


def _phash_oracle() -> str:
    values = ",\n    ".join(f"({k}, {n}, {cq})" for k, n, cq in _PHASH_COS)
    return f"""
WITH d AS (
  SELECT doc_id, lang, text, octet_length(encode(text)) AS nb FROM documents
), frames AS (
  SELECT doc_id, lang, f AS n,
         ({" + ".join(f"ascii(substr(text, f * 16 + {i + 1}, 1))" for i in range(16))})
           AS bsum
  FROM d, UNNEST(range(0, {_PHASH_FRAMES})) AS t(f)
  WHERE nb >= {_PHASH_FRAMES * 16}
), basis(k, n, cq) AS (
  VALUES
    {values}
), coef AS (
  SELECT f.doc_id, f.lang, b.k,
         CAST(SUM(f.bsum * b.cq) AS BIGINT) AS c
  FROM frames f JOIN basis b ON b.n = f.n
  GROUP BY f.doc_id, f.lang, b.k
), h AS (
  SELECT doc_id, lang,
         CAST(SUM(CASE WHEN c > 0 THEN (CAST(1 AS BIGINT) << (k - 1))
                       ELSE 0 END) AS BIGINT) AS h15
  FROM coef GROUP BY doc_id, lang
), buckets AS (
  SELECT lang, h15, CAST(COUNT(*) AS BIGINT) AS bucket
  FROM h GROUP BY lang, h15
)
SELECT lang,
       CAST(SUM(bucket) AS BIGINT) AS n_docs,
       CAST(COUNT(*) AS BIGINT) AS n_hashes,
       CAST(MAX(bucket) AS BIGINT) AS max_bucket
FROM buckets GROUP BY lang
"""


@register("q_multimodal_phash", oracle=_phash_oracle())
def q_multimodal_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral perceptual hash (pHash-style) over binary payloads: DCT-II
    of the leading {_PHASH_FRAMES}-subframe energy sequence, sign-threshold
    the 15 AC coefficients into a 15-bit hash, and certify the per-language
    bucket structure (docs, distinct hashes, largest collision bucket) —
    the frequency-domain near-dup signature next to q_multimodal_ahash's
    spatial block hash (pHash survives brightness/scaling perturbations
    that flip aHash bits; with a real image codec the same plan consumes
    8×8 luma DCT instead of byte-sum frames).

    Exactness: frame energies come from the family-shared Arrow subframe
    relation (shared_payload_frames — the fourth consumer of the memo);
    the DCT basis is integer-quantized in Python and embedded as identical
    literals in both engines, so every coefficient is an exact bigint
    (|c| ≤ 16·2032·10⁴) and the sign threshold needs no tolerance.

    Scale shape: subframe relation → broadcast 240-row basis join →
    (doc, k) hash aggregate → (doc) bit-pack aggregate → per-lang rollup;
    the payload never leaves the shared Arrow stage, and everything after
    is map-side-combinable. At 100 TB the hash column persists next to the
    asset and the bucket rollup IS the dedup candidate index.
    """
    sub = shared_payload_frames(spark, sf_dir)
    frames = sub.filter(
        (F.col("sub_idx") < _PHASH_FRAMES) & (F.col("n_samples") == SUBFRAME)
    ).select("doc_id", "lang", F.col("sub_idx").alias("n"), "bsum")
    full = frames.groupBy("doc_id").agg(F.count(F.lit(1)).alias("nf")).filter(
        F.col("nf") == _PHASH_FRAMES
    )
    # session memo of the constant 240-row DCT basis table (createDataFrame
    # costs ~0.15 s of driver serialization per call; it never changes)
    basis = CACHE.get_or_build(
        spark, "phash_cos",
        lambda: spark.createDataFrame(_PHASH_COS, "k int, n int, cq long"),
    )
    coef = (
        frames.join(F.broadcast(full.select("doc_id")), "doc_id")
        .join(F.broadcast(basis), "n")
        .groupBy("doc_id", "lang", "k")
        .agg(F.sum(F.col("bsum") * F.col("cq")).cast("bigint").alias("c"))
    )
    h = coef.groupBy("doc_id", "lang").agg(
        F.sum(
            F.expr(
                "CASE WHEN c > 0 THEN shiftleft(CAST(1 AS BIGINT), k - 1)"
                " ELSE CAST(0 AS BIGINT) END"
            )
        )
        .cast("bigint")
        .alias("h15")
    )
    buckets = h.groupBy("lang", "h15").agg(
        F.count(F.lit(1)).cast("bigint").alias("bucket")
    )
    return buckets.groupBy("lang").agg(
        F.sum("bucket").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_hashes"),
        F.max("bucket").cast("bigint").alias("max_bucket"),
    )

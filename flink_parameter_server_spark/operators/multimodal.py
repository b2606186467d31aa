"""Multimodal (binary) column operators — north-star requirement.

No reference analog. Pattern: media lives as an opaque `binary` column
with typed metadata alongside; decode / feature-extraction runs as
Arrow-batched Pandas functions via ``mapInPandas`` — the only operators
in this engine that leave the JVM, because byte-level media decoding
genuinely can't be expressed in Spark SQL.

The container has no image/audio libraries, so the *decode* step is a
clearly-marked deterministic stand-in (`_fake_decode`): real byte math
over the binary payload, no PIL/ffmpeg. The Spark-side plumbing —
binary column synthesis, Arrow batch shapes, output schema, partition
behavior — is real and oracle-checked (the oracle recomputes the same
byte math from the source text, since payload = utf-8(text)).

Scale: mapInPandas streams Arrow batches; per-batch memory is bounded by
`spark.sql.execution.arrow.maxRecordsPerBatch`, and media-sized rows at
100 TB want that lowered plus binary columns stored out-of-line
(parquet BYTE_ARRAY with a size-capped row group) — documented knobs,
same code.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..plans.registry import register
from ._util import t

FEATURE_DIM = 4

_OUT_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes bigint, "
    "width int, height int, f0 bigint, f1 bigint, f2 bigint, f3 bigint"
)


def media_table(spark, sf_dir: str) -> DataFrame:
    """Synthesize the binary media table: payload = utf-8 bytes of text,
    metadata derived from n_chars (stands in for a real image table)."""
    # extraction-failed rows (null payload) carry nothing to decode and
    # would crash the byte-math UDFs — drop them at the scan (predicate
    # pushes down; both oracle SQLs mirror the filter)
    d = t(spark, sf_dir, "documents").where(F.col("text").isNotNull())
    return d.select(
        "doc_id",
        F.lit("image/fake").alias("media_type"),
        F.encode("text", "utf-8").alias("content"),
        F.struct(
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
        ).alias("meta"),
    )


def _fake_decode(content: bytes) -> dict:
    """STUB decode: a real decoder (PIL/ffmpeg) is unavailable in this
    container; this deterministic byte math keeps the pipeline testable.
    Swap this function for the real decoder in production."""
    n = len(content)
    total = sum(content)
    return {
        "n_bytes": n,
        "f0": content[0] if n else 0,
        "f1": content[-1] if n else 0,
        "f2": total % 256,
        "f3": total % 1_000_003,
    }


def decode_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode + feature extraction over the binary column."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pdf = pdf[pdf["content"].notna()]  # skip extraction-failed rows
            feats = pdf["content"].map(_fake_decode)
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": feats.map(lambda d: d["n_bytes"]),
                    "width": pdf["meta"].map(lambda m: m["width"]),
                    "height": pdf["meta"].map(lambda m: m["height"]),
                    "f0": feats.map(lambda d: d["f0"]),
                    "f1": feats.map(lambda d: d["f1"]),
                    "f2": feats.map(lambda d: d["f2"]),
                    "f3": feats.map(lambda d: d["f3"]),
                }
            )
            yield out

    return media.mapInPandas(batches, schema=_OUT_SCHEMA)


FRAME_BYTES = 64  # bytes per fake "frame"
FRAME_STRIDE = 4  # sample every 4th frame

_FRAME_SCHEMA = "doc_id bigint, frame_idx bigint, byte_off bigint, frame_bytes bigint, checksum bigint"


def frame_sample(media: DataFrame) -> DataFrame:
    """Frame-sampling plumbing: treat the binary payload as a fake video
    whose frames are fixed FRAME_BYTES windows; emit every FRAME_STRIDE-th
    frame as its own row (one input row -> many output rows — the exact
    batch shape a real video frame sampler produces from mapInPandas).
    The per-frame "decode" is the same declared byte-math stub as
    :func:`_fake_decode`; swap in ffmpeg frame extraction in production.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {"doc_id": [], "frame_idx": [], "byte_off": [], "frame_bytes": [], "checksum": []}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                if content is None:  # extraction-failed row: no frames
                    continue
                n = len(content)
                nframes = (n + FRAME_BYTES - 1) // FRAME_BYTES
                for f in range(0, nframes, FRAME_STRIDE):
                    chunk = content[f * FRAME_BYTES : (f + 1) * FRAME_BYTES]
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(f)
                    rows["byte_off"].append(f * FRAME_BYTES)
                    rows["frame_bytes"].append(len(chunk))
                    rows["checksum"].append(sum(chunk) % 1_000_003)
            yield pd.DataFrame(rows, dtype="int64") if rows["doc_id"] else pd.DataFrame(
                {k: pd.Series([], dtype="int64") for k in rows}
            )

    return media.select("doc_id", "content").mapInPandas(batches, schema=_FRAME_SCHEMA)


# UTF-8 encoder in SQL: codepoint list -> byte list. The Spark side is
# byte-true (payload = encode(text, 'utf-8'), decode sums BYTES), so the
# oracle must model bytes too — on multibyte text a codepoint model
# under-counts frames and mis-sums checksums (found by the r6 --unicode
# probe). Identity on pure-ASCII, so pristine-fixture hashes are
# unchanged.
_UTF8_BYTES_SQL = """flatten(list_transform({cs}, cp -> CASE
  WHEN cp < 128 THEN [cp]
  WHEN cp < 2048 THEN [192 + cp // 64, 128 + cp % 64]
  WHEN cp < 65536 THEN [224 + cp // 4096, 128 + (cp // 64) % 64, 128 + cp % 64]
  ELSE [240 + cp // 262144, 128 + (cp // 4096) % 64, 128 + (cp // 64) % 64, 128 + cp % 64]
END))"""

_CS_SQL = (
    "list_transform(list_filter(string_split(text, ''), c -> c <> ''), "
    "c -> CAST(ascii(c) AS BIGINT))"
)

_FRAMES_SQL = f"""
WITH codes AS (
  SELECT doc_id,
         {_UTF8_BYTES_SQL.format(cs=_CS_SQL)} AS cs
  FROM documents WHERE text IS NOT NULL
),
fr AS (
  SELECT doc_id, cs,
         unnest(range(0, CAST(ceil(len(cs) / {float(FRAME_BYTES)}) AS BIGINT))) AS f
  FROM codes
)
SELECT 'frames' AS part, doc_id, CAST(NULL AS VARCHAR) AS media_type,
       f AS n1, f * {FRAME_BYTES} AS n2,
       CAST(least({FRAME_BYTES}, len(cs) - f * {FRAME_BYTES}) AS BIGINT) AS n3,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                                cs[f * {FRAME_BYTES} + 1 : (f + 1) * {FRAME_BYTES}]),
                   (a, x) -> a + x) % 1000003 AS n4,
       CAST(NULL AS BIGINT) AS n5, CAST(NULL AS BIGINT) AS n6,
       CAST(NULL AS BIGINT) AS n7
FROM fr WHERE f % {FRAME_STRIDE} = 0
"""

_FEATURES_SQL = f"""
WITH codes AS (
  SELECT doc_id,
         {_UTF8_BYTES_SQL.format(cs=_CS_SQL)} AS cs,
         n_chars
  FROM documents WHERE text IS NOT NULL
)
SELECT 'features' AS part, doc_id, 'image/fake' AS media_type,
       CAST(len(cs) AS BIGINT) AS n1,
       CAST(n_chars % 640 AS BIGINT) AS n2,
       CAST(n_chars % 480 AS BIGINT) AS n3,
       coalesce(cs[1], 0) AS n4, coalesce(cs[len(cs)], 0) AS n5,
       list_reduce(list_prepend(CAST(0 AS BIGINT), cs), (a, x) -> a + x) % 256 AS n6,
       list_reduce(list_prepend(CAST(0 AS BIGINT), cs), (a, x) -> a + x) % 1000003 AS n7
FROM codes
"""


RESIZE_BYTES = 256  # target payload size of the fake "resize"
RESIZE_W, RESIZE_H = 16, 16  # declared output dimensions

_RESIZE_SCHEMA = (
    "doc_id bigint, n_bytes_in bigint, out_w bigint, out_h bigint, "
    "n_bytes_out bigint, checksum bigint"
)


def resize_media(media: DataFrame) -> DataFrame:
    """Resize plumbing: stride-sample the binary payload down to
    ``RESIZE_BYTES`` bytes (index i of the output reads input byte
    ``(i * n) // T``) — the deterministic stand-in for an image resize
    kernel, same contract as :func:`_fake_decode`: real byte math, swap
    in PIL's resize in production. Payloads already at or under the
    target pass through whole (T = min(RESIZE_BYTES, n))."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in ("doc_id", "n_bytes_in", "out_w", "out_h", "n_bytes_out", "checksum")}
            for doc_id, content in zip(pdf["doc_id"], pdf["content"]):
                if content is None:  # extraction-failed row: no resize
                    continue
                n = len(content)
                if n == 0:
                    continue
                t_out = min(RESIZE_BYTES, n)
                sampled = bytes(content[(i * n) // t_out] for i in range(t_out))
                rows["doc_id"].append(doc_id)
                rows["n_bytes_in"].append(n)
                rows["out_w"].append(RESIZE_W)
                rows["out_h"].append(RESIZE_H)
                rows["n_bytes_out"].append(t_out)
                rows["checksum"].append(sum(sampled) % 1_000_003)
            yield pd.DataFrame(rows, dtype="int64") if rows["doc_id"] else pd.DataFrame(
                {k: pd.Series([], dtype="int64") for k in rows}
            )

    return media.select("doc_id", "content").mapInPandas(batches, schema=_RESIZE_SCHEMA)


_RESIZE_SQL = f"""
WITH codes AS (
  SELECT doc_id,
         {_UTF8_BYTES_SQL.format(cs=_CS_SQL)} AS cs
  FROM documents WHERE text IS NOT NULL
),
sz AS (
  SELECT doc_id, cs, len(cs) AS n, least({RESIZE_BYTES}, len(cs)) AS t_out
  FROM codes WHERE len(cs) > 0
)
SELECT 'resized' AS part, doc_id, CAST(NULL AS VARCHAR) AS media_type,
       CAST(n AS BIGINT) AS n1,
       CAST({RESIZE_W} AS BIGINT) AS n2, CAST({RESIZE_H} AS BIGINT) AS n3,
       CAST(t_out AS BIGINT) AS n4,
       list_reduce(list_prepend(CAST(0 AS BIGINT),
                                list_transform(range(0, t_out), i -> cs[(i * n) // t_out + 1])),
                   (a, x) -> a + x) % 1000003 AS n5,
       CAST(NULL AS BIGINT) AS n6, CAST(NULL AS BIGINT) AS n7
FROM sz
"""


@register(
    "multimodal_pipeline",
    oracle=f"""
SELECT * FROM ({_FEATURES_SQL}) AS features_part
UNION ALL
SELECT * FROM ({_FRAMES_SQL}) AS frames_part
UNION ALL
SELECT * FROM ({_RESIZE_SQL}) AS resized_part
""",
    tags=("north-star", "D22"),
    doc="The multimodal binary-column pipeline in one query discriminated "
    "by `part` (consolidated from multimodal_decode_features / "
    "multimodal_frame_sample / multimodal_resize — all run the same "
    "media_table through Arrow-batched mapInPandas). 'features': decode "
    "+ feature-extract, n1=n_bytes, n2=width, n3=height, n4..n7=f0..f3. "
    "'frames': fixed-size frame windows, every FRAME_STRIDE-th frame as "
    "its own row (1 row in -> N out, the real video-sampler batch "
    "shape), n1=frame_idx, n2=byte_off, n3=frame_bytes, n4=checksum. "
    "'resized': payload stride-sampled to RESIZE_BYTES (the image-resize "
    "stand-in), n1=n_bytes_in, n2=out_w, n3=out_h, n4=n_bytes_out, "
    "n5=checksum. The decode "
    "is the declared deterministic byte-math stub (no media libs in the "
    "container); the oracle replays the byte math from the source text "
    "by expanding per-character codepoints through a SQL utf-8 encoder "
    "(_UTF8_BYTES_SQL), so it is byte-true for ANY text, not just ASCII "
    "— multibyte parity pinned by tests/test_degenerate.py's unicode "
    "fixture.",
)
def multimodal_pipeline(spark, sf_dir):
    null_l = F.lit(None).cast("long")
    features = decode_features(media_table(spark, sf_dir)).select(
        F.lit("features").alias("part"),
        "doc_id",
        "media_type",
        F.col("n_bytes").alias("n1"),
        F.col("width").cast("long").alias("n2"),
        F.col("height").cast("long").alias("n3"),
        F.col("f0").alias("n4"),
        F.col("f1").alias("n5"),
        F.col("f2").alias("n6"),
        F.col("f3").alias("n7"),
    )
    frames = frame_sample(media_table(spark, sf_dir)).select(
        F.lit("frames").alias("part"),
        "doc_id",
        F.lit(None).cast("string").alias("media_type"),
        F.col("frame_idx").alias("n1"),
        F.col("byte_off").alias("n2"),
        F.col("frame_bytes").alias("n3"),
        F.col("checksum").alias("n4"),
        null_l.alias("n5"),
        null_l.alias("n6"),
        null_l.alias("n7"),
    )
    resized = resize_media(media_table(spark, sf_dir)).select(
        F.lit("resized").alias("part"),
        "doc_id",
        F.lit(None).cast("string").alias("media_type"),
        F.col("n_bytes_in").alias("n1"),
        F.col("out_w").alias("n2"),
        F.col("out_h").alias("n3"),
        F.col("n_bytes_out").alias("n4"),
        F.col("checksum").alias("n5"),
        null_l.alias("n6"),
        null_l.alias("n7"),
    )
    return features.unionByName(frames).unionByName(resized)

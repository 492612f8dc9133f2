"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Pattern for image/audio/video at 100 TB: store the payload as a binary
column next to a typed metadata struct; keep filtering/routing on the
metadata (JVM-side, prunable) and run decode/feature-extraction as
Arrow-batched ``mapInPandas`` over repartitioned payload batches.

The container has no codec libraries, so the decoders are STUBS with a
deterministic fake implementation (documented below); the Spark-side
plumbing — schema, batching, partitioning, UDF signatures — is real and
tested. Swap ``_decode_image_stub`` for a PIL/ffmpeg call in production.

``multimodal_bytes`` (oracle-checked) exercises the JVM-side path:
utf-8 payload encode, byte stats, checksum, synthesized metadata.

Every codec entry is a codec body plus one harness call.
``_synthesize(docs, mime, encode)`` turns a per-doc encoder into the
media table, and ``_map_docs(media, fn, schema)`` runs a per-doc
decoder over it. Both are one map-side Arrow-batched ``mapInPandas``
stage, so every codec entry has the same scale shape: the scan reads
only ``doc_id``, there is no Exchange, and payload bytes stay inside
the executor and never shuffle. The output is narrow typed rows at doc
grain, or at (doc, image) / (doc, frame) grain for the 1->N decoders.
"""

from __future__ import annotations

import datetime as dt
import math
import struct
import zlib
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..catalog import load_table

MEDIA_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("mime_type", StringType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("mime_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("feature_checksum", LongType()),
    ]
)


def to_media_table(docs: DataFrame) -> DataFrame:
    """Documents -> media table: binary payload + typed metadata."""
    payload = F.encode("text", "utf-8")
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.lit("text/plain").alias("mime_type"),
        F.length(payload).cast("long").alias("n_bytes"),
    )


def _synthesize(
    docs: DataFrame, mime: str, encode: Callable[[int], bytes]
) -> DataFrame:
    """The media table of one synthetic codec: ``encode(doc_id)`` is
    the payload of each document. One Arrow-batched ``mapInPandas``
    over ``docs.select("doc_id")``, so the scan reads only ``doc_id``
    and the payload is generated in the executor, never carried."""

    def _synth(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids = [int(d) for d in pdf["doc_id"]]
            payloads = [bytes(encode(d)) for d in ids]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "payload": payloads,
                    "mime_type": mime,
                    "n_bytes": [len(p) for p in payloads],
                }
            )

    return docs.select("doc_id").mapInPandas(_synth, schema=MEDIA_SCHEMA)


def _map_docs(
    media: DataFrame,
    fn: Callable[[int, bytes], dict | list[dict]],
    schema: StructType,
) -> DataFrame:
    """Per-doc decode over the media table: ``fn(doc_id, payload)``
    returns one output row (a dict keyed by ``schema``'s fields after
    ``doc_id``) or a list of them (the 1->N decoders: ICO images, WAV
    frames, sampled frames). Each Arrow batch becomes one pandas frame
    built from the schema's field names, ``doc_id`` first; an empty
    batch yields an empty frame with the same columns.

    Scale shape of every entry built on it: one map-side
    ``mapInPandas`` stage, zero Exchange, payload bytes stay inside
    the executor and never shuffle."""
    cols = schema.fieldNames()

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {c: [] for c in cols}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                out = fn(int(doc_id), payload)
                for row in out if isinstance(out, list) else [out]:
                    rows["doc_id"].append(int(doc_id))
                    for c in cols[1:]:
                        rows[c].append(row[c])
            yield pd.DataFrame(rows)

    return media.mapInPandas(_map, schema=schema)


def _decode_image_stub(payload: bytes) -> dict:
    """STUB decoder. Real impl would be e.g. PIL.Image.open(BytesIO(...)).

    Deterministic fake: derives (width, height, n_frames, checksum) from
    the byte content so tests exercise real data flow through Arrow.
    """
    n = len(payload)
    checksum = 0
    for i, b in enumerate(payload[:256]):
        checksum = (checksum * 131 + b + i) % (1 << 31)
    return {
        "width": (n % 64) + 1,
        "height": (n % 48) + 1,
        "n_frames": 1,
        "feature_checksum": checksum,
    }


PPM_MIME = "image/x-portable-pixmap"


def _parse_ppm(payload: bytes) -> tuple[int, int, bytes]:
    """Parse a binary PPM (P6) payload into (width, height, raster) —
    pure bytes arithmetic: whitespace-delimited header (magic, width,
    height, maxval; exactly one whitespace byte before the raster),
    then the raw interleaved RGB plane."""
    payload = bytes(payload)
    if not payload.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    n = len(payload)
    fields: list[int] = []
    i = 2
    while len(fields) < 3:
        # every scan is bounded by the payload length: a truncated
        # header (EOF mid-field, or no whitespace after maxval) must
        # raise, never spin — this parser runs inside executor tasks
        # on arbitrary upstream bytes
        while i < n and payload[i : i + 1].isspace():
            i += 1
        j = i
        while j < n and not payload[j : j + 1].isspace():
            j += 1
        if j == i or j >= n:
            raise ValueError("truncated PPM header")
        fields.append(int(payload[i:j]))
        i = j
    i += 1  # exactly one whitespace byte separates maxval from the raster
    width, height, maxval = fields
    raw = payload[i : i + 3 * width * height]
    if maxval != 255 or len(raw) != 3 * width * height:
        raise ValueError("unsupported maxval or truncated PPM raster")
    return width, height, raw


def decode_ppm(payload: bytes) -> dict:
    """REAL decoder for binary PPM (P6) — no codec library needed.
    Returns integer-exact stats (dims, pixel count, per-channel byte
    sums) so a wrong header parse, an off-by-one raster offset, or a
    channel swap is a hard test/oracle failure — this is the production
    decode slot, proven end-to-end, where the stub covers formats the
    sandbox lacks codecs for."""
    width, height, raw = _parse_ppm(payload)
    return {
        "width": width,
        "height": height,
        "n_pixels": width * height,
        "sum_r": sum(raw[0::3]),
        "sum_g": sum(raw[1::3]),
        "sum_b": sum(raw[2::3]),
    }


# Fixed target dims for the nearest-neighbor resize operator (the
# thumbnail/normalize step of an image pipeline).
PPM_RESIZE_W = 4
PPM_RESIZE_H = 3


def _nn_sums(
    width: int, height: int, pixel: Callable[[int, int], tuple]
) -> list[int]:
    """The one nearest-neighbor resize kernel: target pixel (x', y')
    of the PPM_RESIZE_W x PPM_RESIZE_H grid samples source pixel
    (x'*w // W', y'*h // H'), integer arithmetic only. ``pixel(x, y)``
    returns the source sample's channel tuple; the result is the
    per-channel sums over the resized raster, so a wrong coordinate
    mapping or raster stride is oracle-visible."""
    samples = [
        pixel((x2 * width) // PPM_RESIZE_W, (y2 * height) // PPM_RESIZE_H)
        for y2 in range(PPM_RESIZE_H)
        for x2 in range(PPM_RESIZE_W)
    ]
    return [sum(ch) for ch in zip(*samples)]


def _rgb_resize(
    width: int, height: int, pixel: Callable[[int, int], tuple]
) -> dict:
    """Source dims plus the (r, g, b) sums of the NN-resized raster —
    the output row of every RGB member of the resize family."""
    sr, sg, sb = _nn_sums(width, height, pixel)
    return {
        "src_width": width,
        "src_height": height,
        "sum_r": sr,
        "sum_g": sg,
        "sum_b": sb,
    }


def resize_ppm_nn(payload: bytes) -> dict:
    """Nearest-neighbor resize (``_nn_sums``) on a REAL decoded P6
    raster: source dims plus per-channel sums of the RESIZED raster."""
    width, height, raw = _parse_ppm(payload)
    return _rgb_resize(
        width,
        height,
        lambda x, y: raw[3 * (y * width + x) : 3 * (y * width + x) + 3],
    )


def _decode_media(payload: bytes, mime_type: str) -> dict:
    """Per-mime decode dispatch for the feature extractor: real
    decoders where the repo implements the codec from the public spec
    (P6 PPM raster; baseline JFIF via the full Huffman+IDCT chain —
    ``decode_jpeg``); deterministic stub only for payloads whose
    codecs genuinely exceed first-principles scope here (video
    containers, HEIC, arithmetic-coded JPEG)."""
    if mime_type == PPM_MIME:
        d = decode_ppm(payload)
        checksum = (
            (d["sum_r"] * 131 + d["sum_g"]) * 131 + d["sum_b"]
        ) % (1 << 31)
        return {
            "width": d["width"],
            "height": d["height"],
            "n_frames": 1,
            "feature_checksum": checksum,
        }
    if mime_type == JPEG_MIME:
        d = decode_jpeg(payload)
        checksum = (
            (d["sum_y"] * 131 + d["sum_cb"]) * 131 + d["sum_cr"]
        ) % (1 << 31)
        return {
            "width": d["width"],
            "height": d["height"],
            "n_frames": 1,
            "feature_checksum": checksum,
        }
    return _decode_image_stub(payload)


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched decode/feature-extract over ``mapInPandas``. It
    keeps its own map because the decode dispatches on ``mime_type``,
    which ``_map_docs`` does not pass. At scale, repartition the media
    table so each Arrow batch fits executor memory (payloads are the
    dominant bytes — do NOT let one partition hold 10k 4K frames)."""

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _decode_media(p, m)
                for p, m in zip(pdf["payload"], pdf["mime_type"])
            ]
            out = pd.DataFrame(feats)
            out.insert(0, "n_bytes", pdf["n_bytes"].values)
            out.insert(0, "mime_type", pdf["mime_type"].values)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            yield out

    return media.mapInPandas(_extract, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_offset", LongType()),
        StructField("frame_bytes", BinaryType()),
    ]
)

FRAME_SIZE = 64  # bytes per sampled frame
FRAME_STRIDE = 256  # bytes between frame starts


def _slice_frames(payload: bytes) -> list[dict]:
    buf = bytes(payload)
    return [
        {
            "frame_idx": i,
            "frame_offset": off,
            "frame_bytes": buf[off : off + FRAME_SIZE],
        }
        for i, off in enumerate(
            range(0, max(len(buf) - FRAME_SIZE, 1), FRAME_STRIDE)
        )
    ]


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame sampling over binary payloads: one input row -> N frame rows.

    The video/audio pattern: slice FRAME_SIZE-byte windows out of the
    payload every FRAME_STRIDE bytes (a real decoder would seek
    keyframes; this deterministic slicer exercises the same 1->N Arrow
    plumbing and output schema). Frames explode data volume — at
    scale, repartition the OUTPUT, not the input, before any
    downstream shuffle.
    """
    return _map_docs(media, lambda _, p: _slice_frames(p), FRAME_SCHEMA)


def q_multimodal_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side byte stats over the binary payload column (oracle-checked)."""
    media = to_media_table(load_table(spark, sf_dir, "documents"))
    return media.select(
        "doc_id",
        "mime_type",
        "n_bytes",
        F.md5("payload").alias("payload_md5"),
        ((F.col("n_bytes") % 64) + 1).alias("synth_width"),
        ((F.col("n_bytes") % 48) + 1).alias("synth_height"),
    )


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling rollup: run the 1->N ``mapInPandas`` frame slicer
    over every payload and aggregate per asset (frame count, frame
    bytes, last offset).

    The slicer is the deterministic stub (documented above), so the
    whole Arrow round-trip — binary in, exploded frames out, JVM agg
    back — is oracle-checkable from closed-form arithmetic on the
    payload length. In production only the decoder body changes.
    """
    media = to_media_table(load_table(spark, sf_dir, "documents"))
    frames = sample_frames(media)
    return frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.sum(F.length("frame_bytes")).cast("bigint").alias("total_frame_bytes"),
        F.max("frame_offset").alias("max_offset"),
    )


FRAME_SHARED_THRESH = 0.5


def q_multimodal_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level near-dup detection across assets: hash every sampled
    frame (the ``mapInPandas`` 1->N slicer) and flag assets whose
    frames largely appear in OTHER assets — the video/audio analogue of
    boilerplate detection (shared intros, watermarked segments,
    re-encoded copies share raw frames even when whole-file hashes
    differ).

    Scale shape: frame hashing rides the existing Arrow slicer
    (map-side, 1->N bounded by payload/stride); the frame-hash ->
    n_docs aggregate shuffles once on a high-cardinality hash
    (count-distinct partially aggregated); the per-asset rollup
    shuffles once on doc_id. Payload bytes never shuffle — only
    32-char hashes do, which is what makes this viable when frames are
    4K images instead of 64-byte stubs.
    """
    media = to_media_table(load_table(spark, sf_dir, "documents"))
    frames = sample_frames(media).select(
        "doc_id", F.md5("frame_bytes").alias("frame_hash")
    )
    hash_docs = frames.groupBy("frame_hash").agg(
        F.count_distinct("doc_id").alias("n_docs")
    )
    per_doc = (
        frames.join(hash_docs, "frame_hash")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_shared_frames"),
        )
    )
    frac = F.col("n_shared_frames").cast("double") / F.col("n_frames")
    return per_doc.select(
        "doc_id",
        "n_frames",
        "n_shared_frames",
        frac.alias("shared_frac"),
        (frac >= F.lit(FRAME_SHARED_THRESH)).alias("is_near_dup"),
    )


def _ppm_dims(doc_id: int) -> tuple[int, int]:
    """Deterministic per-doc image dims (2..9 x 2..7) — small enough
    that the whole synthetic raster stays a few hundred bytes, large
    enough that every header/raster offset is exercised."""
    return (doc_id % 8) + 2, (doc_id % 6) + 2


def _ppm_pixel(doc_id: int, x: int, y: int) -> tuple[int, int, int]:
    """Closed-form RGB generator — pure modular arithmetic, so a SQL
    oracle can recompute every channel sum without ever seeing bytes."""
    return (
        (doc_id + 7 * x + 13 * y) % 256,
        (3 * doc_id + 5 * x + y) % 256,
        (doc_id + x * y) % 256,
    )


def synthesize_ppm(docs: DataFrame) -> DataFrame:
    """One REAL binary P6 PPM payload per document, generated from the
    closed-form pixel function: 'P6\\n{w} {h}\\n255\\n' + raw RGB raster.
    Arrow-batched; the raster is bounded (<= 9x7 pixels) by design."""

    def encode(d: int) -> bytes:
        w, h = _ppm_dims(d)
        buf = bytearray(f"P6\n{w} {h}\n255\n".encode("ascii"))
        for y in range(h):
            for x in range(w):
                buf.extend(_ppm_pixel(d, x, y))
        return buf

    return _synthesize(docs, PPM_MIME, encode)


PPM_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def q_multimodal_ppm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL decode proof: synthesize an actual P6 byte
    stream per document, then decode it back with the pure-bytes parser
    and emit integer-exact per-channel sums. The oracle recomputes the
    same stats closed-form from the generator — so the hash check
    covers the full encode->Arrow->decode path (header parse, raster
    offset, channel interleave), not a stub."""
    media = synthesize_ppm(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: decode_ppm(p), PPM_STATS_SCHEMA)


PPM_RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("src_width", IntegerType()),
        StructField("src_height", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def q_multimodal_ppm_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize end-to-end: synthesize P6 bytes, decode, and
    nearest-neighbor resize each raster to PPM_RESIZE_W x PPM_RESIZE_H
    inside ``mapInPandas``, emitting per-channel sums of the resized
    image. The oracle recomputes the same sums closed-form (target
    pixel (x', y') -> generator(doc_id, x'*w // W', y'*h // H')), so
    the NN coordinate mapping and raster stride are hash-checked."""
    media = synthesize_ppm(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: resize_ppm_nn(p), PPM_RESIZE_SCHEMA)


QUERIES = {
    "multimodal_bytes": q_multimodal_bytes,
    "multimodal_frames": q_multimodal_frames,
    "multimodal_frame_dedup": q_multimodal_frame_dedup,
    "multimodal_ppm_stats": q_multimodal_ppm_stats,
    "multimodal_ppm_resize": q_multimodal_ppm_resize,
}

ORACLE = {
    # NN-resize twin: target pixel (x2, y2) samples the generator at
    # (x2*w // W', y2*h // H') — recovered by Spark from decoded bytes.
    "multimodal_ppm_resize": f"""
        WITH grid AS (
            SELECT doc_id,
                   (doc_id % 8) + 2 AS w,
                   (doc_id % 6) + 2 AS h
            FROM documents
        ),
        xs AS (
            SELECT doc_id, w, h,
                   unnest(generate_series(0, {PPM_RESIZE_W - 1})) AS x2
            FROM grid
        ),
        pix AS (
            SELECT doc_id, w, h, x2,
                   unnest(generate_series(0, {PPM_RESIZE_H - 1})) AS y2
            FROM xs
        ),
        src AS (
            SELECT doc_id, w, h,
                   (x2 * w) // {PPM_RESIZE_W} AS sx,
                   (y2 * h) // {PPM_RESIZE_H} AS sy
            FROM pix
        )
        SELECT doc_id,
               CAST(any_value(w) AS INTEGER) AS src_width,
               CAST(any_value(h) AS INTEGER) AS src_height,
               CAST(sum((doc_id + 7 * sx + 13 * sy) % 256) AS BIGINT) AS sum_r,
               CAST(sum((3 * doc_id + 5 * sx + sy) % 256) AS BIGINT) AS sum_g,
               CAST(sum((doc_id + sx * sy) % 256) AS BIGINT) AS sum_b
        FROM src
        GROUP BY doc_id
    """,
    # closed-form twin of the generator: the Spark side must recover
    # these exact sums by DECODING the bytes it synthesized.
    "multimodal_ppm_stats": """
        WITH grid AS (
            SELECT doc_id,
                   (doc_id % 8) + 2 AS w,
                   (doc_id % 6) + 2 AS h
            FROM documents
        ),
        xs AS (
            SELECT doc_id, w, h,
                   unnest(generate_series(0, w - 1)) AS x
            FROM grid
        ),
        pix AS (
            SELECT doc_id, w, h, x,
                   unnest(generate_series(0, h - 1)) AS y
            FROM xs
        )
        SELECT doc_id,
               CAST(any_value(w) AS INTEGER) AS width,
               CAST(any_value(h) AS INTEGER) AS height,
               count(*) AS n_pixels,
               CAST(sum((doc_id + 7 * x + 13 * y) % 256) AS BIGINT) AS sum_r,
               CAST(sum((3 * doc_id + 5 * x + y) % 256) AS BIGINT) AS sum_g,
               CAST(sum((doc_id + x * y) % 256) AS BIGINT) AS sum_b
        FROM pix
        GROUP BY doc_id
    """,
    "multimodal_bytes": """
        SELECT doc_id,
               'text/plain' AS mime_type,
               octet_length(encode(text)) AS n_bytes,
               md5(text) AS payload_md5,
               (octet_length(encode(text)) % 64) + 1 AS synth_width,
               (octet_length(encode(text)) % 48) + 1 AS synth_height
        FROM documents
    """,
    "multimodal_frame_dedup": f"""
        WITH base AS (
            SELECT doc_id, text,
                   ((greatest(octet_length(encode(text)) - 64, 1) - 1) // 256)
                       + 1 AS n_frames
            FROM documents
        ),
        frames AS (
            -- Byte-exact frame key: the Spark side hashes BYTE slices of
            -- the UTF-8 payload, so the oracle groups on the hex encoding
            -- of the same byte range (bytes 256*(i-1) .. +64 == hex chars
            -- 512*(i-1)+1 .. +128). Grouping on the hex slice is equality-
            -- equivalent to grouping on md5(bytes), and stays correct for
            -- multibyte text where character substrings would diverge.
            SELECT doc_id,
                   substring(hex(encode(text)), 512 * (i - 1) + 1, 128)
                       AS frame_hash
            FROM (
                SELECT doc_id, text,
                       unnest(generate_series(1, n_frames)) AS i
                FROM base
            )
        ),
        hash_docs AS (
            SELECT frame_hash, count(DISTINCT doc_id) AS n_docs
            FROM frames GROUP BY 1
        ),
        per_doc AS (
            SELECT f.doc_id, count(*) AS n_frames,
                   CAST(sum(CASE WHEN hd.n_docs > 1 THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_shared_frames
            FROM frames f JOIN hash_docs hd USING (frame_hash)
            GROUP BY 1
        )
        SELECT doc_id, n_frames, n_shared_frames,
               CAST(n_shared_frames AS DOUBLE) / n_frames AS shared_frac,
               (CAST(n_shared_frames AS DOUBLE) / n_frames)
                   >= {FRAME_SHARED_THRESH} AS is_near_dup
        FROM per_doc
    """,
    "multimodal_frames": """
        SELECT doc_id,
               n_frames,
               CAST(CASE WHEN n_bytes <= 64 THEN n_bytes
                         ELSE 64 * n_frames END AS BIGINT) AS total_frame_bytes,
               CAST(256 * (n_frames - 1) AS BIGINT) AS max_offset
        FROM (
            SELECT doc_id, n_bytes,
                   ((greatest(n_bytes - 64, 1) - 1) // 256) + 1 AS n_frames
            FROM (
                SELECT doc_id, octet_length(encode(text)) AS n_bytes
                FROM documents
            )
        )
    """,
}


# ---------------------------------------------------------------------------
# multimodal_phash_dedup — perceptual average-hash image dedup, integer-exact
# ---------------------------------------------------------------------------
PHASH_W = 4
PHASH_H = 3

PHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("phash", LongType()),
        StructField("gray_sum", LongType()),
    ]
)


def ahash_ppm(payload: bytes) -> dict:
    """Average-hash (aHash) over a REAL decoded raster: NN-resize the
    grayscale image to PHASH_W x PHASH_H, set bit i iff that cell's
    gray is >= the grid mean. INTEGER-exact end-to-end: gray = r+g+b
    (0..765, no luma weights to float-divide), and the mean compare is
    cross-multiplied (g*12 >= sum) so no division ever happens — a
    wrong raster offset, NN mapping, or bit order changes the hash."""
    width, height, raw = _parse_ppm(payload)
    grays: list[int] = []
    for y2 in range(PHASH_H):
        sy = (y2 * height) // PHASH_H
        for x2 in range(PHASH_W):
            sx = (x2 * width) // PHASH_W
            off = 3 * (sy * width + sx)
            grays.append(raw[off] + raw[off + 1] + raw[off + 2])
    total = sum(grays)
    n = PHASH_W * PHASH_H
    phash = 0
    for i, g in enumerate(grays):
        if g * n >= total:
            phash |= 1 << i
    return {"phash": phash, "gray_sum": total}


def phash_frame(media: DataFrame) -> DataFrame:
    """(doc_id, phash, gray_sum) via the Arrow-batched aHash decode —
    the shared front end of both perceptual-hash operators."""
    return _map_docs(media, lambda _, p: ahash_ppm(p), PHASH_SCHEMA)


def q_multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual near-duplicate IMAGE dedup by average-hash bucketing
    — the image-side twin of dedup_exact's md5 grid (aHash per
    Zauner 2010's perceptual-hash taxonomy; the blockhash idea of
    Yang, Weng & Niu 2006): decode REAL P6 bytes, aHash each raster
    (integer-exact: see ahash_ppm), and report every hash bucket
    holding >= 2 documents — the candidate near-dup groups an image
    pipeline reviews or drops.

    Scale shape: the only bytes-touching stage is the Arrow-batched
    mapInPandas decode (map-side, no shuffle); ONLY the 12-bit hash +
    doc id ever shuffle (the frame_dedup discipline: payloads never
    move), and the bucket census is one map-combinable aggregate.
    The oracle recomputes every hash closed-form from the pixel
    generator — header parse, raster stride, NN mapping, and bit
    packing are all hash-checked end-to-end.
    """
    hashed = phash_frame(synthesize_ppm(load_table(spark, sf_dir, "documents")))
    return (
        hashed.groupBy("phash")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("min_doc_id"),
            F.sum("gray_sum").cast("bigint").alias("bucket_gray_sum"),
        )
        .filter(F.col("n_docs") >= 2)
    )


QUERIES["multimodal_phash_dedup"] = q_multimodal_phash_dedup

# Closed-form oracle: gray(d, x2, y2) from the generator at the
# NN-sampled source pixel; bit i = (gray * 12 >= grid total).
_PH_N = PHASH_W * PHASH_H
_PH_GRAY = (
    "(((doc_id + 7 * sx + 13 * sy) % 256)"
    " + ((3 * doc_id + 5 * sx + sy) % 256)"
    " + ((doc_id + sx * sy) % 256))"
)

# Exportable hash-CTE chain (grid -> cells -> grays -> tot -> hashes):
# the closed-form DuckDB recompute of the aHash every phash oracle
# probes against. Every phash oracle (the census pair below, the
# streaming dedup sink) composes this one fragment instead of
# re-spelling the generator — the _LSH_BANDS_SQL cross-module
# pattern. ``gray_sum`` rides along for the dedup census; consumers
# that don't need it just don't select it.
_PHASH_HASHES_SQL = """grid AS (
        SELECT doc_id,
               (doc_id % 8) + 2 AS w,
               (doc_id % 6) + 2 AS h
        FROM documents
    ),
    cells AS (
        SELECT doc_id, x2, y2,
               (x2 * w) // {PHASH_W} AS sx,
               (y2 * h) // {PHASH_H} AS sy
        FROM grid,
             LATERAL (SELECT unnest(generate_series(0, {PHASH_W_1})) AS x2),
             LATERAL (SELECT unnest(generate_series(0, {PHASH_H_1})) AS y2)
    ),
    grays AS (
        SELECT doc_id, y2 * {PHASH_W} + x2 AS i, {PH_GRAY} AS g
        FROM cells
    ),
    tot AS (
        SELECT doc_id, CAST(sum(g) AS BIGINT) AS total
        FROM grays GROUP BY 1
    ),
    hashes AS (
        SELECT g.doc_id,
               CAST(sum(CASE WHEN g.g * {PH_N} >= t.total
                             THEN (1::BIGINT << g.i) ELSE 0 END)
                    AS BIGINT) AS phash,
               CAST(any_value(t.total) AS BIGINT) AS gray_sum
        FROM grays g JOIN tot t USING (doc_id)
        GROUP BY 1
    )""".format(
    PHASH_W=PHASH_W,
    PHASH_H=PHASH_H,
    PHASH_W_1=PHASH_W - 1,
    PHASH_H_1=PHASH_H - 1,
    PH_GRAY=_PH_GRAY,
    PH_N=_PH_N,
)

ORACLE["multimodal_phash_dedup"] = f"""
    WITH {_PHASH_HASHES_SQL}
    SELECT phash,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(min(doc_id) AS BIGINT) AS min_doc_id,
           CAST(sum(gray_sum) AS BIGINT) AS bucket_gray_sum
    FROM hashes
    GROUP BY 1
    HAVING count(*) >= 2
"""


def q_multimodal_phash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image PAIR census at Hamming distance <= 1 over
    the perceptual hashes — the multi-probe completion of
    multimodal_phash_dedup (exact-bucket groups miss a pair that
    differs in ONE borderline cell; counting every 1-bit-apart bucket
    pair catches them — the multi-probe LSH idea of Lv et al.,
    VLDB 2007).

    Spark side counts CLOSED-FORM on the bucket-size grid, never
    enumerating document pairs: one map-combinable census collapses
    the corpus to (phash, n) — at most 2^12 = 4096 rows regardless of
    corpus size — then d=0 pairs are sum C(n, 2) over the grid and
    d=1 pairs are sum over the 12 bit directions of n_a * n_b between
    buckets whose hashes differ in exactly that bit. Each unordered
    bucket pair is counted once by probing only from the side with the
    bit UNSET (the flipped partner has it set). Products run in
    DECIMAL (the bipartite_butterflies discipline, graph.py: C(w,2)
    sums wrap int64 when bucket occupancy nears ~1e9+ at web scale).
    The pair-stage input is corpus-size-INDEPENDENT: after the hash
    census, everything is arithmetic on a <= 4096-row broadcast grid.
    The ORACLE deliberately uses a DIFFERENT algorithm — the all-pairs
    bit_count(xor()) filter at document grain — so a grid-mechanics
    bug (missed bit direction, double-counted bucket pair, off-by-one
    in C(n,2)) cannot cancel out.
    """
    hashed = phash_frame(
        synthesize_ppm(load_table(spark, sf_dir, "documents"))
    ).select("phash")
    n_bits = PHASH_W * PHASH_H
    # BOTH join inputs consume the census: a shuffle-side and a
    # broadcast-side exchange cannot be unified by ReuseExchange, so a
    # lazy grid would run the corpus decode + census twice. It is
    # <= 4096 rows, so it is collected once and re-enters as a local
    # relation — nothing stays cached after the call.
    census = hashed.groupBy("phash").agg(F.count(F.lit(1)).alias("n"))
    grid = spark.createDataFrame(census.collect(), census.schema)
    # 13 probe directions per bucket: mask 0 is the identity probe
    # (d=0, within-bucket), masks 2^i the bit flips (d=1). A bit flip
    # is probed only from the bit-UNSET side — the partner has it set
    # — so each unordered bucket pair is emitted exactly once.
    bit_masks = F.array(
        F.lit(0).cast("bigint"),
        *[F.lit(1 << i).cast("bigint") for i in range(n_bits)],
    )
    probes = (
        grid.select("phash", "n", F.explode(bit_masks).alias("m"))
        .where(F.col("phash").bitwiseAND(F.col("m")) == 0)
        .select(
            F.col("phash").bitwiseXOR(F.col("m")).alias("partner"),
            F.col("n").alias("n_a"),
            F.when(F.col("m") == 0, 0).otherwise(1).alias("hamming"),
        )
    )
    n_a = F.col("n_a").cast("decimal(19,0)")
    n_b = F.col("n_b").cast("decimal(19,0)")
    return (
        probes.join(
            F.broadcast(
                grid.select(
                    F.col("phash").alias("partner"), F.col("n").alias("n_b")
                )
            ),
            "partner",
        )
        .select(
            "hamming",
            # identity probe: C(n,2) within the bucket (n*(n-1) is
            # even, so the decimal halving is exact); bit probe:
            # cross-bucket product n_a * n_b
            F.when(F.col("hamming") == 0, n_a * (n_a - F.lit(1)) / 2)
            .otherwise(n_a * n_b)
            .alias("pairs"),
        )
        .groupBy("hamming")
        .agg(
            F.sum("pairs").cast("decimal(38,0)").cast("bigint").alias("n_pairs")
        )
        .where(F.col("n_pairs") > 0)
    )


QUERIES["multimodal_phash_hamming"] = q_multimodal_phash_hamming

ORACLE["multimodal_phash_hamming"] = f"""
    WITH {_PHASH_HASHES_SQL}
    SELECT CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming,
           CAST(count(*) AS BIGINT) AS n_pairs
    FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.phash, b.phash)) <= 1
    GROUP BY 1
"""


# ---------------------------------------------------------------------------
# multimodal_bmp_stats — REAL uncompressed-BMP decode (stride/padding/
# bottom-up/BGR hazards the PPM path cannot exercise)
# ---------------------------------------------------------------------------

BMP_MIME = "image/bmp"
_BMP_HEADER_SIZE = 14 + 40  # BITMAPFILEHEADER + BITMAPINFOHEADER


def _bmp_stride(width: int) -> int:
    """24-bpp BMP rows pad to a 4-byte boundary: stride = w*3 rounded
    up. Widths 2..9 (the synthetic dim range) hit every padding class
    0..3, so a stride bug cannot hide behind a lucky width."""
    return (width * 3 + 3) // 4 * 4


def synthesize_bmp(docs: DataFrame) -> DataFrame:
    """One REAL uncompressed 24-bpp BMP payload per document from the
    shared closed-form pixel generator: BITMAPFILEHEADER ('BM', file
    size, pixel-array offset) + BITMAPINFOHEADER (positive height =
    BOTTOM-UP row order) + the padded BGR raster. Everything the PPM
    encoder has no analog for is exercised on purpose: little-endian
    multi-byte header fields, per-row 4-byte stride padding (written
    as 0xAA, NOT zero, so a decoder that sums padding bytes is caught),
    bottom-up row storage, and B-G-R channel order."""

    def encode(d: int) -> bytes:
        w, h = _ppm_dims(d)
        stride = _bmp_stride(w)
        size = _BMP_HEADER_SIZE + stride * h
        buf = bytearray()
        buf += struct.pack("<2sIHHI", b"BM", size, 0, 0, _BMP_HEADER_SIZE)
        buf += struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0
        )
        for y in range(h - 1, -1, -1):  # bottom-up
            for x in range(w):
                r, g, b = _ppm_pixel(d, x, y)
                buf += bytes((b, g, r))  # BGR
            buf += b"\xaa" * (stride - 3 * w)
        return buf

    return _synthesize(docs, BMP_MIME, encode)


def decode_bmp(payload: bytes) -> dict:
    """REAL decoder for uncompressed 24-bpp bottom-up BMP — pure-bytes
    struct arithmetic, no codec library. Reads the pixel-array offset
    from the FILE header (never assumes 54), walks rows bottom-up via
    the computed stride, strips padding, and de-interleaves BGR.
    Returns integer-exact stats plus a probe that sums alone cannot
    pin: corner_r / corner_b are the TOP-LEFT pixel after the
    bottom-up flip — per-channel sums are invariant under row
    reordering, so a missing flip only the corner's y-dependence
    catches (a B<->R swap is caught by the sums themselves: the
    generator's R and B formulas differ)."""
    payload = bytes(payload)
    if payload[:2] != b"BM" or len(payload) < _BMP_HEADER_SIZE:
        raise ValueError("not a BMP payload")
    _, file_size, _, _, px_offset = struct.unpack_from("<2sIHHI", payload, 0)
    (
        hdr_size,
        width,
        height,
        planes,
        bpp,
        compression,
    ) = struct.unpack_from("<IiiHHI", payload, 14)
    if hdr_size < 40 or planes != 1 or bpp != 24 or compression != 0:
        raise ValueError("unsupported BMP variant (need uncompressed 24-bpp)")
    if width <= 0 or height <= 0:
        # negative height (top-down) is legal BMP but out of scope here
        raise ValueError("unsupported BMP dims")
    stride = _bmp_stride(width)
    if len(payload) < px_offset + stride * height or file_size != len(payload):
        raise ValueError("truncated BMP raster")
    sum_r = sum_g = sum_b = 0
    corner_r = corner_b = None
    for y in range(height):  # image row y is stored at slot height-1-y
        base = px_offset + (height - 1 - y) * stride
        row = payload[base : base + 3 * width]
        sum_b += sum(row[0::3])
        sum_g += sum(row[1::3])
        sum_r += sum(row[2::3])
        if y == 0:
            corner_b, corner_r = row[0], row[2]
    return {
        "width": width,
        "height": height,
        "n_pixels": width * height,
        "row_stride": stride,
        "pad_bytes": stride - 3 * width,
        "n_bytes": len(payload),
        "sum_r": sum_r,
        "sum_g": sum_g,
        "sum_b": sum_b,
        "corner_r": corner_r,
        "corner_b": corner_b,
    }


BMP_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("row_stride", IntegerType()),
        StructField("pad_bytes", IntegerType()),
        StructField("n_bytes", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("corner_r", IntegerType()),
        StructField("corner_b", IntegerType()),
    ]
)


def q_multimodal_bmp_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL uncompressed-BMP decode proof — the second
    pure-bytes codec beside PPM (multimodal_ppm_stats), covering the
    hazard class PPM structurally cannot: little-endian header fields,
    4-byte row-stride padding (non-zero pad bytes that must NOT reach
    the sums), bottom-up row order (pinned by the top-left corner
    probe — channel sums are row-order invariant), and BGR channel
    order (pinned by the distinct per-channel sum formulas of the
    generator). The oracle recomputes every output
    closed-form from the shared pixel generator + stride arithmetic,
    so encode->Arrow->decode round-trips hash-exact."""
    media = synthesize_bmp(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: decode_bmp(p), BMP_STATS_SCHEMA)


QUERIES["multimodal_bmp_stats"] = q_multimodal_bmp_stats

ORACLE["multimodal_bmp_stats"] = """
    WITH grid AS (
        SELECT doc_id,
               (doc_id % 8) + 2 AS w,
               (doc_id % 6) + 2 AS h
        FROM documents
    ),
    xs AS (
        SELECT doc_id, w, h,
               unnest(generate_series(0, w - 1)) AS x
        FROM grid
    ),
    pix AS (
        SELECT doc_id, w, h, x,
               unnest(generate_series(0, h - 1)) AS y
        FROM xs
    )
    SELECT doc_id,
           CAST(any_value(w) AS INTEGER) AS width,
           CAST(any_value(h) AS INTEGER) AS height,
           count(*) AS n_pixels,
           CAST(any_value((w * 3 + 3) // 4 * 4) AS INTEGER) AS row_stride,
           CAST(any_value((w * 3 + 3) // 4 * 4 - 3 * w) AS INTEGER)
               AS pad_bytes,
           CAST(any_value(54 + ((w * 3 + 3) // 4 * 4) * h) AS BIGINT)
               AS n_bytes,
           CAST(sum((doc_id + 7 * x + 13 * y) % 256) AS BIGINT) AS sum_r,
           CAST(sum((3 * doc_id + 5 * x + y) % 256) AS BIGINT) AS sum_g,
           CAST(sum((doc_id + x * y) % 256) AS BIGINT) AS sum_b,
           CAST(any_value(doc_id % 256) AS INTEGER) AS corner_r,
           CAST(any_value(doc_id % 256) AS INTEGER) AS corner_b
    FROM pix
    GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# multimodal_wav_stats — REAL RIFF/WAVE PCM decode (chunk walking,
# odd-chunk even-padding, little-endian signed 16-bit samples): the
# AUDIO member of the pure-bytes codec family (PPM, BMP)
# ---------------------------------------------------------------------------

WAV_MIME = "audio/wav"


def _wav_params(doc_id: int) -> tuple[int, int, int]:
    """(sample_rate, n_samples, junk_len) for the synthetic clip —
    closed-form in doc_id so the oracle can recompute byte counts.
    junk_len cycles 3..6: ODD sizes force the RIFF even-padding rule
    (a chunk walker that forgets the pad byte desyncs and fails to
    find 'data' for half the corpus — a loud, not silent, bug)."""
    return (
        8000 + (doc_id % 4) * 2000,
        64 + (doc_id % 97),
        3 + (doc_id % 4),
    )


def _wav_sample(doc_id: int, i: int) -> int:
    """Signed 16-bit PCM sample in [-2000, 2000]: every term of the
    residue is non-negative, so Python's, NumPy's, and SQL's % agree."""
    return (doc_id * 31 + i * 17 + (i * i) % 101) % 4001 - 2000


def synthesize_wav(docs: DataFrame) -> DataFrame:
    """One REAL RIFF/WAVE payload per document: 'RIFF' size 'WAVE',
    an 'fmt ' chunk (PCM, mono, 16-bit), a deliberate JUNK chunk of
    odd-or-even length (0xEE filler that must never reach the stats;
    odd lengths carry the mandatory even-alignment pad byte), then the
    'data' chunk of little-endian signed 16-bit samples from the
    closed-form generator. Exercises what the image codecs cannot:
    variable-position chunks (data's offset depends on junk_len, so a
    fixed-offset "decoder" dies immediately), the RIFF padding rule,
    and signed little-endian samples."""

    def encode(d: int) -> bytes:
        rate, n, junk = _wav_params(d)
        body = bytearray(b"WAVE")
        body += struct.pack(
            "<4sIHHIIHH", b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16
        )
        body += struct.pack("<4sI", b"JUNK", junk)
        body += b"\xee" * junk + b"\x00" * (junk % 2)
        body += struct.pack("<4sI", b"data", 2 * n)
        for i in range(n):
            body += struct.pack("<h", _wav_sample(d, i))
        return struct.pack("<4sI", b"RIFF", len(body)) + bytes(body)

    return _synthesize(docs, WAV_MIME, encode)


def parse_wav(payload: bytes) -> tuple[int, "object"]:
    """REAL parser for PCM RIFF/WAVE — pure struct + NumPy, no codec
    library. Walks the chunk list (never assumes offsets), honors the
    even-alignment pad on odd chunks, validates the RIFF size field,
    parses 'fmt ' (requires PCM mono 16-bit), and reads 'data' as
    little-endian int16. Returns (sample_rate, int64 sample array) —
    the shared front end of the clip-grain stats and the frame-grain
    feature extractor."""
    payload = bytes(payload)
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    (riff_size,) = struct.unpack_from("<I", payload, 4)
    if riff_size != len(payload) - 8:
        raise ValueError("RIFF size mismatch")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(payload):
        cid, csize = struct.unpack_from("<4sI", payload, pos)
        body = payload[pos + 8 : pos + 8 + csize]
        if len(body) != csize:
            raise ValueError("truncated chunk")
        if cid == b"fmt ":
            if len(body) < 16:
                raise ValueError("truncated fmt chunk")
            fmt, ch, rate, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
            if fmt != 1 or ch != 1 or bits != 16:
                raise ValueError("unsupported WAV variant (need PCM mono 16)")
        elif cid == b"data":
            samples = np.frombuffer(body, dtype="<i2").astype(np.int64)
        pos += 8 + csize + (csize % 2)  # RIFF: odd chunks pad to even
    if rate is None or samples is None:
        raise ValueError("missing fmt or data chunk")
    return int(rate), samples


def _pcm_stats(samples) -> dict:
    """Integer-exact energy stats of an int64 sample array: sum |s|,
    peak |s| (0 when empty), sum s^2, and zero_crossings — strict
    sign-class changes (negative vs non-negative) between consecutive
    samples, the standard ZCR numerator. Shared by the clip, frame and
    resampled stats."""
    neg = samples < 0
    return {
        "sum_abs": int(np.abs(samples).sum()),
        "peak": int(np.abs(samples).max()) if samples.size else 0,
        "sum_sq": int((samples * samples).sum()),
        "zero_crossings": int((neg[:-1] != neg[1:]).sum()),
    }


def decode_wav(payload: bytes) -> dict:
    """Clip-grain stats over ``parse_wav`` (``_pcm_stats``)."""
    payload = bytes(payload)
    rate, samples = parse_wav(payload)
    return {
        "sample_rate": int(rate),
        "n_samples": int(samples.size),
        **_pcm_stats(samples),
        "n_bytes": len(payload),
    }


WAV_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("sum_abs", LongType()),
        StructField("peak", IntegerType()),
        StructField("sum_sq", LongType()),
        StructField("zero_crossings", LongType()),
        StructField("n_bytes", LongType()),
    ]
)


def q_multimodal_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL audio decode proof — the third pure-bytes codec
    beside PPM and BMP, and the first AUDIO one: RIFF chunk walking
    with variable chunk positions, the odd-chunk even-padding rule, a
    junk chunk whose 0xEE filler must never reach the stats, and
    little-endian SIGNED 16-bit samples (an unsigned or byte-swapped
    read wrecks sum_abs/peak/zero_crossings loudly). The oracle
    recomputes every output closed-form from the shared sample
    generator + container arithmetic (header sizes, junk padding), so
    the encode->Arrow->decode round-trip is hash-exact end to end."""
    media = synthesize_wav(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: decode_wav(p), WAV_STATS_SCHEMA)


QUERIES["multimodal_wav_stats"] = q_multimodal_wav_stats

ORACLE["multimodal_wav_stats"] = """
    WITH params AS (
        SELECT doc_id,
               8000 + (doc_id % 4) * 2000 AS rate,
               64 + (doc_id % 97) AS n,
               3 + (doc_id % 4) AS junk
        FROM documents
    ),
    idx AS (
        SELECT doc_id, rate, n, junk,
               unnest(generate_series(0, n - 1)) AS i
        FROM params
    ),
    samples AS (
        SELECT doc_id, rate, n, junk, i,
               (doc_id * 31 + i * 17 + (i * i) % 101) % 4001 - 2000 AS s
        FROM idx
    ),
    lagged AS (
        SELECT doc_id, rate, n, junk, s,
               lag(s) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        FROM samples
    )
    SELECT doc_id,
           CAST(any_value(rate) AS INTEGER) AS sample_rate,
           CAST(any_value(n) AS INTEGER) AS n_samples,
           CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
           CAST(max(abs(s)) AS INTEGER) AS peak,
           CAST(sum(s * s) AS BIGINT) AS sum_sq,
           CAST(sum(CASE WHEN prev IS NOT NULL
                          AND (prev < 0) <> (s < 0) THEN 1 ELSE 0 END)
                AS BIGINT) AS zero_crossings,
           CAST(any_value(12 + 24 + 8 + junk + (junk % 2) + 8 + 2 * n)
                AS BIGINT) AS n_bytes
    FROM lagged
    GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# multimodal_wav_frames — frame-grain audio feature extraction over the
# real decode path (the VAD / energy-gating primitive: per-frame energy,
# peak, zero-crossing rate, low-energy flag)
# ---------------------------------------------------------------------------

WAV_FRAME = 32  # samples per analysis frame (last frame may be partial)
# Low-energy gate on the frame's MEAN |sample|, decided by integer
# cross-multiplication (sum_abs < thresh * n) so no float ratio exists
# anywhere. The synthetic samples are ~uniform over [-2000, 2000]
# (mean |s| ~= 1000), so the gate splits frames into a genuinely mixed
# 0/1 population instead of a dead constant.
WAV_FRAME_LOW_MEAN_ABS = 1000

WAV_FRAMES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("n_in_frame", IntegerType()),
        StructField("sum_abs", LongType()),
        StructField("peak", IntegerType()),
        StructField("sum_sq", LongType()),
        StructField("zero_crossings", LongType()),
        StructField("low_energy", IntegerType()),
    ]
)


def _wav_frames(payload: bytes) -> list[dict]:
    """One row per WAV_FRAME-sample analysis frame of the decoded clip
    (last frame partial): ``_pcm_stats`` plus the integer-only
    low-energy gate."""
    _rate, samples = parse_wav(payload)
    rows = []
    for f0 in range(0, int(samples.size), WAV_FRAME):
        fr = samples[f0 : f0 + WAV_FRAME]
        st = _pcm_stats(fr)
        low = st["sum_abs"] < WAV_FRAME_LOW_MEAN_ABS * fr.size
        rows.append(
            {
                "frame_idx": f0 // WAV_FRAME,
                "n_in_frame": int(fr.size),
                **st,
                "low_energy": int(low),
            }
        )
    return rows


def q_multimodal_wav_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-grain audio feature extraction — the audio analog of the
    video frame sampler: each decoded clip is chopped into fixed
    WAV_FRAME-sample analysis frames (last frame partial) and each
    frame emits the features an audio-curation pipeline gates on:
    energy (sum |s|, sum s^2), peak, within-frame zero-crossing count
    (the classic voiced/unvoiced discriminator numerator), and a
    low-energy flag for silence trimming — decided integer-only by
    cross-multiplication against the mean-|s| threshold.

    The REAL ``parse_wav`` chunk walk runs per clip inside the
    executor; the (doc, frame)-grain output is a bounded ~2-6x row
    expansion. The oracle recomputes every
    frame closed-form from the shared sample generator with the frame
    key i // WAV_FRAME and a within-frame lag window."""
    media = synthesize_wav(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: _wav_frames(p), WAV_FRAMES_SCHEMA)


QUERIES["multimodal_wav_frames"] = q_multimodal_wav_frames

ORACLE["multimodal_wav_frames"] = f"""
    WITH params AS (
        SELECT doc_id,
               64 + (doc_id % 97) AS n
        FROM documents
    ),
    idx AS (
        SELECT doc_id,
               unnest(generate_series(0, n - 1)) AS i
        FROM params
    ),
    samples AS (
        SELECT doc_id, i, i // {WAV_FRAME} AS frame_idx,
               (doc_id * 31 + i * 17 + (i * i) % 101) % 4001 - 2000 AS s
        FROM idx
    ),
    lagged AS (
        SELECT doc_id, frame_idx, s,
               lag(s) OVER (PARTITION BY doc_id, frame_idx ORDER BY i)
                   AS prev
        FROM samples
    )
    SELECT doc_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(count(*) AS INTEGER) AS n_in_frame,
           CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
           CAST(max(abs(s)) AS INTEGER) AS peak,
           CAST(sum(s * s) AS BIGINT) AS sum_sq,
           CAST(sum(CASE WHEN prev IS NOT NULL
                          AND (prev < 0) <> (s < 0) THEN 1 ELSE 0 END)
                AS BIGINT) AS zero_crossings,
           CAST(CASE WHEN sum(abs(s)) < {WAV_FRAME_LOW_MEAN_ABS} * count(*)
                     THEN 1 ELSE 0 END AS INTEGER) AS low_energy
    FROM lagged
    GROUP BY doc_id, frame_idx
"""


# ---------------------------------------------------------------------------
# multimodal_wav_resample — integer decimation (downsampling) over the
# real WAV decode path: box anti-alias average + pick-every-Mth
# ---------------------------------------------------------------------------

WAV_RESAMPLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("factor", IntegerType()),
        StructField("sample_rate_out", IntegerType()),
        StructField("n_in", IntegerType()),
        StructField("n_out", IntegerType()),
        StructField("sum_abs", LongType()),
        StructField("peak", IntegerType()),
        StructField("sum_sq", LongType()),
        StructField("zero_crossings", LongType()),
    ]
)


def decimate_samples(samples, factor: int):
    """Integer decimation by ``factor``: each output sample is the
    floor-average of its length-``factor`` input block (the trailing
    partial block averages over what remains) — a box anti-alias
    filter + take-every-Mth in one step, integer-exact so the result
    is reproducible closed-form in SQL. Floor (toward -inf, matching
    SQL floor(sum/cnt)), NOT C-style truncation: the samples are
    signed."""
    s = samples.astype(np.int64)
    n = int(s.size)
    if n == 0:
        return s
    bounds = np.arange(0, n, factor)
    sums = np.add.reduceat(s, bounds)
    counts = np.minimum(bounds + factor, n) - bounds
    return np.floor_divide(sums, counts)


def _wav_resample(doc_id: int, payload: bytes) -> dict:
    """Decimate the decoded clip by M = 2 + doc_id % 4
    (``decimate_samples``) and take ``_pcm_stats`` of the result."""
    factor = 2 + doc_id % 4
    rate, samples = parse_wav(payload)
    out = decimate_samples(samples, factor)
    return {
        "factor": factor,
        "sample_rate_out": rate // factor,
        "n_in": int(samples.size),
        "n_out": int(out.size),
        **_pcm_stats(out),
    }


def q_multimodal_wav_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio RESAMPLING (decimation) over the real decode path — the
    sample-rate-normalization step an audio-curation pipeline runs
    before feature extraction or model ingest (clips arrive at mixed
    rates; models want one): decode each clip (``parse_wav``),
    decimate by a per-doc factor M = 2 + doc_id % 4 with an integer
    box anti-alias average (``decimate_samples``), and emit clip-grain
    stats of the RESAMPLED signal (sum|s|, peak, sum s², sign-class
    zero crossings — the same integer-exact family as
    ``multimodal_wav_stats``, so a wrong block boundary, a
    truncating-instead-of-flooring average, or an off-by-one tail
    block hash-fails). sample_rate_out = rate // M.

    Output is one narrow row per clip. The oracle reproduces the decimation
    closed-form from the shared sample generator (block key i // M,
    floor-averaged per block, lag window for crossings) — a DIFFERENT
    formulation (SQL grouping) of the same arithmetic, the
    wav-family discipline.

    Reference parity: extends the multimodal ingestion family the
    reference's warehouse lacks entirely (SURVEY §2 additions).
    """
    media = synthesize_wav(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, _wav_resample, WAV_RESAMPLE_SCHEMA)


QUERIES["multimodal_wav_resample"] = q_multimodal_wav_resample

ORACLE["multimodal_wav_resample"] = """
    WITH params AS (
        SELECT doc_id,
               8000 + (doc_id % 4) * 2000 AS rate,
               64 + (doc_id % 97) AS n,
               2 + (doc_id % 4) AS m
        FROM documents
    ),
    idx AS (
        SELECT doc_id, rate, n, m,
               unnest(generate_series(0, n - 1)) AS i
        FROM params
    ),
    samples AS (
        SELECT doc_id, rate, n, m, i,
               (doc_id * 31 + i * 17 + (i * i) % 101) % 4001 - 2000 AS s
        FROM idx
    ),
    blocks AS (
        SELECT doc_id, rate, n, m, i // m AS b,
               CAST(floor(CAST(sum(s) AS DOUBLE) / count(*)) AS BIGINT)
                   AS o
        FROM samples
        GROUP BY doc_id, rate, n, m, i // m
    ),
    lagged AS (
        SELECT doc_id, rate, n, m, o,
               lag(o) OVER (PARTITION BY doc_id ORDER BY b) AS prev
        FROM blocks
    )
    SELECT doc_id,
           CAST(any_value(m) AS INTEGER) AS factor,
           CAST(any_value(rate) // any_value(m) AS INTEGER)
               AS sample_rate_out,
           CAST(any_value(n) AS INTEGER) AS n_in,
           CAST(count(*) AS INTEGER) AS n_out,
           CAST(sum(abs(o)) AS BIGINT) AS sum_abs,
           CAST(max(abs(o)) AS INTEGER) AS peak,
           CAST(sum(o * o) AS BIGINT) AS sum_sq,
           CAST(sum(CASE WHEN prev IS NOT NULL
                          AND (prev < 0) <> (o < 0) THEN 1 ELSE 0 END)
                AS BIGINT) AS zero_crossings
    FROM lagged
    GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# multimodal_png_stats — FOURTH real pure-bytes codec, and the first
# COMPRESSED container: PNG (RFC 2083) via stdlib zlib — chunk walk with
# CRC-32 validation, IDAT inflate, and per-row unfiltering (all 5 types)
# ---------------------------------------------------------------------------

PNG_MIME = "image/png"
_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _paeth(a: int, b: int, c: int) -> int:
    """The PNG Paeth predictor with the spec's exact tie-break order —
    ONE shared copy for the generator and the decoder (they must agree
    bit-for-bit; the oracle stays an independent formulation)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def synthesize_png(docs: DataFrame) -> DataFrame:
    """One REAL PNG payload per document from the SHARED closed-form
    pixel generator (``_ppm_pixel`` — same raster as the PPM/BMP
    payloads, so the oracle's sum formulas carry over): 8-bit
    truecolor (color type 2), one IDAT holding the zlib-compressed
    filtered scanline stream. Every row is encoded with filter type
    (doc_id + y) % 5, so a decoder must implement ALL FIVE filters
    (None/Sub/Up/Average/Paeth) correctly — a lazy filter-0-only
    reader dies on the second row of almost every payload."""

    def _chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    def encode(d: int) -> bytes:
        w, h = _ppm_dims(d)
        stream = bytearray()
        prev = bytes(3 * w)
        for y in range(h):
            row = b"".join(bytes(_ppm_pixel(d, x, y)) for x in range(w))
            ft = (d + y) % 5
            stream.append(ft)
            for i, v in enumerate(row):
                a = row[i - 3] if i >= 3 else 0
                b = prev[i]
                c = prev[i - 3] if i >= 3 else 0
                if ft == 0:
                    f = v
                elif ft == 1:
                    f = (v - a) % 256
                elif ft == 2:
                    f = (v - b) % 256
                elif ft == 3:
                    f = (v - (a + b) // 2) % 256
                else:
                    f = (v - _paeth(a, b, c)) % 256
                stream.append(f)
            prev = row
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
        return (
            _PNG_SIG
            + _chunk(b"IHDR", ihdr)
            + _chunk(b"IDAT", zlib.compress(bytes(stream)))
            + _chunk(b"IEND", b"")
        )

    return _synthesize(docs, PNG_MIME, encode)


def _png_raster(payload: bytes) -> tuple[int, int, list[bytes], int]:
    """The chunk-walk + unfilter core of the PNG decoder: validates
    every CRC-32, concatenates multi-IDAT, inflates, reconstructs each
    scanline through all five filters, and returns (width, height,
    per-row RGB byte rows, filter-type bitmask) — shared by the stats
    decode (``decode_png``) and the NN resize (``resize_png_nn``), so
    the two codecs can never drift on the byte walk."""
    payload = bytes(payload)
    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos, width, height = 8, None, None
    idat = bytearray()
    saw_iend = False
    while pos + 12 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) != length or pos + 12 + length > len(payload):
            raise ValueError("truncated chunk")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise ValueError(f"CRC mismatch in {ctype!r} chunk")
        if ctype == b"IHDR":
            width, height, depth, ctype_, comp, filt, interlace = (
                struct.unpack(">IIBBBBB", data)
            )
            if (depth, ctype_, comp, filt, interlace) != (8, 2, 0, 0, 0):
                raise ValueError(
                    "unsupported PNG variant (need 8-bit truecolor, "
                    "non-interlaced)"
                )
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            saw_iend = True
            break
        pos += 12 + length
    if width is None or not idat:
        raise ValueError("missing IHDR or IDAT chunk")
    if width == 0 or height == 0:
        # a zero-dim raster passes every stream-length check with an
        # empty row list and would crash the corner/NN probes with an
        # uncontrolled IndexError — malformed input fails LOUD, the
        # codec-family contract
        raise ValueError(f"degenerate PNG dimensions {width}x{height}")
    if not saw_iend:
        # a stream cut anywhere after the last complete chunk would
        # otherwise pass — IEND is the spec's end-of-stream integrity
        # marker, so its absence IS truncation
        raise ValueError("truncated PNG: missing IEND chunk")
    stream = zlib.decompress(bytes(idat))
    rowlen = 3 * width
    if len(stream) != height * (1 + rowlen):
        raise ValueError("scanline stream length mismatch")

    rows: list[bytes] = []
    filter_mask = 0
    prev = bytes(rowlen)
    for y in range(height):
        base = y * (1 + rowlen)
        ft = stream[base]
        if ft > 4:
            raise ValueError(f"invalid filter type {ft}")
        filter_mask |= 1 << ft
        fl = stream[base + 1 : base + 1 + rowlen]
        row = bytearray(rowlen)
        for i in range(rowlen):
            a = row[i - 3] if i >= 3 else 0
            b = prev[i]
            c = prev[i - 3] if i >= 3 else 0
            if ft == 0:
                v = fl[i]
            elif ft == 1:
                v = (fl[i] + a) % 256
            elif ft == 2:
                v = (fl[i] + b) % 256
            elif ft == 3:
                v = (fl[i] + (a + b) // 2) % 256
            else:
                v = (fl[i] + _paeth(a, b, c)) % 256
            row[i] = v
        prev = bytes(row)
        rows.append(prev)
    return width, height, rows, filter_mask


def decode_png(payload: bytes) -> dict:
    """REAL decoder for 8-bit truecolor non-interlaced PNG — stdlib
    zlib only. Walks the chunk list VALIDATING every CRC-32 (a flipped
    bit anywhere raises, the PNG integrity contract), accepts multiple
    IDAT chunks (their concatenation is one zlib stream), inflates,
    and UNFILTERS each scanline (None/Sub/Up/Average/Paeth — the Paeth
    predictor per the spec's exact tie-break order; the walk lives in
    ``_png_raster``). Integer-exact stats + the filter-type bitmask
    (OR of 1 << type over rows), which pins the filter walk itself:
    the generator cycles types by row, so a decoder that misreads the
    filter byte changes the mask even if it somehow kept the sums."""
    width, height, rows, filter_mask = _png_raster(payload)
    sum_r = sum_g = sum_b = 0
    for row in rows:
        sum_r += sum(row[0::3])
        sum_g += sum(row[1::3])
        sum_b += sum(row[2::3])
    return {
        "width": width,
        "height": height,
        "n_pixels": width * height,
        "n_raw_bytes": height * (1 + 3 * width),
        "filter_mask": filter_mask,
        "sum_r": sum_r,
        "sum_g": sum_g,
        "sum_b": sum_b,
        "corner_r": rows[0][0],
        "corner_b": rows[0][2],
    }


PNG_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("n_raw_bytes", LongType()),
        StructField("filter_mask", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("corner_r", IntegerType()),
        StructField("corner_b", IntegerType()),
    ]
)


def q_multimodal_png_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL PNG decode proof — the fourth pure-bytes codec
    and the first COMPRESSED container (PPM and BMP are raw rasters;
    WAV is raw PCM): generator-side DEFLATE via stdlib zlib, decoder-
    side chunk walk with CRC-32 validation on every chunk, IDAT
    inflate, and full five-filter scanline reconstruction (the
    generator cycles the filter type per row, so Sub/Up/Average/Paeth
    are all load-bearing — not just the trivial None path). The
    compressed byte count is NOT closed-form (deflate output depends
    on the compressor), so the oracle pins the RAW stream length
    (h·(1+3w)), the filter-type bitmask (bit_or over the known per-row
    cycle), the shared-generator channel sums, and the top-left corner
    probe.
    """
    media = synthesize_png(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: decode_png(p), PNG_STATS_SCHEMA)


QUERIES["multimodal_png_stats"] = q_multimodal_png_stats

ORACLE["multimodal_png_stats"] = """
    WITH grid AS (
        SELECT doc_id,
               (doc_id % 8) + 2 AS w,
               (doc_id % 6) + 2 AS h
        FROM documents
    ),
    rows_ AS (
        SELECT doc_id, w, h,
               unnest(generate_series(0, h - 1)) AS y
        FROM grid
    ),
    fmask AS (
        SELECT doc_id,
               CAST(bit_or(1 << CAST((doc_id + y) % 5 AS INTEGER))
                    AS INTEGER) AS filter_mask
        FROM rows_
        GROUP BY doc_id
    ),
    xs AS (
        SELECT doc_id, w, h,
               unnest(generate_series(0, w - 1)) AS x
        FROM grid
    ),
    pix AS (
        SELECT doc_id, w, h, x,
               unnest(generate_series(0, h - 1)) AS y
        FROM xs
    ),
    sums AS (
        SELECT doc_id,
               CAST(any_value(w) AS INTEGER) AS width,
               CAST(any_value(h) AS INTEGER) AS height,
               count(*) AS n_pixels,
               CAST(any_value(h) * (1 + 3 * any_value(w)) AS BIGINT)
                   AS n_raw_bytes,
               CAST(sum((doc_id + 7 * x + 13 * y) % 256) AS BIGINT) AS sum_r,
               CAST(sum((3 * doc_id + 5 * x + y) % 256) AS BIGINT) AS sum_g,
               CAST(sum((doc_id + x * y) % 256) AS BIGINT) AS sum_b,
               CAST((doc_id) % 256 AS INTEGER) AS corner_r,
               CAST((doc_id) % 256 AS INTEGER) AS corner_b
        FROM pix
        GROUP BY doc_id
    )
    SELECT s.doc_id, width, height, n_pixels, n_raw_bytes,
           f.filter_mask, sum_r, sum_g, sum_b, corner_r, corner_b
    FROM sums s JOIN fmask f ON s.doc_id = f.doc_id
"""


def resize_png_nn(payload: bytes) -> dict:
    """Nearest-neighbor resize on a REAL decoded PNG raster — the
    compressed-container twin of ``resize_ppm_nn``: full chunk walk,
    CRC validation, inflate, five-filter reconstruction
    (``_png_raster``), then the standard NN kernel (target (x', y')
    samples source (x'*w // W', y'*h // H')) with per-channel sums of
    the resized raster, so a wrong coordinate mapping, stride, or
    filter bug is oracle-visible."""
    width, height, rows, _ = _png_raster(payload)
    return _rgb_resize(width, height, lambda x, y: rows[y][3 * x : 3 * x + 3])


def q_multimodal_png_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize through the COMPRESSED container end-to-end:
    synthesize PNG bytes (zlib DEFLATE, per-row filter cycling),
    decode + NN-resize each raster to PPM_RESIZE_W x PPM_RESIZE_H
    inside ``mapInPandas``, and emit per-channel sums of the resized
    image. The PNG payload decodes to the SAME shared-generator raster
    as the PPM payload, so the oracle is the ppm_resize closed form
    verbatim — but the Spark side must earn it through CRC validation,
    inflate, and all five scanline filters first."""
    media = synthesize_png(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: resize_png_nn(p), PPM_RESIZE_SCHEMA)


QUERIES["multimodal_png_resize"] = q_multimodal_png_resize

# The PNG payload decodes to the same shared-generator raster as the
# PPM payload — the resize oracle is the same closed form.
ORACLE["multimodal_png_resize"] = ORACLE["multimodal_ppm_resize"]


# ---------------------------------------------------------------------------
# GIF87a: the FIFTH real pure-bytes codec and the second COMPRESSED
# container — a full variable-width LZW implementation (the GIF spec's
# Appendix-F algorithm), palette indirection through a global color
# table, and sub-block reassembly. PNG proved DEFLATE-by-library
# (stdlib zlib); GIF's LZW has no stdlib implementation, so BOTH sides
# of the compression are implemented here from the published spec.
# ---------------------------------------------------------------------------

GIF_MIME = "image/gif"
_GIF_MCS = 2  # 4-color palette -> min LZW code size 2 (spec minimum):
# tiny rasters then cross several code-width boundaries (3->4->5->6
# bits), so the variable-width machinery is load-bearing on EVERY
# payload, not just on pathological ones.
_GIF_NCOLORS = 1 << _GIF_MCS


def _gif_dims(doc_id: int) -> tuple[int, int]:
    """GIF payloads use a larger grid than the PPM/BMP/PNG rasters so
    the LZW dictionary grows through multiple code widths."""
    return (doc_id % 16) + 4, (doc_id % 12) + 4


def _gif_palette(i: int) -> tuple[int, int, int]:
    """Global-color-table entry i — closed-form so the oracle can map
    pixel indices to channel sums without decoding anything."""
    return (17 * i + 11) % 256, (29 * i + 5) % 256, (43 * i + 7) % 256


def _gif_index(doc_id: int, x: int, y: int) -> int:
    """Palette index of pixel (x, y) — the shared-generator field
    folded to the palette size."""
    return (doc_id + 7 * x + 13 * y) % _GIF_NCOLORS


def _lzw_width_state(mcs: int) -> list[int]:
    """Mutable [counter, width] for the variable-code-width walk. The
    GIF spec's width rule ("whenever the LZW code value would exceed
    the current code length, the code length is increased") must fire
    at the SAME stream position on both sides, but the encoder's
    dictionary runs one entry ahead of the decoder's mid-stream and
    re-converges at the final flush — so driving width off entry
    counts desyncs at a boundary-crossing flush (measured: the EOI
    read one bit short). The classic fix (giflib's RunningCode) drives
    width off the CODE COUNTER instead: both sides see exactly the
    same code sequence, so a counter projecting the free slot as
    clear + 2 + (codes seen since CLEAR) is symmetric by construction
    and always covers every emittable/referencable code (the counter
    is >= either side's true next slot)."""
    return [(1 << mcs) + 2, mcs + 1]


def _lzw_width_step(state: list[int], mcs: int) -> None:
    """Advance the shared width state past one (non-CLEAR, non-EOI)
    code — symmetric for encoder and decoder."""
    if state[0] < 4096:
        state[0] += 1
        if state[0] > (1 << state[1]) and state[1] < 12:
            state[1] += 1


def _lzw_encode(data: bytes, mcs: int) -> bytes:
    """GIF-flavor LZW with variable code width (``_lzw_width_state``),
    LSB-first bit packing, 12-bit dictionary cap with an explicit
    CLEAR when it fills."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = nbits = 0
    state = _lzw_width_state(mcs)

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += state[1]
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    def reset() -> tuple[dict, int]:
        return {bytes([i]): i for i in range(clear)}, eoi + 1

    table, next_code = reset()
    emit(clear)
    buf = b""
    for ch in data:
        wk = buf + bytes([ch])
        if wk in table:
            buf = wk
            continue
        emit(table[buf])
        _lzw_width_step(state, mcs)
        table[wk] = next_code
        next_code += 1
        if next_code > 4095:
            emit(clear)
            table, next_code = reset()
            state = _lzw_width_state(mcs)
        buf = bytes([ch])
    if buf:
        emit(table[buf])
        _lzw_width_step(state, mcs)
    emit(eoi)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, mcs: int, max_pixels: int) -> bytes:
    """The decode side of ``_lzw_encode`` (and of any conforming GIF
    stream): LSB-first code reader, dictionary rebuild with the KwKwK
    special case (a code referencing the slot about to be filled),
    code-counter-driven width growth (``_lzw_width_state`` — the
    symmetric rule), CLEAR resets, deferred-clear tolerance at a full
    dictionary, and a hard output bound (a corrupt stream cannot
    balloon memory past the declared raster size)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    acc = nbits = pos = 0
    state = _lzw_width_state(mcs)
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    prev: bytes | None = None
    out = bytearray()
    while True:
        while nbits < state[1]:
            if pos >= len(data):
                raise ValueError("LZW stream ended before EOI")
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << state[1]) - 1)
        acc >>= state[1]
        nbits -= state[1]
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            state = _lzw_width_state(mcs)
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        _lzw_width_step(state, mcs)
        if prev is None:
            if code >= len(table):
                raise ValueError(f"LZW code {code} before any output")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"LZW code {code} beyond dictionary")
        if prev is not None and len(table) < 4096:
            table.append(prev + entry[:1])
        out += entry
        if len(out) > max_pixels:
            raise ValueError("LZW output exceeds declared raster size")
        prev = entry


def synthesize_gif(docs: DataFrame) -> DataFrame:
    """One REAL GIF87a payload per document: header + logical screen
    descriptor, 4-color global color table (``_gif_palette``), image
    descriptor, and the pixel indices (``_gif_index`` over the shared
    generator field) REALLY LZW-compressed (``_lzw_encode``) into
    255-byte sub-blocks, closed with the block terminator and
    trailer."""

    def encode(d: int) -> bytes:
        w, h = _gif_dims(d)
        indices = bytes(
            _gif_index(d, x, y) for y in range(h) for x in range(w)
        )
        gct = b"".join(bytes(_gif_palette(i)) for i in range(_GIF_NCOLORS))
        lzw = _lzw_encode(indices, _GIF_MCS)
        blocks = bytearray()
        for i in range(0, len(lzw), 255):
            chunk = lzw[i : i + 255]
            blocks.append(len(chunk))
            blocks += chunk
        blocks.append(0)  # block terminator
        return (
            b"GIF87a"
            + struct.pack("<HH", w, h)
            # GCT present, 1-bit color resolution field, size
            # 2^(n+1) = 4 entries -> packed 0x81
            + bytes([0x80 | ((_GIF_MCS - 1) & 0x07), 0, 0])
            + gct
            + b"\x2c"
            + struct.pack("<HHHH", 0, 0, w, h)
            + b"\x00"  # no local color table, not interlaced
            + bytes([_GIF_MCS])
            + bytes(blocks)
            + b"\x3b"  # trailer
        )

    return _synthesize(docs, GIF_MIME, encode)


def _gif_raster(payload: bytes) -> tuple[int, int, bytes, list]:
    """The container-walk + LZW core of the GIF decoder: validates the
    signature, reads the logical screen descriptor and global color
    table, skips 89a extension blocks, reassembles the image
    sub-blocks, LZW-decodes, verifies the decoded index count against
    the image descriptor dims, and requires the 0x3B trailer (the
    IEND discipline from the PNG decoder). Returns (width, height,
    palette indices, palette) — shared by the stats decode
    (``decode_gif``) and the NN resize (``resize_gif_nn``), so the two
    can never drift on the byte walk (the ``_png_raster``
    discipline)."""
    payload = bytes(payload)
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw, sh, packed, _bg, _aspect = struct.unpack_from("<HHBBB", payload, 6)
    pos = 13
    if not packed & 0x80:
        raise ValueError("missing global color table")
    n_colors = 2 << (packed & 0x07)
    palette = [
        tuple(payload[pos + 3 * i : pos + 3 * i + 3])
        for i in range(n_colors)
    ]
    pos += 3 * n_colors
    width = height = None
    indices = None
    saw_trailer = False
    while pos < len(payload):
        b0 = payload[pos]
        if b0 == 0x3B:  # trailer
            saw_trailer = True
            break
        if b0 == 0x21:  # 89a extension: label + sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if b0 != 0x2C:
            raise ValueError(f"unexpected block 0x{b0:02x}")
        _x, _y, width, height, flags = struct.unpack_from(
            "<HHHHB", payload, pos + 1
        )
        if flags & 0xC0:
            raise ValueError(
                "unsupported GIF variant (need non-interlaced, "
                "global color table)"
            )
        pos += 10
        mcs = payload[pos]
        pos += 1
        lzw = bytearray()
        while payload[pos] != 0:
            n = payload[pos]
            lzw += payload[pos + 1 : pos + 1 + n]
            pos += 1 + n
        pos += 1
        indices = _lzw_decode(bytes(lzw), mcs, width * height)
        if len(indices) != width * height:
            raise ValueError(
                f"decoded {len(indices)} indices for a "
                f"{width}x{height} raster"
            )
    if indices is None:
        raise ValueError("missing image descriptor")
    if not saw_trailer:
        raise ValueError("truncated GIF: missing trailer")
    if width == 0 or height == 0:
        raise ValueError(f"degenerate GIF dimensions {width}x{height}")
    return width, height, indices, palette


def decode_gif(payload: bytes) -> dict:
    """REAL GIF87a/89a decode (container walk + variable-width LZW in
    ``_gif_raster``) to integer-exact through-the-palette channel sums
    plus the raster dims, palette size, and top-left palette index."""
    width, height, indices, palette = _gif_raster(payload)
    sum_r = sum_g = sum_b = 0
    for i in indices:
        r, g, b = palette[i]
        sum_r += r
        sum_g += g
        sum_b += b
    return {
        "width": width,
        "height": height,
        "n_pixels": width * height,
        "n_colors": len(palette),
        "sum_r": sum_r,
        "sum_g": sum_g,
        "sum_b": sum_b,
        "corner_idx": indices[0],
    }


GIF_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("n_colors", IntegerType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("corner_idx", IntegerType()),
    ]
)


def q_multimodal_gif_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL GIF decode proof — the fifth pure-bytes codec:
    generator-side REAL LZW compression (no stdlib shortcut exists for
    LZW), decoder-side sub-block reassembly + variable-width LZW
    dictionary rebuild + palette mapping. The compressed byte count is
    encoder-dependent (deferred clears are legal), so the oracle pins
    the raster dims, the palette size, the through-the-palette channel
    sums (closed form over the shared generator folded to the 4-color
    table), and the top-left palette index."""
    media = synthesize_gif(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: decode_gif(p), GIF_STATS_SCHEMA)


QUERIES["multimodal_gif_stats"] = q_multimodal_gif_stats

ORACLE["multimodal_gif_stats"] = f"""
    WITH grid AS (
        SELECT doc_id,
               (doc_id % 16) + 4 AS w,
               (doc_id % 12) + 4 AS h
        FROM documents
    ),
    xs AS (
        SELECT doc_id, w, h,
               unnest(generate_series(0, w - 1)) AS x
        FROM grid
    ),
    pix AS (
        SELECT doc_id, w, h, x,
               unnest(generate_series(0, h - 1)) AS y
        FROM xs
    ),
    idx AS (
        SELECT doc_id, w, h,
               (doc_id + 7 * x + 13 * y) % {_GIF_NCOLORS} AS i
        FROM pix
    )
    SELECT doc_id,
           CAST(any_value(w) AS INTEGER) AS width,
           CAST(any_value(h) AS INTEGER) AS height,
           count(*) AS n_pixels,
           CAST({_GIF_NCOLORS} AS INTEGER) AS n_colors,
           CAST(sum((17 * i + 11) % 256) AS BIGINT) AS sum_r,
           CAST(sum((29 * i + 5) % 256) AS BIGINT) AS sum_g,
           CAST(sum((43 * i + 7) % 256) AS BIGINT) AS sum_b,
           CAST(doc_id % {_GIF_NCOLORS} AS INTEGER) AS corner_idx
    FROM idx
    GROUP BY doc_id
"""



def resize_gif_nn(payload: bytes) -> dict:
    """Nearest-neighbor resize on a REAL decoded GIF raster: the full
    container walk + variable-width LZW decode (``_gif_raster``), the
    standard NN kernel on the palette-index grid, and per-channel sums
    of the resized raster through the palette — the LZW-container twin
    of ``resize_png_nn``."""
    width, height, indices, palette = _gif_raster(payload)
    return _rgb_resize(
        width, height, lambda x, y: palette[indices[y * width + x]]
    )


def q_multimodal_gif_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize through the LZW container end-to-end: synthesize
    GIF87a bytes, decode + NN-resize each palette raster to
    PPM_RESIZE_W x PPM_RESIZE_H inside ``mapInPandas``, and emit
    per-channel sums of the resized image through the palette. The
    oracle recomputes the sums closed-form: target pixel (x', y') ->
    palette[generator index at (x'*w // W', y'*h // H')] — earned
    through sub-block reassembly and the variable-width LZW rebuild."""
    media = synthesize_gif(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: resize_gif_nn(p), PPM_RESIZE_SCHEMA)


QUERIES["multimodal_gif_resize"] = q_multimodal_gif_resize

ORACLE["multimodal_gif_resize"] = f"""
    WITH grid AS (
        SELECT doc_id,
               (doc_id % 16) + 4 AS w,
               (doc_id % 12) + 4 AS h
        FROM documents
    ),
    xs AS (
        SELECT doc_id, w, h,
               unnest(generate_series(0, {PPM_RESIZE_W - 1})) AS x2
        FROM grid
    ),
    pix AS (
        SELECT doc_id, w, h, x2,
               unnest(generate_series(0, {PPM_RESIZE_H - 1})) AS y2
        FROM xs
    ),
    idx AS (
        SELECT doc_id, w, h,
               (doc_id + 7 * ((x2 * w) // {PPM_RESIZE_W})
                + 13 * ((y2 * h) // {PPM_RESIZE_H})) % {_GIF_NCOLORS} AS i
        FROM pix
    )
    SELECT doc_id,
           CAST(any_value(w) AS INTEGER) AS src_width,
           CAST(any_value(h) AS INTEGER) AS src_height,
           CAST(sum((17 * i + 11) % 256) AS BIGINT) AS sum_r,
           CAST(sum((29 * i + 5) % 256) AS BIGINT) AS sum_g,
           CAST(sum((43 * i + 7) % 256) AS BIGINT) AS sum_b
    FROM idx
    GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# TGA (Truevision TARGA, 1989 spec): the SIXTH real pure-bytes codec —
# run-length packet compression (the RLE family's simplest published
# form), a PER-IMAGE origin toggle (descriptor bit 5: bottom-up is the
# default but either order is legal, so the decoder must consult the
# bit, not assume), a variable-length image-ID field that shifts the
# raster offset per payload, and footer-validated truncation detection:
# the hazard class none of PPM/BMP/WAV/PNG/GIF covers.
# ---------------------------------------------------------------------------

TGA_MIME = "image/x-tga"
_TGA_HEADER = 18
_TGA_FOOTER = b"\x00" * 8 + b"TRUEVISION-XFILE.\x00"  # v2.0 file footer


def _tga_id_len(doc_id: int) -> int:
    """Image-ID length 0..3: three quarters of the corpus has a
    nonzero ID, so a decoder that starts the raster at the fixed
    18-byte header (ignoring byte 0) breaks on most payloads."""
    return doc_id % 4


def _tga_topdown(doc_id: int) -> bool:
    """Half the corpus stores rows top-down (descriptor bit 5 set),
    half bottom-up — per-image, so the origin handling is load-bearing
    on every batch (channel sums are row-order invariant; the
    top-left corner probe is what catches a wrong flip)."""
    return doc_id % 2 == 1


def _tga_pixel(doc_id: int, x: int, y: int) -> tuple[int, int, int]:
    """TGA rasters reuse the shared pixel generator QUANTIZED two-wide
    (x // 2): adjacent pixel pairs are equal, so genuine RLE run
    packets appear on every row (and every odd-width row ends in a
    singleton that forces a raw packet) — both packet types are
    load-bearing on the real corpus, not only in crafted tests.
    Adjacent pairs can never merge further (the R channel steps by 7
    mod 256 per source column), so the greedy encoder's packet count
    is closed-form: w//2 run + w%2 raw packets per row."""
    return _ppm_pixel(doc_id, x // 2, y)


def _tga_rle_row(row: list[bytes]) -> tuple[bytes, int, int]:
    """Greedy TGA RLE for one scan line (the spec forbids packets
    crossing scan lines): maximal runs >= 2 become run packets
    (header 0x80 | count-1 + ONE pixel), everything else accumulates
    into raw packets (header count-1 + count pixels), both capped at
    128 pixels. Returns (encoded bytes, n_run_packets, n_raw_packets).
    """
    out = bytearray()
    n_run = n_raw = 0
    i = 0
    while i < len(row):
        run = 1
        while (
            i + run < len(row) and row[i + run] == row[i] and run < 128
        ):
            run += 1
        if run >= 2:
            out.append(0x80 | (run - 1))
            out += row[i]
            n_run += 1
            i += run
            continue
        j = i + 1  # raw: extend until the next run of >= 2 or the cap
        while (
            j < len(row)
            and j - i < 128
            and not (j + 1 < len(row) and row[j + 1] == row[j])
        ):
            j += 1
        out.append((j - i) - 1)
        for k in range(i, j):
            out += row[k]
        n_raw += 1
        i = j
    return bytes(out), n_run, n_raw


def synthesize_tga(docs: DataFrame) -> DataFrame:
    """One REAL RLE-compressed 24-bpp TGA (image type 10) per document
    from the quantized shared generator: 18-byte header (little-endian
    dims, descriptor bit 5 = per-doc origin), a 0x77-filled image-ID
    field of per-doc length, per-row RLE packets over the BGR pixel
    stream in STORAGE order (top-down or bottom-up per the descriptor),
    and the 26-byte v2.0 footer."""

    def encode(d: int) -> bytes:
        w, h = _ppm_dims(d)
        id_len = _tga_id_len(d)
        topdown = _tga_topdown(d)
        desc = 0x20 if topdown else 0
        buf = bytearray()
        buf += struct.pack(
            "<BBBHHBHHHHBB",
            id_len, 0, 10, 0, 0, 0, 0, 0, w, h, 24, desc,
        )
        buf += b"\x77" * id_len
        ys = range(h) if topdown else range(h - 1, -1, -1)
        for y in ys:
            # BGR pixels
            row = [bytes(reversed(_tga_pixel(d, x, y))) for x in range(w)]
            enc, _, _ = _tga_rle_row(row)
            buf += enc
        buf += _TGA_FOOTER
        return buf

    return _synthesize(docs, TGA_MIME, encode)


def _tga_raster(payload: bytes):
    """The shared TGA container walk (the ``_png_raster``/``_gif_raster``
    discipline — stats and resize can never drift on the byte walk):
    validates the colormap/type/bpp/attribute fields, skips the
    variable-length image ID, expands RLE and raw packets (counting
    each kind), rejects a packet overrunning the declared raster or
    extending into the footer region, requires the v2.0 footer to sit
    EXACTLY at the end of the pixel data, and normalizes row order per
    descriptor bit 5. Returns (width, height, rows top-first as lists
    of 3-byte BGR pixels, id_len, topdown, n_run_packets,
    n_raw_packets)."""
    payload = bytes(payload)
    if len(payload) < _TGA_HEADER + len(_TGA_FOOTER):
        raise ValueError("truncated TGA payload")
    (
        id_len, cmap_type, img_type,
        cmap_first, cmap_len, cmap_entry,
        _x0, _y0, width, height, bpp, desc,
    ) = struct.unpack_from("<BBBHHBHHHHBB", payload, 0)
    if cmap_type != 0 or cmap_first != 0 or cmap_len != 0 or cmap_entry != 0:
        raise ValueError("unsupported TGA variant (color-mapped)")
    if img_type != 10 or bpp != 24:
        raise ValueError("unsupported TGA variant (need RLE 24-bpp)")
    if desc & 0x1F:  # attribute bits + right-to-left bit must be clear
        raise ValueError("unsupported TGA descriptor")
    if width <= 0 or height <= 0:
        raise ValueError("unsupported TGA dims")
    topdown = bool(desc & 0x20)
    pos = _TGA_HEADER + id_len
    n_pixels = width * height
    pixels: list[bytes] = []
    n_run = n_raw = 0
    while len(pixels) < n_pixels:
        # the footer region is off-limits to pixel data: a stream that
        # needs it is truncated, whatever those bytes happen to decode as
        if pos >= len(payload) - len(_TGA_FOOTER):
            raise ValueError("TGA pixel data ended before raster filled")
        hdr = payload[pos]
        pos += 1
        count = (hdr & 0x7F) + 1
        if len(pixels) + count > n_pixels:
            raise ValueError("TGA packet overruns declared raster")
        data_end = len(payload) - len(_TGA_FOOTER)
        if hdr & 0x80:
            if pos + 3 > data_end:
                raise ValueError("truncated TGA run packet")
            px = payload[pos : pos + 3]
            pos += 3
            pixels.extend([px] * count)
            n_run += 1
        else:
            need = 3 * count
            if pos + need > data_end:
                raise ValueError("truncated TGA raw packet")
            raw = payload[pos : pos + need]
            pos += need
            pixels.extend(raw[k : k + 3] for k in range(0, need, 3))
            n_raw += 1
    if payload[pos:] != _TGA_FOOTER:
        raise ValueError("TGA footer missing or trailing garbage")
    rows = [
        pixels[y * width : (y + 1) * width] for y in range(height)
    ]
    if not topdown:
        rows.reverse()
    return width, height, rows, id_len, topdown, n_run, n_raw


def decode_tga(payload: bytes) -> dict:
    """REAL decoder for RLE-compressed 24-bpp TGA over the shared
    ``_tga_raster`` walk. The packet counts are part of the oracle
    surface (a decoder that merely happens to land the right sums
    through wrong packet framing is caught); the corner probe is the
    TOP-LEFT pixel after origin normalization — channel sums are
    row-order invariant, so only the corner's y-dependence catches an
    ignored origin bit."""
    payload = bytes(payload)
    width, height, rows, id_len, topdown, n_run, n_raw = _tga_raster(
        payload
    )
    sum_r = sum_g = sum_b = 0
    for row in rows:
        for px in row:
            sum_b += px[0]
            sum_g += px[1]
            sum_r += px[2]
    corner = rows[0][0]
    return {
        "width": width,
        "height": height,
        "n_pixels": width * height,
        "id_len": id_len,
        "topdown": topdown,
        "n_run_packets": n_run,
        "n_raw_packets": n_raw,
        "n_bytes": len(payload),
        "sum_r": sum_r,
        "sum_g": sum_g,
        "sum_b": sum_b,
        "corner_r": corner[2],
        "corner_b": corner[0],
    }


def resize_tga_nn(payload: bytes) -> dict:
    """Nearest-neighbor resize on a REAL decoded TGA raster: the full
    RLE container walk (``_tga_raster``, origin already normalized),
    the standard NN kernel, and per-channel sums of the resized
    raster — the RLE-container member of the resize family (PPM, PNG,
    GIF)."""
    width, height, rows, *_ = _tga_raster(payload)
    return _rgb_resize(width, height, lambda x, y: rows[y][x][::-1])


TGA_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("id_len", IntegerType()),
        StructField("topdown", BooleanType()),
        StructField("n_run_packets", LongType()),
        StructField("n_raw_packets", LongType()),
        StructField("n_bytes", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("corner_r", IntegerType()),
        StructField("corner_b", IntegerType()),
    ]
)


def q_multimodal_tga_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL RLE-TGA decode proof — the sixth pure-bytes
    codec. Every hazard is load-bearing on the corpus: the quantized
    generator puts run AND raw packets on (nearly) every payload with
    a CLOSED-FORM packet count the oracle pins (h*(w//2) runs,
    h*(w%2) raws — so wrong packet framing can't hide behind correct
    sums), 3/4 of payloads carry a nonzero image-ID offset, half
    store bottom-up (corner probe catches an ignored origin bit), and
    the footer check rejects truncation."""
    media = synthesize_tga(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: decode_tga(p), TGA_STATS_SCHEMA)


QUERIES["multimodal_tga_stats"] = q_multimodal_tga_stats

ORACLE["multimodal_tga_stats"] = """
    WITH grid AS (
        SELECT doc_id,
               (doc_id % 8) + 2 AS w,
               (doc_id % 6) + 2 AS h
        FROM documents
    ),
    xs AS (
        SELECT doc_id, w, h,
               unnest(generate_series(0, w - 1)) AS x
        FROM grid
    ),
    pix AS (
        SELECT doc_id, w, h, x,
               unnest(generate_series(0, h - 1)) AS y
        FROM xs
    )
    SELECT doc_id,
           CAST(any_value(w) AS INTEGER) AS width,
           CAST(any_value(h) AS INTEGER) AS height,
           count(*) AS n_pixels,
           CAST(any_value(doc_id % 4) AS INTEGER) AS id_len,
           any_value(doc_id % 2 = 1) AS topdown,
           CAST(any_value(h * (w // 2)) AS BIGINT) AS n_run_packets,
           CAST(any_value(h * (w % 2)) AS BIGINT) AS n_raw_packets,
           CAST(any_value(18 + doc_id % 4
                          + 4 * h * ((w + 1) // 2) + 26) AS BIGINT)
               AS n_bytes,
           CAST(sum((doc_id + 7 * (x // 2) + 13 * y) % 256) AS BIGINT)
               AS sum_r,
           CAST(sum((3 * doc_id + 5 * (x // 2) + y) % 256) AS BIGINT)
               AS sum_g,
           CAST(sum((doc_id + (x // 2) * y) % 256) AS BIGINT) AS sum_b,
           CAST(any_value(doc_id % 256) AS INTEGER) AS corner_r,
           CAST(any_value(doc_id % 256) AS INTEGER) AS corner_b
    FROM pix
    GROUP BY doc_id
"""


def q_multimodal_tga_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize through the RLE container end-to-end: synthesize
    TGA bytes, decode + NN-resize each raster to PPM_RESIZE_W x
    PPM_RESIZE_H inside ``mapInPandas``, and emit per-channel sums of
    the resized image. The oracle recomputes the sums closed-form:
    target pixel (x', y') -> quantized generator at
    ((x'*w // W') // 2, y'*h // H') — earned through packet expansion
    and origin normalization (half the corpus is stored bottom-up, so
    a resize on unflipped rows samples the wrong source lines). Scale
    shape: one Arrow-batched mapInPandas chain, payload bytes never
    shuffle, doc-grain output."""
    media = synthesize_tga(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: resize_tga_nn(p), PPM_RESIZE_SCHEMA)


QUERIES["multimodal_tga_resize"] = q_multimodal_tga_resize

ORACLE["multimodal_tga_resize"] = f"""
    WITH grid AS (
        SELECT doc_id,
               (doc_id % 8) + 2 AS w,
               (doc_id % 6) + 2 AS h
        FROM documents
    ),
    xs AS (
        SELECT doc_id, w, h,
               unnest(generate_series(0, {PPM_RESIZE_W - 1})) AS x2
        FROM grid
    ),
    pix AS (
        SELECT doc_id, w, h, x2,
               unnest(generate_series(0, {PPM_RESIZE_H - 1})) AS y2
        FROM xs
    ),
    src AS (
        SELECT doc_id,
               any_value(w) AS w, any_value(h) AS h,
               ((x2 * w) // {PPM_RESIZE_W}) // 2 AS qx,
               (y2 * h) // {PPM_RESIZE_H} AS sy
        FROM pix GROUP BY doc_id, x2, y2,
               ((x2 * w) // {PPM_RESIZE_W}) // 2,
               (y2 * h) // {PPM_RESIZE_H}
    )
    SELECT doc_id,
           CAST(any_value(w) AS INTEGER) AS src_width,
           CAST(any_value(h) AS INTEGER) AS src_height,
           CAST(sum((doc_id + 7 * qx + 13 * sy) % 256) AS BIGINT) AS sum_r,
           CAST(sum((3 * doc_id + 5 * qx + sy) % 256) AS BIGINT) AS sum_g,
           CAST(sum((doc_id + qx * sy) % 256) AS BIGINT) AS sum_b
    FROM src
    GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# ICO (Windows icon resource): the SEVENTH codec and the first
# CONTAINER-OF-IMAGES — a directory of N images addressed by
# offset/size (the decoder must seek, not stream), each a HEADERLESS
# BMP (BITMAPINFOHEADER only) whose biHeight is DOUBLED to cover the
# 1-bpp AND transparency mask (MSB-first bits, rows padded to 32 BITS),
# plus the 0-means-256 width/height byte convention in the directory.
# No prior codec exercises any of these.
# ---------------------------------------------------------------------------

ICO_MIME = "image/x-icon"


def _ico_n_images(doc_id: int) -> int:
    return doc_id % 3 + 1


def _ico_dims(doc_id: int, j: int) -> tuple[int, int]:
    """Dims of image j: the shared generator grid, except every fifth
    doc's LAST image is 256 wide — the 0-means-256 directory-byte
    convention is then load-bearing on the corpus, not just crafted."""
    if doc_id % 5 == 0 and j == _ico_n_images(doc_id) - 1:
        return 256, 2
    return _ppm_dims(doc_id + 17 * j)


def _ico_pixel(doc_id: int, j: int, x: int, y: int) -> tuple[int, int, int]:
    return _ppm_pixel(doc_id + 17 * j, x, y)


def _ico_transparent(doc_id: int, x: int, y: int) -> bool:
    """AND-mask bit (1 = transparent) — every fifth diagonal: channel
    sums over OPAQUE pixels depend on correct mask decode."""
    return (doc_id + x + y) % 5 == 0


def _ico_and_stride(width: int) -> int:
    """1-bpp AND-mask rows pad to a 32-BIT boundary (the ICO spec's
    sharpest edge: it is NOT the XOR raster's byte stride)."""
    return (width + 31) // 32 * 4


def synthesize_ico(docs: DataFrame) -> DataFrame:
    """One REAL multi-image ICO per document: ICONDIR (count = 1..3
    per doc), ICONDIRENTRY per image (width/height bytes with the
    0-means-256 convention, bytes_in_res, image_offset), and per image
    a BITMAPINFOHEADER with DOUBLED biHeight + the bottom-up 24-bpp
    BGR XOR raster (4-byte stride) + the bottom-up 1-bpp AND mask
    (MSB-first, 32-bit-padded rows)."""

    def encode(d: int) -> bytes:
        n = _ico_n_images(d)
        images = []
        for j in range(n):
            w, h = _ico_dims(d, j)
            xor_stride = _bmp_stride(w)
            and_stride = _ico_and_stride(w)
            img = bytearray()
            img += struct.pack(
                "<IiiHHIIiiII",
                40, w, 2 * h, 1, 24, 0,
                xor_stride * h + and_stride * h, 0, 0, 0, 0,
            )
            for y in range(h - 1, -1, -1):  # XOR, bottom-up
                for x in range(w):
                    r, g, b = _ico_pixel(d, j, x, y)
                    img += bytes((b, g, r))
                img += b"\x00" * (xor_stride - 3 * w)
            for y in range(h - 1, -1, -1):  # AND, bottom-up
                row = bytearray(and_stride)
                for x in range(w):
                    if _ico_transparent(d, x, y):
                        row[x // 8] |= 0x80 >> (x % 8)
                img += row
            images.append((w, h, bytes(img)))
        buf = bytearray()
        buf += struct.pack("<HHH", 0, 1, n)
        offset = 6 + 16 * n
        for w, h, img in images:
            buf += struct.pack(
                "<BBBBHHII",
                w % 256, h % 256, 0, 0, 1, 24, len(img), offset,
            )
            offset += len(img)
        for _, _, img in images:
            buf += img
        return buf

    return _synthesize(docs, ICO_MIME, encode)


def _ico_entries(payload: bytes):
    """Validated walk of the ICO directory — the shared seek layer of
    the container codec: parses the 6-byte header, then for each
    directory entry validates bounds/type, requires biHeight == 2 *
    the directory height (the doubled-height contract), and yields
    ``(img_idx, count, w, h, xor_base, xor_stride, and_base,
    and_stride)`` with the bottom-up XOR raster and MSB-first
    32-bit-padded AND mask located but NOT expanded — the stats
    decoder and the NN resizer sample from here. Directory bytes 0
    mean 256."""
    payload = bytes(payload)
    if len(payload) < 6:
        raise ValueError("truncated ICO header")
    reserved, res_type, count = struct.unpack_from("<HHH", payload, 0)
    if reserved != 0 or res_type != 1 or count == 0:
        raise ValueError("not an ICO resource")
    if len(payload) < 6 + 16 * count:
        raise ValueError("truncated ICO directory")
    for j in range(count):
        (wb, hb, _pal, _rsv, planes, bpp, size, offset) = struct.unpack_from(
            "<BBBBHHII", payload, 6 + 16 * j
        )
        w = wb or 256
        h = hb or 256
        if offset + size > len(payload):
            raise ValueError("ICO image outside payload bounds")
        if bpp != 24 or planes not in (0, 1):
            raise ValueError("unsupported ICO entry (need 24-bpp)")
        if size < 40:  # the header unpack below needs a full BIH
            raise ValueError("truncated ICO image data")
        (
            bi_size, bi_w, bi_h, bi_planes, bi_bpp, bi_comp,
        ) = struct.unpack_from("<IiiHHI", payload, offset)
        if bi_size != 40 or bi_comp != 0 or bi_bpp != 24:
            raise ValueError("unsupported ICO bitmap header")
        if bi_w != w or bi_h != 2 * h:
            raise ValueError(
                "ICO bitmap dims disagree with directory (biHeight "
                "must be DOUBLED for the AND mask)"
            )
        xor_stride = _bmp_stride(w)
        and_stride = _ico_and_stride(w)
        if size < 40 + (xor_stride + and_stride) * h:
            raise ValueError("truncated ICO image data")
        xor_base = offset + 40
        and_base = xor_base + xor_stride * h
        yield j, count, w, h, xor_base, xor_stride, and_base, and_stride


def decode_ico(payload: bytes) -> list[dict]:
    """REAL decoder for multi-image 24-bpp ICO — pure-bytes struct
    arithmetic. Walks the directory, SEEKS each image by its
    offset/size entry (validating bounds), parses the headerless
    BITMAPINFOHEADER, requires biHeight == 2 * the directory height
    (the doubled-height contract), expands the bottom-up XOR raster
    and the MSB-first 32-bit-padded AND mask, and sums channels over
    OPAQUE pixels only (mask bit 0). Directory bytes 0 mean 256."""
    payload = bytes(payload)
    out = []
    for (
        j, count, w, h, xor_base, xor_stride, and_base, and_stride,
    ) in _ico_entries(payload):
        n_opaque = sum_r = sum_g = sum_b = 0
        for y in range(h):  # image row y stored at slot h-1-y
            xrow = payload[
                xor_base + (h - 1 - y) * xor_stride:
                xor_base + (h - 1 - y) * xor_stride + 3 * w
            ]
            mrow = payload[
                and_base + (h - 1 - y) * and_stride:
                and_base + (h - y) * and_stride
            ]
            for x in range(w):
                if mrow[x // 8] & (0x80 >> (x % 8)):
                    continue  # transparent: excluded from the stats
                n_opaque += 1
                sum_b += xrow[3 * x]
                sum_g += xrow[3 * x + 1]
                sum_r += xrow[3 * x + 2]
        out.append(
            {
                "img_idx": j,
                "n_images": count,
                "width": w,
                "height": h,
                "n_pixels": w * h,
                "n_opaque": n_opaque,
                "sum_r": sum_r,
                "sum_g": sum_g,
                "sum_b": sum_b,
            }
        )
    return out


ICO_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("img_idx", IntegerType()),
        StructField("n_images", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("n_opaque", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def q_multimodal_ico_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end multi-image ICO decode proof — the seventh codec,
    first CONTAINER format: per (doc, image) stats where every hazard
    is load-bearing on the corpus (1..3 images per doc seeked by
    directory offset; channel sums over OPAQUE pixels only, so a
    wrong AND-mask bit order or stride poisons them; biHeight doubled;
    every fifth doc carries a 256-wide image exercising the
    0-means-256 directory byte). Oracle = closed form over the shared
    generator + the diagonal mask predicate."""
    media = synthesize_ico(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: decode_ico(p), ICO_STATS_SCHEMA)


QUERIES["multimodal_ico_stats"] = q_multimodal_ico_stats

ORACLE["multimodal_ico_stats"] = """
    WITH imgs AS (
        SELECT doc_id, j,
               doc_id % 3 + 1 AS n_images,
               CASE WHEN doc_id % 5 = 0 AND j = doc_id % 3
                    THEN 256 ELSE ((doc_id + 17 * j) % 8) + 2 END AS w,
               CASE WHEN doc_id % 5 = 0 AND j = doc_id % 3
                    THEN 2 ELSE ((doc_id + 17 * j) % 6) + 2 END AS h
        FROM documents,
             LATERAL (SELECT unnest(generate_series(0, doc_id % 3)) AS j)
    ),
    xs AS (
        SELECT doc_id, j, n_images, w, h,
               unnest(generate_series(0, w - 1)) AS x
        FROM imgs
    ),
    pix AS (
        SELECT doc_id, j, n_images, w, h, x,
               unnest(generate_series(0, h - 1)) AS y
        FROM xs
    )
    SELECT doc_id,
           CAST(j AS INTEGER) AS img_idx,
           CAST(any_value(n_images) AS INTEGER) AS n_images,
           CAST(any_value(w) AS INTEGER) AS width,
           CAST(any_value(h) AS INTEGER) AS height,
           count(*) AS n_pixels,
           CAST(sum(CASE WHEN (doc_id + x + y) % 5 <> 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_opaque,
           CAST(sum(CASE WHEN (doc_id + x + y) % 5 <> 0
                         THEN (doc_id + 17 * j + 7 * x + 13 * y) % 256
                         ELSE 0 END) AS BIGINT) AS sum_r,
           CAST(sum(CASE WHEN (doc_id + x + y) % 5 <> 0
                         THEN (3 * (doc_id + 17 * j) + 5 * x + y) % 256
                         ELSE 0 END) AS BIGINT) AS sum_g,
           CAST(sum(CASE WHEN (doc_id + x + y) % 5 <> 0
                         THEN ((doc_id + 17 * j) + x * y) % 256
                         ELSE 0 END) AS BIGINT) AS sum_b
    FROM pix
    GROUP BY doc_id, j
"""


def resize_ico_nn(payload: bytes) -> list[dict]:
    """Nearest-neighbor resize of EVERY image in the ICO container —
    the container member of the resize family (PPM, PNG, GIF, TGA):
    each directory entry's raster resizes independently to
    PPM_RESIZE_W x PPM_RESIZE_H, sampling the bottom-up XOR raster
    AND the 1-bpp AND mask at the same source pixel, so the resized
    surface keeps per-pixel transparency (n_opaque counts the resized
    raster's opaque samples; channel sums cover only those — a wrong
    mask stride or bit order poisons both). Pure-bytes sampling off
    ``_ico_entries``'s validated geometry: no raster is ever fully
    expanded — 12 samples per image regardless of source size."""
    payload = bytes(payload)
    out = []
    for (
        j, _count, w, h, xor_base, xor_stride, and_base, and_stride,
    ) in _ico_entries(payload):

        def pixel(x: int, y: int) -> tuple[int, int, int, int]:
            row = h - 1 - y  # bottom-up storage
            mask = payload[and_base + row * and_stride + x // 8]
            if mask & (0x80 >> (x % 8)):
                return 0, 0, 0, 0  # transparent sample: excluded
            px = xor_base + row * xor_stride + 3 * x
            return 1, payload[px + 2], payload[px + 1], payload[px]  # 1, RGB

        n_opaque, sr, sg, sb = _nn_sums(w, h, pixel)
        out.append(
            {
                "img_idx": j,
                "src_width": w,
                "src_height": h,
                "n_opaque": n_opaque,
                "sum_r": sr,
                "sum_g": sg,
                "sum_b": sb,
            }
        )
    return out


ICO_RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("img_idx", IntegerType()),
        StructField("src_width", IntegerType()),
        StructField("src_height", IntegerType()),
        StructField("n_opaque", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
    ]
)


def q_multimodal_ico_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize through the CONTAINER codec end-to-end — completes
    the resize family over all five raster formats: synthesize ICO
    bytes, seek every directory image, NN-resize each raster to
    PPM_RESIZE_W x PPM_RESIZE_H inside ``mapInPandas``, and emit
    per-(doc, image) opaque-sample counts and channel sums. The
    transparency mask rides THROUGH the resize (the oracle recomputes
    sampled mask bits closed-form at the sampled source pixel), so a
    resize that ignores the AND plane — the bug a container-unaware
    port would ship — hash-fails. Every fifth doc's 256-wide image
    exercises 0-means-256 under resampling."""
    media = synthesize_ico(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: resize_ico_nn(p), ICO_RESIZE_SCHEMA)


QUERIES["multimodal_ico_resize"] = q_multimodal_ico_resize

ORACLE["multimodal_ico_resize"] = f"""
    WITH imgs AS (
        SELECT doc_id, j,
               CASE WHEN doc_id % 5 = 0 AND j = doc_id % 3
                    THEN 256 ELSE ((doc_id + 17 * j) % 8) + 2 END AS w,
               CASE WHEN doc_id % 5 = 0 AND j = doc_id % 3
                    THEN 2 ELSE ((doc_id + 17 * j) % 6) + 2 END AS h
        FROM documents,
             LATERAL (SELECT unnest(generate_series(0, doc_id % 3)) AS j)
    ),
    xs AS (
        SELECT doc_id, j, w, h,
               unnest(generate_series(0, {PPM_RESIZE_W - 1})) AS x2
        FROM imgs
    ),
    pix AS (
        SELECT doc_id, j, w, h, x2,
               unnest(generate_series(0, {PPM_RESIZE_H - 1})) AS y2
        FROM xs
    ),
    src AS (
        SELECT doc_id, j, w, h,
               (x2 * w) // {PPM_RESIZE_W} AS sx,
               (y2 * h) // {PPM_RESIZE_H} AS sy
        FROM pix
    )
    SELECT doc_id,
           CAST(j AS INTEGER) AS img_idx,
           CAST(any_value(w) AS INTEGER) AS src_width,
           CAST(any_value(h) AS INTEGER) AS src_height,
           CAST(sum(CASE WHEN (doc_id + sx + sy) % 5 <> 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_opaque,
           CAST(sum(CASE WHEN (doc_id + sx + sy) % 5 <> 0
                         THEN (doc_id + 17 * j + 7 * sx + 13 * sy) % 256
                         ELSE 0 END) AS BIGINT) AS sum_r,
           CAST(sum(CASE WHEN (doc_id + sx + sy) % 5 <> 0
                         THEN (3 * (doc_id + 17 * j) + 5 * sx + sy) % 256
                         ELSE 0 END) AS BIGINT) AS sum_g,
           CAST(sum(CASE WHEN (doc_id + sx + sy) % 5 <> 0
                         THEN ((doc_id + 17 * j) + sx * sy) % 256
                         ELSE 0 END) AS BIGINT) AS sum_b
    FROM src
    GROUP BY doc_id, j
"""


# ---------------------------------------------------------------------------
# multimodal_wav_silence — silence-run detection on the REAL decoded
# WAV stream: maximal runs of samples under an amplitude threshold
# (the trim/VAD primitive every audio-ingest pipeline runs), earned
# through the full RIFF chunk walk
# ---------------------------------------------------------------------------

WAV_SILENCE_THRESHOLD = 500  # |sample| < threshold counts as silent


def detect_silence_runs(samples) -> tuple[int, int, int]:
    """(n_silent, n_runs, max_run) over maximal runs of consecutive
    samples with |s| < WAV_SILENCE_THRESHOLD — one linear pass (the
    per-clip twin of the corpus gaps-and-islands trick the oracle
    uses)."""
    n_silent = n_runs = max_run = cur = 0
    for s in samples:
        if -WAV_SILENCE_THRESHOLD < int(s) < WAV_SILENCE_THRESHOLD:
            n_silent += 1
            cur += 1
            if cur == 1:
                n_runs += 1
            if cur > max_run:
                max_run = cur
        else:
            cur = 0
    return n_silent, n_runs, max_run


WAV_SILENCE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("n_silent", LongType()),
        StructField("n_runs", LongType()),
        StructField("max_run", LongType()),
    ]
)


def _wav_silence(payload: bytes) -> dict:
    rate, samples = parse_wav(payload)
    n_silent, n_runs, max_run = detect_silence_runs(samples)
    return {
        "sample_rate": rate,
        "n_samples": len(samples),
        "n_silent": n_silent,
        "n_runs": n_runs,
        "max_run": max_run,
    }


def q_multimodal_wav_silence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-run profile per audio clip: decode the REAL RIFF/WAVE
    payload (full chunk walk past the poisoned JUNK chunk — a desynced
    walker reads 0xEE filler as samples and invents silence), then
    report the count of silent samples, the number of maximal silent
    RUNS, and the longest run at |s| < 500 — the voice-activity /
    trim primitive of an audio-ingest tier (leading/trailing/internal
    silence drives chunking and dedup decisions). The oracle
    recomputes the runs closed-form from the sample generator via
    gaps-and-islands (i - row_number over silent samples), so run
    SEGMENTATION is pinned, not merely the silent count."""
    media = synthesize_wav(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: _wav_silence(p), WAV_SILENCE_SCHEMA)


QUERIES["multimodal_wav_silence"] = q_multimodal_wav_silence

ORACLE["multimodal_wav_silence"] = f"""
    WITH clips AS (
        SELECT doc_id,
               8000 + (doc_id % 4) * 2000 AS sample_rate,
               64 + (doc_id % 97) AS n
        FROM documents
    ),
    samples AS (
        SELECT doc_id, sample_rate, n, i,
               (doc_id * 31 + i * 17 + (i * i) % 101) % 4001 - 2000 AS s
        FROM clips,
             LATERAL (SELECT unnest(generate_series(0, n - 1)) AS i)
    ),
    silent AS (
        SELECT doc_id, sample_rate, n, i,
               i - row_number() OVER (PARTITION BY doc_id ORDER BY i)
                   AS grp
        FROM samples
        WHERE abs(s) < {WAV_SILENCE_THRESHOLD}
    ),
    runs AS (
        SELECT doc_id, grp, CAST(count(*) AS BIGINT) AS run_len
        FROM silent GROUP BY 1, 2
    ),
    per_doc AS (
        SELECT doc_id,
               CAST(sum(run_len) AS BIGINT) AS n_silent,
               CAST(count(*) AS BIGINT) AS n_runs,
               CAST(max(run_len) AS BIGINT) AS max_run
        FROM runs GROUP BY 1
    )
    SELECT clips.doc_id,
           CAST(sample_rate AS INTEGER) AS sample_rate,
           CAST(n AS BIGINT) AS n_samples,
           coalesce(n_silent, 0) AS n_silent,
           coalesce(n_runs, 0) AS n_runs,
           coalesce(max_run, 0) AS max_run
    FROM clips LEFT JOIN per_doc ON clips.doc_id = per_doc.doc_id
"""


# ---------------------------------------------------------------------------
# QOI (Quite OK Image, Szablewski 2021 — the public one-page spec at
# qoiformat.org): the EIGHTH codec and the first with a STATEFUL
# byte-stream — every chunk's meaning depends on decoder state (the
# previous pixel, a 64-slot running color index keyed by the spec's
# (3r+5g+7b+11a) % 64 hash, and an open run), unlike the stateless
# rasters (PPM/BMP/TGA) and the table-driven streams (PNG/GIF/LZW).
# Six chunk kinds: RGB, RGBA, INDEX, DIFF (2-bit biased deltas), LUMA
# (green-anchored deltas), RUN (biased, 62 max). The synthesizer is a
# REAL spec-compliant encoder whose generator makes every chunk kind
# load-bearing on the corpus; all channel deltas wrap mod 256.
# ---------------------------------------------------------------------------

QOI_MIME = "image/qoi"


def _qoi_dims(doc_id: int) -> tuple[int, int]:
    return doc_id % 8 + 2, doc_id % 6 + 2


def _qoi_pixel(doc_id: int, x: int, y: int) -> tuple[int, int, int]:
    """Quantized generator tuned so the ENCODER must use every chunk
    kind: x-pairs repeat (RUN), every third row repeats the row two
    above (re-seen colors -> INDEX), the odd pixel of a pair on
    y%3==1 rows shifts all channels by +1 (DIFF), the +7/+5 channel
    steps between quantized columns are LUMA-range, and the first
    pixel's jump from the (0,0,0) start state is RGB-range for most
    docs."""
    yy = y - 2 if y % 3 == 2 else y
    qx = x // 2
    f = 1 if (x % 2 == 1 and y % 3 == 1) else 0
    return (
        (doc_id + 7 * qx + 13 * yy + f) % 256,
        (3 * doc_id + 5 * qx + yy + f) % 256,
        (doc_id + qx * yy + f) % 256,
    )


def _qoi_hash(r: int, g: int, b: int, a: int) -> int:
    return (r * 3 + g * 5 + b * 7 + a * 11) % 64


def _wrap8(d: int) -> int:
    """Signed wraparound delta (the spec's 'differences wrap'):
    mod-256 difference mapped into -128..127."""
    return (d + 128) % 256 - 128


def _qoi_encode(pixels: list, w: int, h: int) -> bytes:
    """Spec-compliant QOI encoder for 3-channel images (alpha pinned
    255). The color index is maintained at CHUNK grain exactly as the
    spec's decoder maintains it (one update per chunk, including RUN
    chunks) — with identical index discipline on both sides an INDEX
    emission can never dereference a slot the decoder sees
    differently, which is the classic QOI encoder corruption bug."""
    out = bytearray()
    out += b"qoif" + struct.pack(">IIBB", w, h, 3, 0)
    index = [(0, 0, 0, 0)] * 64
    prev = (0, 0, 0, 255)
    run = 0

    def _chunk_indexed(px):
        index[_qoi_hash(*px)] = px

    for r, g, b in pixels:
        px = (r, g, b, 255)
        if px == prev:
            run += 1
            if run == 62:
                out.append(0xC0 | (run - 1))
                _chunk_indexed(px)
                run = 0
            continue
        if run:
            out.append(0xC0 | (run - 1))
            _chunk_indexed(prev)
            run = 0
        hsh = _qoi_hash(*px)
        if index[hsh] == px:
            out.append(hsh)  # QOI_OP_INDEX (top bits 00)
        else:
            dr = _wrap8(r - prev[0])
            dg = _wrap8(g - prev[1])
            db = _wrap8(b - prev[2])
            if -2 <= dr <= 1 and -2 <= dg <= 1 and -2 <= db <= 1:
                out.append(
                    0x40 | ((dr + 2) << 4) | ((dg + 2) << 2) | (db + 2)
                )
            elif (
                -32 <= dg <= 31
                and -8 <= dr - dg <= 7
                and -8 <= db - dg <= 7
            ):
                out.append(0x80 | (dg + 32))
                out.append(((dr - dg + 8) << 4) | (db - dg + 8))
            else:
                out += bytes((0xFE, r, g, b))
        _chunk_indexed(px)
        prev = px
    if run:
        out.append(0xC0 | (run - 1))
        _chunk_indexed(prev)
    out += b"\x00" * 7 + b"\x01"
    return bytes(out)


def synthesize_qoi(docs: DataFrame) -> DataFrame:
    """doc_id -> a REAL QOI payload (full encoder: runs, index hits,
    DIFF/LUMA deltas, RGB literals, wraparound) over the quantized
    generator raster."""

    def encode(d: int) -> bytes:
        w, h = _qoi_dims(d)
        pixels = [_qoi_pixel(d, x, y) for y in range(h) for x in range(w)]
        return _qoi_encode(pixels, w, h)

    return _synthesize(docs, QOI_MIME, encode)


def _qoi_raster(payload: bytes):
    """REAL QOI decoder — the spec's state machine: returns (w, h,
    rows top-down as lists of (r, g, b, a), op_counts dict). Validates
    the magic, channels/colorspace, pixel-count overflow (a RUN
    spilling past w*h is an error, not a clamp), stream truncation,
    and the 7x00+01 end marker. The color index updates once per
    CHUNK (the reference decoder's discipline — RUN chunks included);
    INDEX chunks read whatever the running index holds, including the
    zero-initialized (0,0,0,0) slots."""
    payload = bytes(payload)
    if len(payload) < 22 or payload[:4] != b"qoif":
        raise ValueError("not a QOI stream")
    w, h, channels, colorspace = struct.unpack_from(">IIBB", payload, 4)
    if channels not in (3, 4) or colorspace not in (0, 1):
        raise ValueError("unsupported QOI header")
    if w == 0 or h == 0:
        raise ValueError("zero-dimension QOI")
    n = w * h
    px = (0, 0, 0, 255)
    index = [(0, 0, 0, 0)] * 64
    out = []
    ops = {"rgb": 0, "rgba": 0, "index": 0, "diff": 0, "luma": 0, "run": 0}
    pos = 14
    end = len(payload) - 8
    while len(out) < n:
        if pos >= end:
            raise ValueError("truncated QOI stream")
        b1 = payload[pos]
        pos += 1
        if b1 == 0xFE:
            if pos + 3 > end:
                raise ValueError("truncated QOI stream")
            px = (payload[pos], payload[pos + 1], payload[pos + 2], px[3])
            pos += 3
            ops["rgb"] += 1
        elif b1 == 0xFF:
            if pos + 4 > end:
                raise ValueError("truncated QOI stream")
            px = (
                payload[pos], payload[pos + 1],
                payload[pos + 2], payload[pos + 3],
            )
            pos += 4
            ops["rgba"] += 1
        elif b1 >> 6 == 0:
            px = index[b1 & 0x3F]
            ops["index"] += 1
        elif b1 >> 6 == 1:
            px = (
                (px[0] + ((b1 >> 4) & 3) - 2) % 256,
                (px[1] + ((b1 >> 2) & 3) - 2) % 256,
                (px[2] + (b1 & 3) - 2) % 256,
                px[3],
            )
            ops["diff"] += 1
        elif b1 >> 6 == 2:
            if pos + 1 > end:
                raise ValueError("truncated QOI stream")
            dg = (b1 & 0x3F) - 32
            b2 = payload[pos]
            pos += 1
            px = (
                (px[0] + dg + ((b2 >> 4) & 0xF) - 8) % 256,
                (px[1] + dg) % 256,
                (px[2] + dg + (b2 & 0xF) - 8) % 256,
                px[3],
            )
            ops["luma"] += 1
        else:  # QOI_OP_RUN
            run = (b1 & 0x3F) + 1
            if len(out) + run > n:
                raise ValueError("QOI run overflows the pixel count")
            out.extend([px] * (run - 1))
            ops["run"] += 1
        index[_qoi_hash(*px)] = px
        out.append(px)
    if payload[pos:pos + 8] != b"\x00" * 7 + b"\x01":
        raise ValueError("missing QOI end marker")
    rows = [out[y * w:(y + 1) * w] for y in range(h)]
    return w, h, rows, ops


def decode_qoi(payload: bytes) -> dict:
    """Doc-grain stats off the REAL decoded raster: dims, channel
    sums, and the LAST pixel's r/b as corner probes (a decoder that
    loses state anywhere in the chunk stream cannot fake the final
    pixel)."""
    w, h, rows, _ops = _qoi_raster(payload)
    sr = sg = sb = 0
    for row in rows:
        for r, g, b, _a in row:
            sr += r
            sg += g
            sb += b
    last = rows[-1][-1]
    return {
        "width": w,
        "height": h,
        "n_pixels": w * h,
        "sum_r": sr,
        "sum_g": sg,
        "sum_b": sb,
        "corner_r": last[0],
        "corner_b": last[2],
    }


QOI_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("sum_r", LongType()),
        StructField("sum_g", LongType()),
        StructField("sum_b", LongType()),
        StructField("corner_r", IntegerType()),
        StructField("corner_b", IntegerType()),
    ]
)


def q_multimodal_qoi_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL QOI decode proof — the eighth codec, first
    STATEFUL byte stream: the oracle's closed-form channel sums (and
    the final-pixel corner probes) are only reachable through the
    whole chunk state machine, because every chunk's meaning depends
    on the running (prev pixel, color index, open run) state — a
    single mis-decoded DIFF bias or stale INDEX slot derails every
    later pixel of the doc. The generator makes all chunk kinds
    load-bearing on the corpus (pytest-pinned: each kind appears)."""
    media = synthesize_qoi(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: decode_qoi(p), QOI_STATS_SCHEMA)


QUERIES["multimodal_qoi_stats"] = q_multimodal_qoi_stats

_QOI_PIX_SQL = """
        SELECT doc_id, w, h, x, y,
               CASE WHEN y % 3 = 2 THEN y - 2 ELSE y END AS yy,
               x // 2 AS qx,
               CASE WHEN x % 2 = 1 AND y % 3 = 1 THEN 1 ELSE 0 END AS f
        FROM (
            SELECT doc_id, w, h, x,
                   unnest(generate_series(0, h - 1)) AS y
            FROM (
                SELECT doc_id,
                       doc_id % 8 + 2 AS w,
                       doc_id % 6 + 2 AS h,
                       unnest(generate_series(0, doc_id % 8 + 1)) AS x
                FROM documents
            )
        )
"""

ORACLE["multimodal_qoi_stats"] = f"""
    WITH pix AS ({_QOI_PIX_SQL}
    )
    SELECT doc_id,
           CAST(any_value(w) AS INTEGER) AS width,
           CAST(any_value(h) AS INTEGER) AS height,
           count(*) AS n_pixels,
           CAST(sum((doc_id + 7 * qx + 13 * yy + f) % 256) AS BIGINT)
               AS sum_r,
           CAST(sum((3 * doc_id + 5 * qx + yy + f) % 256) AS BIGINT)
               AS sum_g,
           CAST(sum((doc_id + qx * yy + f) % 256) AS BIGINT) AS sum_b,
           CAST(any_value(
               (doc_id + 7 * ((w - 1) // 2)
                + 13 * (CASE WHEN (h - 1) % 3 = 2 THEN h - 3 ELSE h - 1 END)
                + (CASE WHEN (w - 1) % 2 = 1 AND (h - 1) % 3 = 1
                        THEN 1 ELSE 0 END)) % 256
           ) AS INTEGER) AS corner_r,
           CAST(any_value(
               (doc_id + ((w - 1) // 2)
                * (CASE WHEN (h - 1) % 3 = 2 THEN h - 3 ELSE h - 1 END)
                + (CASE WHEN (w - 1) % 2 = 1 AND (h - 1) % 3 = 1
                        THEN 1 ELSE 0 END)) % 256
           ) AS INTEGER) AS corner_b
    FROM pix
    GROUP BY doc_id
"""


def resize_qoi_nn(payload: bytes) -> dict:
    """Nearest-neighbor resize on the REAL decoded QOI raster — the
    stateful-stream member of the resize family: the full chunk walk,
    the standard NN kernel, per-channel sums of the resized image."""
    width, height, rows, _ops = _qoi_raster(payload)
    return _rgb_resize(width, height, lambda x, y: rows[y][x][:3])


def q_multimodal_qoi_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize through the stateful stream end-to-end: synthesize
    QOI bytes, decode + NN-resize to PPM_RESIZE_W x PPM_RESIZE_H
    inside ``mapInPandas``, emit per-channel sums of the resized
    raster; the oracle recomputes the sums closed-form at the sampled
    generator coordinates."""
    media = synthesize_qoi(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: resize_qoi_nn(p), PPM_RESIZE_SCHEMA)


QUERIES["multimodal_qoi_resize"] = q_multimodal_qoi_resize

ORACLE["multimodal_qoi_resize"] = f"""
    WITH grid AS (
        SELECT doc_id,
               doc_id % 8 + 2 AS w,
               doc_id % 6 + 2 AS h
        FROM documents
    ),
    xs AS (
        SELECT doc_id, w, h,
               unnest(generate_series(0, {PPM_RESIZE_W - 1})) AS x2
        FROM grid
    ),
    pix AS (
        SELECT doc_id, w, h, x2,
               unnest(generate_series(0, {PPM_RESIZE_H - 1})) AS y2
        FROM xs
    ),
    src AS (
        SELECT doc_id, w, h,
               (x2 * w) // {PPM_RESIZE_W} AS sx,
               (y2 * h) // {PPM_RESIZE_H} AS sy
        FROM pix
    ),
    gen AS (
        SELECT doc_id, w, h,
               CASE WHEN sy % 3 = 2 THEN sy - 2 ELSE sy END AS yy,
               sx // 2 AS qx,
               CASE WHEN sx % 2 = 1 AND sy % 3 = 1 THEN 1 ELSE 0 END AS f
        FROM src
    )
    SELECT doc_id,
           CAST(any_value(w) AS INTEGER) AS src_width,
           CAST(any_value(h) AS INTEGER) AS src_height,
           CAST(sum((doc_id + 7 * qx + 13 * yy + f) % 256) AS BIGINT)
               AS sum_r,
           CAST(sum((3 * doc_id + 5 * qx + yy + f) % 256) AS BIGINT)
               AS sum_g,
           CAST(sum((doc_id + qx * yy + f) % 256) AS BIGINT) AS sum_b
    FROM gen
    GROUP BY doc_id
"""


# ---------------------------------------------------------------------------
# JPEG (ITU-T T.81, public spec) — baseline sequential DCT, Huffman
# entropy coding, 4:4:4. The ninth first-principles codec and the
# first TRANSFORM-coded one (PNG/GIF/QOI compress losslessly; JPEG
# quantizes DCT coefficients). The generator emits spec-valid
# baseline JFIF streams whose decode is CLOSED-FORM: every 8x8 block
# carries ONLY a DC coefficient (all AC zero — each block's AC
# entropy data is one EOB symbol), and the luma quant table's DC step
# is 8, so dequantized DC = 8*(v-128) and the IDCT of a DC-only block
# is exactly flat at v — integer-exact through the float IDCT (the
# basis normalization (1/sqrt(2))^2 error is ~1e-13, far below the
# rounding half-step). The DECODER is general within baseline scope:
# full marker walk, multi-table DQT/DHT parse, canonical Huffman
# construction per the spec's code-length algorithm, bit reading with
# 0xFF00 byte-unstuffing, DC prediction + EXTEND, the full AC
# run-length loop (ZRL/EOB), zigzag->natural dequantization, and a
# real 2D IDCT — so arbitrary baseline 4:4:4 streams decode, not just
# the generator's. Out-of-scope variants fail LOUD (progressive SOF,
# 12-bit, subsampled chroma, restart intervals), the codec-family
# contract. Parity target: reference repo has no media handling; this
# is north-star scope (SURVEY §2 multimodal family).
# ---------------------------------------------------------------------------

JPEG_MIME = "image/jpeg"

# Zigzag scan: position k in the entropy stream -> natural (row-major)
# coefficient index, per T.81 Figure A.6.
_JPEG_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# The standard Huffman tables of T.81 Annex K.3 — (BITS, HUFFVAL).
_JPEG_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)),
)
_JPEG_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
        0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
        0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
        0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
        0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16,
        0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
        0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
        0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
        0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
        0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
        0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
        0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
        0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
        0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
        0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
        0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4,
        0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
        0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA,
        0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)
_JPEG_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21,
        0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
        0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
        0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
        0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34,
        0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
        0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
        0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
        0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
        0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
        0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96,
        0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
        0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
        0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2,
        0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9,
        0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
        0xF9, 0xFA,
    ],
)

# Quant tables in ZIGZAG order: DC step 8 (the closed-form hinge —
# dequantized DC = 8*(v-128), IDCT/8 lands back on v exactly), AC
# steps distinct per table so a table-id mixup is structurally wrong.
_JPEG_QT_LUMA = [8] + [16] * 63
_JPEG_QT_CHROMA = [8] + [24] * 63


def _jpeg_dims(doc_id: int) -> tuple[int, int]:
    """Per-doc block grid (1..4 x 1..3 blocks of 8x8) — dims stay
    multiples of 8 so every MCU is full (partial-MCU edge handling is
    follow-up scope, with the subsampled variants)."""
    return ((doc_id % 4) + 1) * 8, ((doc_id % 3) + 1) * 8


def _jpeg_block_val(doc_id: int, comp: int, bx: int, by: int) -> int:
    """Closed-form flat-block sample value per (component, block) —
    the codec family's modular-arithmetic generator shape, offset into
    [28, 227] so no pixel ever clamps."""
    if comp == 0:
        return (doc_id + 7 * bx + 13 * by) % 200 + 28
    if comp == 1:
        return (3 * doc_id + 5 * bx + by) % 200 + 28
    return (doc_id + bx * by) % 200 + 28


def _jpeg_code_map(bits: list, vals: list) -> dict:
    """Canonical Huffman ENCODER map value -> (code, length) per the
    T.81 Annex C code-length assignment."""
    out = {}
    code, k = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            k += 1
            code += 1
        code <<= 1
    return out


def _jpeg_decode_table(bits: list, vals: list) -> dict:
    """Canonical Huffman DECODER map (length, code) -> value — the
    same Annex C walk as the encoder map, keyed for bitwise decode."""
    out = {}
    code, k = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[(ln, code)] = vals[k]
            k += 1
            code += 1
        code <<= 1
    return out


class _JpegBitWriter:
    """Entropy-stream bit writer with the spec's 0xFF00 byte stuffing;
    final partial byte pads with 1-bits (T.81 F.1.2.3)."""

    def __init__(self):
        self.buf = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, code: int, length: int) -> None:
        for i in range(length - 1, -1, -1):
            self._acc = (self._acc << 1) | ((code >> i) & 1)
            self._n += 1
            if self._n == 8:
                self.buf.append(self._acc)
                if self._acc == 0xFF:
                    self.buf.append(0x00)
                self._acc = 0
                self._n = 0

    def flush(self) -> None:
        while self._n:
            self.write(1, 1)

    def restart(self, n: int) -> None:
        """Emit an RSTn marker: pad the current byte with 1-bits, then
        the marker (markers are never byte-stuffed)."""
        self.flush()
        self.buf += bytes([0xFF, 0xD0 + n])


class _JpegBitReader:
    """Entropy-stream bit reader: un-stuffs 0xFF00; any other marker
    inside the scan fails LOUD (truncation/corruption, or the
    out-of-scope restart markers)."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self._acc = 0
        self._n = 0

    def bit(self) -> int:
        if self._n == 0:
            if self.pos >= len(self.data):
                raise ValueError("truncated JPEG entropy stream")
            b = self.data[self.pos]
            self.pos += 1
            if b == 0xFF:
                if self.pos >= len(self.data):
                    raise ValueError("truncated JPEG entropy stream")
                m = self.data[self.pos]
                if m != 0x00:
                    raise ValueError(
                        f"unexpected marker 0x{m:02x} in entropy stream"
                    )
                self.pos += 1
            self._acc = b
            self._n = 8
        self._n -= 1
        return (self._acc >> self._n) & 1

    def receive(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def restart(self, n: int) -> None:
        """Consume an expected RSTn marker: drop the pad bits of the
        current byte, then require exactly 0xFF 0xD0+n — a missing or
        out-of-sequence restart IS desync and fails LOUD."""
        self._n = 0
        if (
            self.pos + 2 > len(self.data)
            or self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != 0xD0 + n
        ):
            raise ValueError(
                f"missing or out-of-sequence JPEG restart marker RST{n}"
            )
        self.pos += 2


def _jpeg_huff_decode(reader: _JpegBitReader, table: dict) -> int:
    code, ln = 0, 0
    while ln < 16:
        code = (code << 1) | reader.bit()
        ln += 1
        v = table.get((ln, code))
        if v is not None:
            return v
    raise ValueError("invalid Huffman code in JPEG entropy stream")


def _jpeg_extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 EXTEND: map the t received magnitude bits to the
    signed difference value."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


_JPEG_DC_CODES = (
    _jpeg_code_map(*_JPEG_DC_LUMA),
    _jpeg_code_map(*_JPEG_DC_CHROMA),
)
_JPEG_EOB_CODES = (
    _jpeg_code_map(*_JPEG_AC_LUMA)[0x00],
    _jpeg_code_map(*_JPEG_AC_CHROMA)[0x00],
)


def _jpeg_seg(marker: int, body: bytes) -> bytes:
    return struct.pack(">BBH", 0xFF, marker, len(body) + 2) + body


def _jpeg_baseline(
    doc_id: int,
    w: int,
    h: int,
    hy: int = 1,
    vy: int = 1,
    dri: int | None = None,
) -> bytes:
    """The one baseline JFIF encoder: SOI, APP0, DQT (both quant
    tables), SOF0 (8-bit, 3 components, Y sampled ``hy`` x ``vy``,
    Cb/Cr 1x1), DHT (all four Annex K.3 standard tables), an optional
    DRI, SOS, the interleaved Huffman-coded MCUs, EOI. Each MCU covers
    8*hy x 8*vy pixels: ``hy * vy`` Y blocks in raster order (T.81
    A.2.3), Y indexed by its own 8x8 block grid, then one Cb and one Cr
    indexed by the MCU grid. Every block is flat at its closed-form
    ``_jpeg_block_val`` — a DC-only block (the DC difference through
    the real category/EXTEND magnitude coding; AC as one EOB symbol).
    ``dri=N`` emits a DRI segment and a byte-aligned cyclic RSTn every
    N MCUs with all DC predictors reset (T.81 E.2.4)."""
    buf = bytearray(b"\xff\xd8")  # SOI
    buf += _jpeg_seg(
        0xE0, b"JFIF\x00" + struct.pack(">BBBHHBB", 1, 1, 0, 1, 1, 0, 0)
    )
    buf += _jpeg_seg(
        0xDB,
        bytes([0x00]) + bytes(_JPEG_QT_LUMA)
        + bytes([0x01]) + bytes(_JPEG_QT_CHROMA),
    )
    buf += _jpeg_seg(
        0xC0,
        struct.pack(">BHHB", 8, h, w, 3)
        + bytes([1, 0x10 * hy + vy, 0, 2, 0x11, 1, 3, 0x11, 1]),
    )
    dht = bytearray()
    for cls_id, (bits, vals) in (
        (0x00, _JPEG_DC_LUMA),
        (0x10, _JPEG_AC_LUMA),
        (0x01, _JPEG_DC_CHROMA),
        (0x11, _JPEG_AC_CHROMA),
    ):
        dht += bytes([cls_id]) + bytes(bits) + bytes(vals)
    buf += _jpeg_seg(0xC4, bytes(dht))
    if dri:
        buf += _jpeg_seg(0xDD, struct.pack(">H", dri))
    buf += _jpeg_seg(0xDA, bytes([3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0]))
    bw = _JpegBitWriter()
    pred = [0, 0, 0]
    mcu = 0
    for my in range(h // (8 * vy)):
        for mx in range(w // (8 * hy)):
            if dri and mcu and mcu % dri == 0:
                bw.restart((mcu // dri - 1) % 8)
                pred = [0, 0, 0]
            mcu += 1
            blocks = [
                (0, hy * mx + hh, vy * my + vv)
                for vv in range(vy)
                for hh in range(hy)
            ] + [(1, mx, my), (2, mx, my)]
            for comp, bx, by in blocks:
                tsel = 0 if comp == 0 else 1
                dc = _jpeg_block_val(doc_id, comp, bx, by) - 128
                diff = dc - pred[comp]
                pred[comp] = dc
                t = abs(diff).bit_length()
                bw.write(*_JPEG_DC_CODES[tsel][t])
                if t:
                    bw.write(diff if diff >= 0 else diff + (1 << t) - 1, t)
                bw.write(*_JPEG_EOB_CODES[tsel])
    bw.flush()
    return bytes(buf + bw.buf + b"\xff\xd9")  # EOI


def _jpeg_spliced(doc_id: int, app1: bytes) -> bytes:
    """The baseline 4:4:4 stream with an APP1 segment spliced directly
    after SOI (the camera-file layout: the APP1 leads the metadata
    block; the JFIF APP0 that follows is marker-walk-skipped)."""
    jpeg = _jpeg_baseline(doc_id, *_jpeg_dims(doc_id))
    return jpeg[:2] + app1 + jpeg[2:]


def synthesize_jpeg(docs: DataFrame, dri: int | None = None) -> DataFrame:
    """One REAL baseline 4:4:4 JFIF payload per document
    (``_jpeg_baseline``). The DC-only flat blocks are what make the
    lossy transform chain CLOSED-FORM at the oracle grain, and the DC
    differences walk multiple Huffman categories. ``dri=N`` adds the
    restart-interval structure of camera files."""
    return _synthesize(
        docs, JPEG_MIME, lambda d: _jpeg_baseline(d, *_jpeg_dims(d), dri=dri)
    )


def _jpeg_idct_mat():
    """The 8-point DCT-III basis matrix A with A[u, x] =
    C(u)/2 * cos((2x+1) u pi / 16); the 2D IDCT is A.T @ F @ A."""
    a = np.zeros((8, 8))
    for u in range(8):
        cu = (1.0 / math.sqrt(2.0)) if u == 0 else 1.0
        for x in range(8):
            a[u, x] = (cu / 2.0) * math.cos((2 * x + 1) * u * math.pi / 16)
    return a


def _jpeg_raster(payload: bytes):
    """Baseline-scope JPEG decoder core: marker walk (APPn/COM
    skipped; progressive/extended SOFs and 12-bit precision fail LOUD
    as out-of-scope), multi-table DQT/DHT parse, canonical Huffman
    decode, DC prediction, the full AC run-length loop, zigzag
    dequantization, float IDCT, level shift + clamp. RESTART
    intervals (DRI/RSTn, T.81 E.2.4) are honored: at each boundary
    the reader byte-aligns, requires the cyclic RSTn (a missing or
    out-of-sequence marker IS desync and fails loud), and all DC
    predictor chains reset. Supports the two real-world sampling layouts — 4:4:4 (all
    components 1x1) and 4:2:0 (Y 2x2, chroma 1x1, the interleaved
    6-block MCU) — any other layout fails LOUD. Returns (width,
    height, [Y, Cb, Cr] uint8 planes AT NATIVE RESOLUTION — 4:2:0
    chroma planes are quarter-size; upsampling is a consumer choice
    the spec does not fix — and the per-component (hi, vi) sampling
    factors). The trailing EOI is REQUIRED — a stream cut after the
    last complete MCU fails, the codec-family truncation contract."""
    p = bytes(payload)
    if p[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    qts: dict[int, list] = {}
    hts: dict[int, dict] = {}
    sof = None
    scan = None
    dri = 0
    while True:
        if pos + 4 > len(p):
            raise ValueError("truncated JPEG: no SOS marker")
        if p[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        m = p[pos + 1]
        pos += 2
        if m == 0xD9:
            raise ValueError("EOI before SOS: no image data")
        (length,) = struct.unpack_from(">H", p, pos)
        seg = p[pos + 2 : pos + length]
        if len(seg) != length - 2:
            raise ValueError("truncated JPEG segment")
        pos += length
        if m == 0xDB:
            o = 0
            while o < len(seg):
                pq, tq = seg[o] >> 4, seg[o] & 15
                if pq != 0:
                    raise ValueError("unsupported JPEG: 16-bit quant table")
                if o + 65 > len(seg):
                    raise ValueError("truncated DQT segment")
                qts[tq] = list(seg[o + 1 : o + 65])
                o += 65
        elif m == 0xC0:
            prec, h, w, nc = struct.unpack_from(">BHHB", seg, 0)
            if prec != 8:
                raise ValueError("unsupported JPEG: 12-bit precision")
            if nc != 3:
                raise ValueError("unsupported JPEG: need 3 components")
            comps = []
            for i in range(nc):
                cid, samp, tq = seg[6 + 3 * i : 9 + 3 * i]
                comps.append((cid, samp >> 4, samp & 15, tq))
            layout = tuple((hi, vi) for _, hi, vi, _ in comps)
            if layout not in (
                ((1, 1), (1, 1), (1, 1)),  # 4:4:4
                ((2, 2), (1, 1), (1, 1)),  # 4:2:0
                ((2, 1), (1, 1), (1, 1)),  # 4:2:2
            ):
                raise ValueError(
                    "unsupported JPEG: subsampled chroma layout "
                    f"{layout} (4:4:4 / 4:2:0 / 4:2:2 only)"
                )
            sof = (w, h, comps)
        elif m in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                   0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise ValueError(
                f"unsupported JPEG: non-baseline SOF 0x{m:02x}"
            )
        elif m == 0xC4:
            o = 0
            while o < len(seg):
                tc_th = seg[o]
                bits = list(seg[o + 1 : o + 17])
                n = sum(bits)
                vals = list(seg[o + 17 : o + 17 + n])
                if len(vals) != n:
                    raise ValueError("truncated DHT segment")
                hts[tc_th] = _jpeg_decode_table(bits, vals)
                o += 17 + n
        elif m == 0xDD:
            if len(seg) != 2:
                raise ValueError("malformed DRI segment")
            (dri,) = struct.unpack_from(">H", seg, 0)
        elif m == 0xDA:
            ns = seg[0]
            if ns != 3:
                raise ValueError("unsupported JPEG: need 3-component scan")
            stabs = {}
            for i in range(ns):
                cs, tt = seg[1 + 2 * i : 3 + 2 * i]
                stabs[cs] = (tt >> 4, tt & 15)
            ss, se, ahal = seg[1 + 2 * ns : 4 + 2 * ns]
            if (ss, se, ahal) != (0, 63, 0):
                raise ValueError("unsupported JPEG: progressive scan params")
            scan = stabs
            break
        elif 0xE0 <= m <= 0xEF or m == 0xFE:
            pass  # APPn / COM
        else:
            raise ValueError(f"unsupported JPEG marker 0x{m:02x}")
    if sof is None:
        raise ValueError("JPEG scan before SOF0 header")
    w, h, comps = sof
    if w == 0 or h == 0:
        raise ValueError(f"degenerate JPEG dimensions {w}x{h}")
    max_h = max(hi for _, hi, _, _ in comps)
    max_v = max(vi for _, _, vi, _ in comps)
    mx = (w + 8 * max_h - 1) // (8 * max_h)
    my = (h + 8 * max_v - 1) // (8 * max_v)
    amat = _jpeg_idct_mat()
    planes = [
        np.zeros((my * 8 * vi, mx * 8 * hi), dtype=np.uint8)
        for _, hi, vi, _ in comps
    ]
    reader = _JpegBitReader(p, pos)
    pred = [0] * len(comps)
    mcu_index = 0
    for by in range(my):
        for bx in range(mx):
            if dri and mcu_index and mcu_index % dri == 0:
                # restart boundary: byte-align, consume the cyclic
                # RSTn, reset ALL DC predictor chains (T.81 E.2.4)
                reader.restart((mcu_index // dri - 1) % 8)
                pred = [0] * len(comps)
            mcu_index += 1
            for ci, (cid, hi, vi, tq) in enumerate(comps):
                if cid not in scan:
                    raise ValueError("scan is missing a frame component")
                td, ta = scan[cid]
                dct = hts.get(td)
                act = hts.get(0x10 | ta)
                qt = qts.get(tq)
                if dct is None or act is None or qt is None:
                    raise ValueError("JPEG references an undefined table")
                # hi x vi blocks per MCU, raster order (T.81 A.2.3)
                for vv in range(vi):
                    for hh in range(hi):
                        coef = [0] * 64
                        t = _jpeg_huff_decode(reader, dct)
                        pred[ci] += _jpeg_extend(reader.receive(t), t)
                        coef[0] = pred[ci] * qt[0]
                        k = 1
                        while k <= 63:
                            rs = _jpeg_huff_decode(reader, act)
                            r, s = rs >> 4, rs & 15
                            if s == 0:
                                if r == 15:
                                    k += 16  # ZRL: sixteen zeros
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                raise ValueError(
                                    "JPEG AC coefficient overrun"
                                )
                            coef[_JPEG_ZIGZAG[k]] = (
                                _jpeg_extend(reader.receive(s), s) * qt[k]
                            )
                            k += 1
                        fmat = np.array(
                            coef, dtype=np.float64
                        ).reshape(8, 8)
                        blk = amat.T @ fmat @ amat
                        pix = np.clip(np.round(blk) + 128, 0, 255).astype(
                            np.uint8
                        )
                        py = (by * vi + vv) * 8
                        px = (bx * hi + hh) * 8
                        planes[ci][py : py + 8, px : px + 8] = pix
    # the spec's end-of-stream integrity marker: after the last MCU
    # (and the writer's 1-bit padding) the next bytes MUST be EOI
    if p[reader.pos : reader.pos + 2] != b"\xff\xd9":
        raise ValueError("truncated JPEG: missing EOI after scan")
    cropped = []
    for pl, (_, hi, vi, _) in zip(planes, comps):
        cw = (w * hi + max_h - 1) // max_h
        ch = (h * vi + max_v - 1) // max_v
        cropped.append(pl[:ch, :cw])
    return w, h, cropped, [(hi, vi) for _, hi, vi, _ in comps]


def decode_jpeg(payload: bytes) -> dict:
    """REAL decoder for baseline 4:4:4 / 4:2:0 JFIF — numpy only.
    Integer-exact stats over the decoded component planes AT NATIVE
    RESOLUTION (4:2:0 chroma sums run over the quarter-size planes —
    no upsampling convention leaks into the oracle): the generator's
    DC-only construction makes every sample closed-form, so a Huffman
    mis-decode, a wrong DC prediction seam, a dequant table mixup, an
    MCU block-order slip, or an IDCT normalization slip is
    oracle-visible in the sums."""
    w, h, (py, pcb, pcr), samps = _jpeg_raster(payload)
    max_h = max(hi for hi, _ in samps)
    max_v = max(vi for _, vi in samps)
    mx = (w + 8 * max_h - 1) // (8 * max_h)
    my = (h + 8 * max_v - 1) // (8 * max_v)
    n_blocks = mx * my * sum(hi * vi for hi, vi in samps)
    return {
        "width": w,
        "height": h,
        "n_pixels": w * h,
        "n_blocks": n_blocks,
        "sum_y": int(py.sum(dtype="int64")),
        "sum_cb": int(pcb.sum(dtype="int64")),
        "sum_cr": int(pcr.sum(dtype="int64")),
        "corner_y": int(py[0, 0]),
        "corner_cb": int(pcb[0, 0]),
    }


JPEG_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_pixels", LongType()),
        StructField("n_blocks", LongType()),
        StructField("sum_y", LongType()),
        StructField("sum_cb", LongType()),
        StructField("sum_cr", LongType()),
        StructField("corner_y", IntegerType()),
        StructField("corner_cb", IntegerType()),
    ]
)


def q_multimodal_jpeg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end REAL JPEG decode proof — the first TRANSFORM-coded
    codec: the generator emits spec-valid baseline JFIF (standard
    Annex K Huffman tables, real DC-difference magnitude coding, byte
    stuffing, interleaved 4:4:4 MCUs) whose decode is closed-form
    because every block is DC-only with a DC quant step of 8 — the
    lossy chain becomes bit-exact at the oracle grain, the
    generator-must-emit-byte-exact-decoder-input discipline the PNG
    entry set for DEFLATE."""
    media = synthesize_jpeg(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: decode_jpeg(p), JPEG_STATS_SCHEMA)


QUERIES["multimodal_jpeg_stats"] = q_multimodal_jpeg_stats


def q_multimodal_jpeg_dri_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The restart-interval stream structure (DRI/RSTn — what real
    camera files carry for error resilience): same closed-form image
    as ``multimodal_jpeg_stats``, but the entropy stream byte-aligns
    and emits a cyclic RSTn every 2 MCUs with ALL DC predictor chains
    reset — so a decoder that misses the reset (the classic restart
    bug: predictors carried across the boundary) shifts every
    post-restart DC and the sums go visibly wrong. The oracle is the
    4:4:4 closed form VERBATIM: restart structure must be
    sum-invisible when handled right, load-bearing when not."""
    media = synthesize_jpeg(load_table(spark, sf_dir, "documents"), dri=2)
    return _map_docs(media, lambda _, p: decode_jpeg(p), JPEG_STATS_SCHEMA)


QUERIES["multimodal_jpeg_dri_stats"] = q_multimodal_jpeg_dri_stats

ORACLE["multimodal_jpeg_stats"] = """
    WITH grid AS (
        SELECT doc_id,
               (doc_id % 4) + 1 AS wb,
               (doc_id % 3) + 1 AS hb
        FROM documents
    ),
    bxs AS (
        SELECT doc_id, wb, hb,
               unnest(generate_series(0, wb - 1)) AS bx
        FROM grid
    ),
    cells AS (
        SELECT doc_id, wb, hb, bx,
               unnest(generate_series(0, hb - 1)) AS by
        FROM bxs
    )
    SELECT doc_id,
           CAST(any_value(wb) * 8 AS INTEGER) AS width,
           CAST(any_value(hb) * 8 AS INTEGER) AS height,
           CAST(any_value(wb) * any_value(hb) * 64 AS BIGINT) AS n_pixels,
           CAST(3 * any_value(wb) * any_value(hb) AS BIGINT) AS n_blocks,
           CAST(64 * sum((doc_id + 7 * bx + 13 * by) % 200 + 28) AS BIGINT)
               AS sum_y,
           CAST(64 * sum((3 * doc_id + 5 * bx + by) % 200 + 28) AS BIGINT)
               AS sum_cb,
           CAST(64 * sum((doc_id + bx * by) % 200 + 28) AS BIGINT)
               AS sum_cr,
           CAST(doc_id % 200 + 28 AS INTEGER) AS corner_y,
           CAST((3 * doc_id) % 200 + 28 AS INTEGER) AS corner_cb
    FROM cells
    GROUP BY doc_id
"""

# The DRI variant decodes to the IDENTICAL raster — restart structure
# is sum-invisible when handled right — so it shares the closed form.
ORACLE["multimodal_jpeg_dri_stats"] = ORACLE["multimodal_jpeg_stats"]


def _jpeg_sampler(planes: list, samps: list) -> Callable[[int, int], tuple]:
    """pixel(x, y) -> (Y, Cb, Cr) over decoded component planes at full
    resolution. Subsampled chroma samples at its native grid: full-res
    (x, y) maps to (x*hi // max_h, y*vi // max_v) — the NN analogue of
    the replicate upsample."""
    max_h = max(hi for hi, _ in samps)
    max_v = max(vi for _, vi in samps)
    return lambda x, y: tuple(
        int(pl[(y * vi) // max_v, (x * hi) // max_h])
        for pl, (hi, vi) in zip(planes, samps)
    )


def resize_jpeg_nn(payload: bytes) -> dict:
    """Nearest-neighbor resize on a REAL decoded baseline JPEG — the
    transform-coded member of the resize family: full marker walk,
    Huffman decode, dequant, IDCT (``_jpeg_raster``), then the
    standard NN kernel (target (x', y') samples source
    (x'*w // W', y'*h // H')) per component plane, with per-channel
    sums of the resized planes so a wrong coordinate mapping, plane
    mixup, or block-placement bug is oracle-visible. Subsampled
    chroma samples at its native grid: full-res source (sx, sy) maps
    to chroma (sx*hi//max_h, sy*vi//max_v) — the NN analogue of the
    replicate upsample."""
    w, h, planes, samps = _jpeg_raster(payload)
    sum_y, sum_cb, sum_cr = _nn_sums(w, h, _jpeg_sampler(planes, samps))
    return {
        "src_width": w,
        "src_height": h,
        "sum_y": sum_y,
        "sum_cb": sum_cb,
        "sum_cr": sum_cr,
    }


JPEG_RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("src_width", IntegerType()),
        StructField("src_height", IntegerType()),
        StructField("sum_y", LongType()),
        StructField("sum_cb", LongType()),
        StructField("sum_cr", LongType()),
    ]
)


def q_multimodal_jpeg_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize through the TRANSFORM-CODED container end-to-end:
    synthesize baseline JFIF bytes, decode + NN-resize each component
    plane to PPM_RESIZE_W x PPM_RESIZE_H inside ``mapInPandas``, and
    emit per-channel sums of the resized planes. The generator's
    blocks are flat, so the NN sample at source (x'*w//W', y'*h//H')
    is the closed-form block value at (sx//8, sy//8) — the oracle
    walks the same integer kernel in SQL, but the Spark side must
    earn every sample through the full Huffman+IDCT chain first."""
    media = synthesize_jpeg(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: resize_jpeg_nn(p), JPEG_RESIZE_SCHEMA)


QUERIES["multimodal_jpeg_resize"] = q_multimodal_jpeg_resize

ORACLE["multimodal_jpeg_resize"] = f"""
    WITH grid AS (
        SELECT doc_id,
               ((doc_id % 4) + 1) * 8 AS w,
               ((doc_id % 3) + 1) * 8 AS h
        FROM documents
    ),
    xs AS (
        SELECT doc_id, w, h,
               unnest(generate_series(0, {PPM_RESIZE_W - 1})) AS x2
        FROM grid
    ),
    pix AS (
        SELECT doc_id, w, h, x2,
               unnest(generate_series(0, {PPM_RESIZE_H - 1})) AS y2
        FROM xs
    ),
    src AS (
        SELECT doc_id, w, h,
               ((x2 * w) // {PPM_RESIZE_W}) // 8 AS bx,
               ((y2 * h) // {PPM_RESIZE_H}) // 8 AS by
        FROM pix
    )
    SELECT doc_id,
           CAST(any_value(w) AS INTEGER) AS src_width,
           CAST(any_value(h) AS INTEGER) AS src_height,
           CAST(sum((doc_id + 7 * bx + 13 * by) % 200 + 28) AS BIGINT)
               AS sum_y,
           CAST(sum((3 * doc_id + 5 * bx + by) % 200 + 28) AS BIGINT)
               AS sum_cb,
           CAST(sum((doc_id + bx * by) % 200 + 28) AS BIGINT) AS sum_cr
    FROM src
    GROUP BY doc_id
"""


def _jpeg420_dims(doc_id: int) -> tuple[int, int]:
    """Per-doc MCU grid for the 4:2:0 entry (1..3 x 1..2 MCUs of
    16x16) — dims stay multiples of 16 so every interleaved 6-block
    MCU is full."""
    return ((doc_id % 3) + 1) * 16, ((doc_id % 2) + 1) * 16


def synthesize_jpeg420(docs: DataFrame) -> DataFrame:
    """One REAL baseline 4:2:0 JFIF payload per document — the
    dominant real-world chroma layout: Y sampled 2x2, Cb/Cr 1x1, so
    each interleaved MCU carries FOUR Y blocks (raster order, T.81
    A.2.3) then one Cb and one Cr covering the same 16x16 pixel area.
    Blocks stay DC-only flat at the closed-form ``_jpeg_block_val``:
    Y indexed by its own 8x8 block grid, chroma by the MCU grid — so
    the decode is closed-form at NATIVE chroma resolution and an
    MCU block-order slip (the classic 4:2:0 decoder bug) shifts the
    Y sums visibly."""
    return _synthesize(
        docs, JPEG_MIME, lambda d: _jpeg_baseline(d, *_jpeg420_dims(d), 2, 2)
    )


def q_multimodal_jpeg420_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end 4:2:0 decode proof — the real-world chroma layout:
    the generator interleaves the 6-block MCU (4 Y raster-ordered +
    Cb + Cr), and the SAME general decoder that serves 4:4:4 must
    walk the sampling-factor block loop, keep three DC predictor
    chains straight across the 4-Y runs, and place each Y block at
    (2*mx+hh, 2*my+vv) — the classic places a 4:2:0 decoder breaks.
    Stats run at NATIVE chroma resolution (quarter-size planes), so
    the oracle needs no upsampling convention."""
    media = synthesize_jpeg420(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: decode_jpeg(p), JPEG_STATS_SCHEMA)


QUERIES["multimodal_jpeg420_stats"] = q_multimodal_jpeg420_stats

ORACLE["multimodal_jpeg420_stats"] = """
    WITH grid AS (
        SELECT doc_id,
               (doc_id % 3) + 1 AS mw,
               (doc_id % 2) + 1 AS mh
        FROM documents
    ),
    mxs AS (
        SELECT doc_id, mw, mh,
               unnest(generate_series(0, mw - 1)) AS mx
        FROM grid
    ),
    mcus AS (
        SELECT doc_id, mw, mh, mx,
               unnest(generate_series(0, mh - 1)) AS my
        FROM mxs
    ),
    ysum AS (
        SELECT doc_id,
               CAST(64 * sum((doc_id + 7 * (2 * mx + hh)
                              + 13 * (2 * my + vv)) % 200 + 28) AS BIGINT)
                   AS sum_y
        FROM mcus
        CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS hh)
        CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS vv)
        GROUP BY doc_id
    ),
    csum AS (
        SELECT doc_id,
               CAST(any_value(mw) * 16 AS INTEGER) AS width,
               CAST(any_value(mh) * 16 AS INTEGER) AS height,
               CAST(any_value(mw) * any_value(mh) * 256 AS BIGINT)
                   AS n_pixels,
               CAST(6 * any_value(mw) * any_value(mh) AS BIGINT)
                   AS n_blocks,
               CAST(64 * sum((3 * doc_id + 5 * mx + my) % 200 + 28)
                    AS BIGINT) AS sum_cb,
               CAST(64 * sum((doc_id + mx * my) % 200 + 28) AS BIGINT)
                   AS sum_cr
        FROM mcus
        GROUP BY doc_id
    )
    SELECT c.doc_id, width, height, n_pixels, n_blocks,
           y.sum_y, sum_cb, sum_cr,
           CAST(c.doc_id % 200 + 28 AS INTEGER) AS corner_y,
           CAST((3 * c.doc_id) % 200 + 28 AS INTEGER) AS corner_cb
    FROM csum c JOIN ysum y ON c.doc_id = y.doc_id
"""


def _jpeg422_dims(doc_id: int) -> tuple[int, int]:
    """Per-doc MCU grid for the 4:2:2 entry (1..2 x 1..3 MCUs of
    16x8) — width multiples of 16, height multiples of 8, so every
    interleaved 4-block MCU is full."""
    return ((doc_id % 2) + 1) * 16, ((doc_id % 3) + 1) * 8


def synthesize_jpeg422(docs: DataFrame) -> DataFrame:
    """One REAL baseline 4:2:2 JFIF payload per document — the
    video-derived stills layout: Y sampled 2x1, Cb/Cr 1x1, so each
    interleaved MCU carries TWO side-by-side Y blocks then one Cb and
    one Cr covering the same 16x8 pixel area (chroma half-width,
    full-height — the asymmetric case that catches a decoder
    conflating the two sampling axes). Blocks stay DC-only flat at
    the closed-form ``_jpeg_block_val``: Y indexed by its own block
    grid, chroma by the MCU grid."""
    return _synthesize(
        docs, JPEG_MIME, lambda d: _jpeg_baseline(d, *_jpeg422_dims(d), 2, 1)
    )


def q_multimodal_jpeg422_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end 4:2:2 decode proof — the third sampling layout
    through the SAME general decoder: the asymmetric (2,1) factors
    exercise the axis the square layouts cannot — a decoder that
    conflates horizontal and vertical sampling (or transposes the
    block-placement arithmetic) decodes 4:4:4 and 4:2:0 perfectly and
    breaks HERE. Chroma planes come back half-width full-height at
    native resolution."""
    media = synthesize_jpeg422(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: decode_jpeg(p), JPEG_STATS_SCHEMA)


QUERIES["multimodal_jpeg422_stats"] = q_multimodal_jpeg422_stats

ORACLE["multimodal_jpeg422_stats"] = """
    WITH grid AS (
        SELECT doc_id,
               (doc_id % 2) + 1 AS mw,
               (doc_id % 3) + 1 AS mh
        FROM documents
    ),
    mxs AS (
        SELECT doc_id, mw, mh,
               unnest(generate_series(0, mw - 1)) AS mx
        FROM grid
    ),
    mcus AS (
        SELECT doc_id, mw, mh, mx,
               unnest(generate_series(0, mh - 1)) AS my
        FROM mxs
    ),
    ysum AS (
        SELECT doc_id,
               CAST(64 * sum((doc_id + 7 * (2 * mx + hh) + 13 * my)
                             % 200 + 28) AS BIGINT) AS sum_y
        FROM mcus
        CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS hh)
        GROUP BY doc_id
    ),
    csum AS (
        SELECT doc_id,
               CAST(any_value(mw) * 16 AS INTEGER) AS width,
               CAST(any_value(mh) * 8 AS INTEGER) AS height,
               CAST(any_value(mw) * any_value(mh) * 128 AS BIGINT)
                   AS n_pixels,
               CAST(4 * any_value(mw) * any_value(mh) AS BIGINT)
                   AS n_blocks,
               CAST(64 * sum((3 * doc_id + 5 * mx + my) % 200 + 28)
                    AS BIGINT) AS sum_cb,
               CAST(64 * sum((doc_id + mx * my) % 200 + 28) AS BIGINT)
                   AS sum_cr
        FROM mcus
        GROUP BY doc_id
    )
    SELECT c.doc_id, width, height, n_pixels, n_blocks,
           y.sum_y, sum_cb, sum_cr,
           CAST(c.doc_id % 200 + 28 AS INTEGER) AS corner_y,
           CAST((3 * c.doc_id) % 200 + 28 AS INTEGER) AS corner_cb
    FROM csum c JOIN ysum y ON c.doc_id = y.doc_id
"""


# ---------------------------------------------------------------------------
# JPEG APP1/EXIF metadata (EXIF 2.3 + TIFF 6.0, public specs) — the
# curation signal real image pipelines filter on BEFORE decoding a
# single pixel: orientation, capture timestamp, camera make, declared
# pixel dimensions. The extractor is a real TIFF-structure walk
# (byte-order flag, IFD entry table, inline-vs-offset values, the
# Exif sub-IFD pointer), not a field peek — corruption fails loud.
# ---------------------------------------------------------------------------

_EXIF_EPOCH = (2020, 1, 1, 0, 0, 0)


def _exif_fields_for(doc_id: int) -> dict:
    """Closed-form EXIF field values per doc (the codec-family
    generator shape): byte order alternates II/MM so BOTH TIFF
    endiannesses are exercised, orientation walks all 8 spec values,
    dims mirror the SOF closed form, the timestamp steps a coprime
    stride through ~28 hours."""
    w, h = _jpeg_dims(doc_id)
    t = dt.datetime(*_EXIF_EPOCH) + dt.timedelta(
        seconds=(doc_id * 977) % 100_000
    )
    return {
        "byte_order": "II" if doc_id % 2 == 0 else "MM",
        "orientation": (doc_id % 8) + 1,
        "make": f"CAM{doc_id % 5}",
        "datetime_original": t.strftime("%Y:%m:%d %H:%M:%S"),
        "exif_width": w,
        "exif_height": h,
    }


def _build_exif_app1(doc_id: int) -> bytes:
    """Spec-valid APP1 payload: ``Exif\\x00\\x00`` + TIFF header +
    IFD0 (Make as an OFFSET ASCII value, Orientation inline SHORT,
    the 0x8769 Exif-IFD pointer) + Exif IFD (DateTimeOriginal offset
    ASCII-20, PixelXDimension / PixelYDimension inline LONGs). Entries
    tag-sorted within each IFD, offsets word-aligned (TIFF 6.0)."""
    f = _exif_fields_for(doc_id)
    little = f["byte_order"] == "II"
    e = "<" if little else ">"
    make = f["make"].encode("ascii") + b"\x00"  # 5 bytes -> offset value

    def entry(tag: int, typ: int, count: int, value_field: bytes) -> bytes:
        return struct.pack(e + "HHI", tag, typ, count) + value_field

    def short_inline(v: int) -> bytes:
        return struct.pack(e + "H", v) + b"\x00\x00"

    def long_inline(v: int) -> bytes:
        return struct.pack(e + "I", v)

    # layout (offsets from TIFF header): 8 IFD0, 50 make, 56 Exif IFD,
    # 98 DateTimeOriginal, 118 end
    ifd0_off, make_off, exif_off, dto_off = 8, 50, 56, 98
    dto = f["datetime_original"].encode("ascii") + b"\x00"  # 20 bytes
    tiff = bytearray()
    tiff += (b"II" if little else b"MM") + struct.pack(e + "HI", 42, ifd0_off)
    tiff += struct.pack(e + "H", 3)
    tiff += entry(0x010F, 2, len(make), long_inline(make_off))  # Make
    tiff += entry(0x0112, 3, 1, short_inline(f["orientation"]))
    tiff += entry(0x8769, 4, 1, long_inline(exif_off))  # Exif IFD ptr
    tiff += struct.pack(e + "I", 0)  # no next IFD
    assert len(tiff) == make_off
    tiff += make + b"\x00"  # pad to even
    assert len(tiff) == exif_off
    tiff += struct.pack(e + "H", 3)
    tiff += entry(0x9003, 2, len(dto), long_inline(dto_off))
    tiff += entry(0xA002, 4, 1, long_inline(f["exif_width"]))
    tiff += entry(0xA003, 4, 1, long_inline(f["exif_height"]))
    tiff += struct.pack(e + "I", 0)
    assert len(tiff) == dto_off
    tiff += dto
    body = b"Exif\x00\x00" + bytes(tiff)
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def synthesize_jpeg_exif(docs: DataFrame) -> DataFrame:
    """The ``synthesize_jpeg`` baseline stream with a crafted APP1
    EXIF segment spliced directly after SOI (the camera-file layout:
    Exif APP1 leads the metadata block; the JFIF APP0 that follows is
    marker-walk-skipped by any compliant reader)."""
    return _synthesize(
        docs, JPEG_MIME, lambda d: _jpeg_spliced(d, _build_exif_app1(d))
    )


def _tiff_ifd_entries(t: bytes, e: str, off: int) -> tuple[dict, int]:
    """Walk one TIFF IFD at ``off``: returns ({tag: (type, count,
    value_bytes)}, next_ifd_offset) with offset-stored values resolved
    against the full TIFF block — truncation anywhere fails loud."""
    sizes = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 7: 1, 9: 4, 10: 8}
    if off + 2 > len(t):
        raise ValueError("EXIF: IFD offset beyond TIFF block")
    (n,) = struct.unpack_from(e + "H", t, off)
    end = off + 2 + 12 * n + 4
    if end > len(t):
        raise ValueError("EXIF: truncated IFD entry table")
    entries = {}
    for i in range(n):
        tag, typ, cnt = struct.unpack_from(e + "HHI", t, off + 2 + 12 * i)
        if typ not in sizes:
            raise ValueError(f"EXIF: unknown TIFF type {typ}")
        nbytes = sizes[typ] * cnt
        vfield = off + 2 + 12 * i + 8
        if nbytes <= 4:
            raw = t[vfield : vfield + nbytes]
        else:
            (voff,) = struct.unpack_from(e + "I", t, vfield)
            if voff + nbytes > len(t):
                raise ValueError("EXIF: value offset beyond TIFF block")
            raw = t[voff : voff + nbytes]
        entries[tag] = (typ, cnt, raw)
    (nxt,) = struct.unpack_from(e + "I", t, end - 4)
    return entries, nxt


def _exif_scalar(e: str, ent: tuple) -> int:
    typ, cnt, raw = ent
    if typ == 3:
        return struct.unpack_from(e + "H", raw, 0)[0]
    if typ == 4:
        return struct.unpack_from(e + "I", raw, 0)[0]
    raise ValueError(f"EXIF: expected SHORT/LONG, got type {typ}")


def _jpeg_exif_tiff(payload: bytes) -> tuple[bytes, str] | None:
    """The shared Exif prologue: the standard JPEG marker walk to the
    APP1 segment bearing the ``Exif\\x00\\x00`` identifier (other APPn
    — JFIF APP0, XMP APP1 — are skipped), then TIFF 6.0 header
    validation: byte-order flag (II/MM else loud), magic 42. Returns
    (tiff_block, struct_endianness) or None when no Exif APP1 exists
    (the has-no-metadata case a curation filter must distinguish from
    corrupt); malformed structure raises."""
    p = bytes(payload)
    if p[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload (missing SOI)")
    pos = 2
    tiff = None
    while pos + 4 <= len(p):
        if p[pos] != 0xFF:
            raise ValueError("JPEG marker sync lost")
        m = p[pos + 1]
        if m in (0xD9, 0xDA):
            break  # image data: EXIF lives before the scan
        (length,) = struct.unpack_from(">H", p, pos + 2)
        seg = p[pos + 4 : pos + 2 + length]
        if len(seg) != length - 2:
            raise ValueError("truncated JPEG segment")
        if m == 0xE1 and seg[:6] == b"Exif\x00\x00":
            tiff = seg[6:]
            break
        pos += 2 + length
    if tiff is None:
        return None
    if len(tiff) < 8:
        raise ValueError("EXIF: truncated TIFF header")
    order = tiff[:2]
    if order == b"II":
        e = "<"
    elif order == b"MM":
        e = ">"
    else:
        raise ValueError(f"EXIF: bad TIFF byte-order flag {order!r}")
    magic, _ = struct.unpack_from(e + "HI", tiff, 2)
    if magic != 42:
        raise ValueError(f"EXIF: bad TIFF magic {magic}")
    return tiff, e


def extract_jpeg_exif(payload: bytes) -> dict | None:
    """APP1/EXIF extraction: the shared ``_jpeg_exif_tiff`` prologue
    (marker walk + TIFF header validation), then the REAL TIFF 6.0
    walk — IFD0 entry table, the 0x8769 pointer into the Exif
    sub-IFD. Returns None when no Exif APP1 exists; malformed TIFF
    structure raises."""
    hdr = _jpeg_exif_tiff(payload)
    if hdr is None:
        return None
    tiff, e = hdr
    (ifd0,) = struct.unpack_from(e + "I", tiff, 4)
    entries, _ = _tiff_ifd_entries(tiff, e, ifd0)
    order = tiff[:2]
    out = {
        "byte_order": order.decode("ascii"),
        "orientation": None,
        "make": None,
        "datetime_original": None,
        "exif_width": None,
        "exif_height": None,
    }
    if 0x0112 in entries:
        out["orientation"] = _exif_scalar(e, entries[0x0112])
    if 0x010F in entries:
        out["make"] = (
            entries[0x010F][2].split(b"\x00", 1)[0].decode("ascii")
        )
    if 0x8769 in entries:
        sub, _ = _tiff_ifd_entries(
            tiff, e, _exif_scalar(e, entries[0x8769])
        )
        if 0x9003 in sub:
            out["datetime_original"] = (
                sub[0x9003][2].split(b"\x00", 1)[0].decode("ascii")
            )
        if 0xA002 in sub:
            out["exif_width"] = _exif_scalar(e, sub[0xA002])
        if 0xA003 in sub:
            out["exif_height"] = _exif_scalar(e, sub[0xA003])
    return out


JPEG_EXIF_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("byte_order", StringType()),
        StructField("orientation", IntegerType()),
        StructField("make", StringType()),
        StructField("datetime_original", StringType()),
        StructField("exif_width", IntegerType()),
        StructField("exif_height", IntegerType()),
    ]
)


def _required(extract: Callable[[bytes], dict | None], what: str):
    """``_map_docs`` body for a metadata extractor whose generator
    always writes the segment: a None result fails loud."""

    def fn(doc_id: int, payload: bytes) -> dict:
        d = extract(payload)
        if d is None:
            raise ValueError(f"doc {doc_id}: generator emitted no {what}")
        return d

    return fn


def q_multimodal_jpeg_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF metadata extraction at corpus scale — the filter-before-
    decode stage of a real image pipeline (orientation fix-up lists,
    capture-time windows, camera allowlists) run WITHOUT touching the
    entropy stream: the generator splices spec-valid APP1 blocks
    (both TIFF byte orders, inline and offset values, the Exif
    sub-IFD indirection) and the extractor earns every field through
    the generic marker + TIFF walk."""
    media = synthesize_jpeg_exif(load_table(spark, sf_dir, "documents"))
    return _map_docs(
        media, _required(extract_jpeg_exif, "APP1"), JPEG_EXIF_SCHEMA
    )


QUERIES["multimodal_jpeg_exif"] = q_multimodal_jpeg_exif

ORACLE["multimodal_jpeg_exif"] = """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
           CAST(doc_id % 8 + 1 AS INTEGER) AS orientation,
           'CAM' || CAST(doc_id % 5 AS VARCHAR) AS make,
           strftime(TIMESTAMP '2020-01-01 00:00:00'
                    + to_seconds(CAST(doc_id * 977 % 100000 AS BIGINT)),
                    '%Y:%m:%d %H:%M:%S') AS datetime_original,
           CAST((doc_id % 4 + 1) * 8 AS INTEGER) AS exif_width,
           CAST((doc_id % 3 + 1) * 8 AS INTEGER) AS exif_height
    FROM documents
"""


# ---------------------------------------------------------------------------
# FLAC (RFC 9639 / xiph format spec, public) — the first COMPRESSED
# audio codec, completing the audio column of the codec matrix beside
# RIFF/WAVE: metadata-block walk, the bit-packed frame header with its
# UTF-8-coded frame number, CRC-8 header / CRC-16 frame validation,
# and bit-level subframe decode. Scope-controlled like the JPEG
# DC-only discipline: CONSTANT + VERBATIM subframes over mono 16-bit
# fixed-blocksize streams (closed-form-friendly); FIXED/LPC subframes,
# mid/side stereo, wasted bits, and variable blocking fail LOUD.
# ---------------------------------------------------------------------------

FLAC_MIME = "audio/flac"
_FLAC_BS = 16  # fixed frame blocksize (8-bit blocksize-1 header code)


def _flac_params(doc_id: int) -> tuple[int, int]:
    """(sample_rate, n_samples) — the WAV closed forms, so the two
    audio containers share arithmetic the oracle can mirror."""
    return 8000 + (doc_id % 4) * 2000, 64 + (doc_id % 97)


def _flac_const_val(doc_id: int, k: int) -> int:
    """Constant-frame sample value for frame k — non-negative residue
    so Python and SQL % agree."""
    return (doc_id * 7 + k * 13) % 4001 - 2000


def _flac_crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), init 0 — the FLAC
    frame-header CRC."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07 if crc & 0x80 else crc << 1) & 0xFF
    return crc


def _flac_crc16(data: bytes) -> int:
    """CRC-16, polynomial x^16 + x^15 + x^2 + 1 (0x8005), init 0 —
    the FLAC whole-frame CRC."""
    crc = 0
    for b in data:
        crc ^= b << 8
        for _ in range(8):
            crc = (
                ((crc << 1) ^ 0x8005) if crc & 0x8000 else (crc << 1)
            ) & 0xFFFF
    return crc


class _FlacBitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, bits: int) -> None:
        self.acc = (self.acc << bits) | (value & ((1 << bits) - 1))
        self.n += bits
        while self.n >= 8:
            self.n -= 8
            self.buf.append((self.acc >> self.n) & 0xFF)
        self.acc &= (1 << self.n) - 1

    def align(self) -> None:
        if self.n:
            self.write(0, 8 - self.n)


class _FlacBitReader:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.n = 0

    def read(self, bits: int) -> int:
        while self.n < bits:
            if self.pos >= len(self.data):
                raise ValueError("truncated FLAC subframe bitstream")
            self.acc = (self.acc << 8) | self.data[self.pos]
            self.pos += 1
            self.n += 8
        self.n -= bits
        v = (self.acc >> self.n) & ((1 << bits) - 1)
        self.acc &= (1 << self.n) - 1
        return v

    def read_signed(self, bits: int) -> int:
        v = self.read(bits)
        return v - (1 << bits) if v & (1 << (bits - 1)) else v

    def align(self) -> None:
        self.acc, self.n = 0, 0


def _flac_stream(
    doc_id: int,
    subframes: Callable[[_FlacBitWriter, int, int, int], None],
    channel_codes: tuple[int, ...] = (0,),
    pad: int = 0,
) -> bytes:
    """The one FLAC stream writer: ``fLaC`` magic, STREAMINFO (min ==
    max blocksize — the fixed-blocksize declaration; MD5 zeroed =
    unknown, per spec), an optional PADDING metadata block of ``pad``
    bytes the walk must skip, then ceil(n/16) frames. Each frame is
    the spec's bit-packed header (sync 0b11111111111110, fixed
    blocking, 8-bit blocksize-1 code, rate from STREAMINFO, 16-bit
    samples, channel assignment ``channel_codes[k % len]`` — 0 is
    mono, every other code two channels — and a UTF-8-coded frame
    number), its CRC-8, the subframe bits ``subframes(bw, doc_id, k,
    m)`` writes for frame k of m samples, byte alignment, and the
    frame CRC-16."""
    rate, n = _flac_params(doc_id)
    si = _FlacBitWriter()
    si.write(_FLAC_BS, 16)  # min blocksize
    si.write(_FLAC_BS, 16)  # max blocksize == min: fixed
    si.write(0, 24)  # min framesize (0 = unknown)
    si.write(0, 24)  # max framesize
    si.write(rate, 20)
    si.write(0 if channel_codes == (0,) else 1, 3)  # channels - 1
    si.write(15, 5)  # bits per sample - 1 (16)
    si.write(n, 36)
    si.write(0, 128)  # MD5 unknown
    buf = bytearray(b"fLaC")
    # STREAMINFO header: type 0, last-block flag unless PADDING follows
    buf += bytes([0x00 if pad else 0x80]) + len(si.buf).to_bytes(3, "big")
    buf += si.buf
    if pad:  # PADDING, last block
        buf += bytes([0x81]) + pad.to_bytes(3, "big") + bytes(pad)
    for k in range((n + _FLAC_BS - 1) // _FLAC_BS):
        m = min(_FLAC_BS, n - k * _FLAC_BS)
        code = channel_codes[k % len(channel_codes)]
        # sync/fixed, bs=0b0110 rate=streaminfo, channel code + 16-bit,
        # UTF-8 frame no. (k < 128), bs-1
        hdr = bytes([0xFF, 0xF8, 0x60, (code << 4) | 0x08, k, m - 1])
        bw = _FlacBitWriter()
        subframes(bw, doc_id, k, m)
        bw.align()
        frame = hdr + bytes([_flac_crc8(hdr)]) + bytes(bw.buf)
        buf += frame + _flac_crc16(frame).to_bytes(2, "big")
    return bytes(buf)


def _flac_cv_subframe(bw: _FlacBitWriter, d: int, k: int, m: int) -> None:
    if k % 2 == 0:  # CONSTANT subframe
        bw.write(0x00, 8)  # pad0 | type 000000 | w0
        bw.write(_flac_const_val(d, k), 16)
    else:  # VERBATIM subframe
        bw.write(0x02, 8)  # pad0 | type 000001 | w0
        for j in range(m):
            bw.write(_wav_sample(d, k * _FLAC_BS + j), 16)


def synthesize_flac(docs: DataFrame) -> DataFrame:
    """One REAL FLAC stream per document: ``fLaC`` magic, STREAMINFO
    (min==max blocksize — the fixed-blocksize declaration; MD5 zeroed
    = unknown, per spec), a PADDING metadata block the walk must skip,
    then ceil(n/16) frames alternating CONSTANT (even k, flat at the
    closed-form ``_flac_const_val``) and VERBATIM (odd k, the shared
    ``_wav_sample`` closed form on the GLOBAL sample index) — with the
    spec's bit-packed frame headers (sync 0b11111111111110, fixed
    blocking, 8-bit blocksize-1 code, rate-from-STREAMINFO, mono,
    16-bit), UTF-8-coded frame numbers, real CRC-8 and CRC-16."""
    return _synthesize(
        docs,
        FLAC_MIME,
        lambda d: _flac_stream(d, _flac_cv_subframe, pad=4 + d % 3),
    )


def _flac_decode_subframe(
    r: "_FlacBitReader", m: int, bps: int
) -> tuple[str, int | None, list]:
    """Decode ONE subframe at bit depth ``bps`` (the side channel of a
    decorrelated stereo pair carries bps+1 — RFC 9639 §9.2.1):
    CONSTANT / VERBATIM / FIXED+rice / LPC, exactly the mono-scope
    logic parameterized by width. Returns (kind, order, samples);
    reserved types, wasted bits, and every truncation fail LOUD."""
    if r.read(1):
        raise ValueError("FLAC subframe pad bit set")
    stype = r.read(6)
    if r.read(1):
        raise ValueError("unsupported FLAC: wasted bits")
    if stype == 0:
        return "constant", None, [r.read_signed(bps)] * m
    if stype == 1:
        return "verbatim", None, [r.read_signed(bps) for _ in range(m)]
    if 8 <= stype <= 12:
        # FIXED predictor, orders 0-4 (RFC 9639 §9.2.2): warmup
        # samples verbatim, then RICE-partitioned residuals —
        # unary quotient / k-bit remainder, zigzag-folded — and
        # the closed-form polynomial predictor recursion.
        order = stype - 8
        if m < order:
            raise ValueError(
                f"FLAC FIXED order {order} exceeds blocksize {m}"
            )
        samples = [r.read_signed(bps) for _ in range(order)]
        for res in _flac_rice_residuals(r, m, order):
            if order == 0:
                pred = 0
            elif order == 1:
                pred = samples[-1]
            elif order == 2:
                pred = 2 * samples[-1] - samples[-2]
            elif order == 3:
                pred = 3 * samples[-1] - 3 * samples[-2] + samples[-3]
            else:
                pred = (
                    4 * samples[-1] - 6 * samples[-2]
                    + 4 * samples[-3] - samples[-4]
                )
            samples.append(pred + res)
        return "fixed", order, samples
    if stype >= 32:
        # LPC predictor (RFC 9639 §9.2.3): order from the type bits,
        # 4-bit quantized-coefficient precision (code 15 invalid),
        # 5-bit signed shift (negative invalid), signed coefficients,
        # rice residuals, then the quantized prediction
        # s[i] = (sum c_j * s[i-1-j]) >> shift + r[i] (arithmetic
        # shift — Python's >> on ints).
        order = (stype & 0x1F) + 1
        if m < order:
            raise ValueError(
                f"FLAC LPC order {order} exceeds blocksize {m}"
            )
        samples = [r.read_signed(bps) for _ in range(order)]
        prec_code = r.read(4)
        if prec_code == 15:
            raise ValueError(
                "invalid FLAC LPC coefficient precision code 15"
            )
        prec = prec_code + 1
        shift = r.read(5)
        if shift & 0x10:
            raise ValueError("invalid negative FLAC LPC shift")
        coefs = [r.read_signed(prec) for _ in range(order)]
        for res in _flac_rice_residuals(r, m, order):
            pred = sum(
                c * samples[-1 - j] for j, c in enumerate(coefs)
            ) >> shift
            samples.append(pred + res)
        return "lpc", order, samples
    raise ValueError(f"reserved FLAC subframe type {stype}")


def decode_flac(payload: bytes) -> dict:
    """REAL FLAC decode within the declared scope: metadata-block walk
    honoring the is-last flag (PADDING/VORBIS_COMMENT skipped),
    STREAMINFO bit-unpack, then per frame — sync check, fixed-blocking
    check, blocksize/rate/channel/sample-size code decode, UTF-8 frame
    number, CRC-8 verify, bit-level subframe decode (CONSTANT /
    VERBATIM / FIXED+rice / LPC via ``_flac_decode_subframe``), byte
    re-align, CRC-16 verify. Stereo frames (RFC 9639 §4.2 channel
    assignments: independent L/R, left/side, right/side, mid/side —
    the side channel read at bps+1 bits) are RECONSTRUCTED to exact
    L/R before stats. Out-of-scope structure (>2 channels, wasted
    bits, variable blocking, rate-override codes) and every corruption
    fail LOUD; per-channel decoded samples must equal STREAMINFO's
    count."""
    p = bytes(payload)
    if p[:4] != b"fLaC":
        raise ValueError("not a FLAC payload (missing fLaC magic)")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(p):
            raise ValueError("truncated FLAC metadata header")
        btype = p[pos]
        last = bool(btype & 0x80)
        btype &= 0x7F
        (blen,) = struct.unpack(">I", b"\x00" + p[pos + 1 : pos + 4])
        body = p[pos + 4 : pos + 4 + blen]
        if len(body) != blen:
            raise ValueError("truncated FLAC metadata block")
        if btype == 0:
            if blen != 34:
                raise ValueError("malformed STREAMINFO length")
            r = _FlacBitReader(body)
            min_bs, max_bs = r.read(16), r.read(16)
            r.read(24), r.read(24)
            rate, ch, bps = r.read(20), r.read(3) + 1, r.read(5) + 1
            total = r.read(36)
            streaminfo = (min_bs, max_bs, rate, ch, bps, total)
        pos += 4 + blen
        if last:
            break
    if streaminfo is None:
        raise ValueError("FLAC stream missing STREAMINFO")
    min_bs, max_bs, rate, ch, bps, total = streaminfo
    if min_bs != max_bs:
        raise ValueError("unsupported FLAC: variable blocksize stream")
    if ch not in (1, 2):
        raise ValueError("unsupported FLAC: need mono or stereo")
    if bps != 16:
        raise ValueError("unsupported FLAC: need 16-bit samples")
    n_seen = 0
    n_frames = n_const = n_verb = n_fixed = n_lpc = 0
    n_indep = n_left_side = n_right_side = n_mid_side = 0
    fixed_orders = [0] * 5
    sum_abs = sum_sq = 0
    peak = 0
    expect_k = 0
    while pos < len(p):
        fstart = pos
        if pos + 6 > len(p):
            raise ValueError("truncated FLAC frame header")
        sync = (p[pos] << 6) | (p[pos + 1] >> 2)
        if sync != 0x3FFE:
            raise ValueError("FLAC frame sync lost")
        if p[pos + 1] & 0x02:
            raise ValueError("unsupported FLAC: reserved header bit set")
        if p[pos + 1] & 0x01:
            raise ValueError("unsupported FLAC: variable blocking strategy")
        bs_code, rate_code = p[pos + 2] >> 4, p[pos + 2] & 0x0F
        chan_code = p[pos + 3] >> 4
        size_code = (p[pos + 3] >> 1) & 0x07
        if p[pos + 3] & 0x01:
            raise ValueError("unsupported FLAC: reserved frame bit set")
        if rate_code != 0:
            raise ValueError("unsupported FLAC: frame-level rate override")
        # Channel assignment (RFC 9639 §9.1.3): 0 = mono, 1 = two
        # independent channels, 8/9/10 = left/side, right/side,
        # mid/side decorrelation (the side subframe carries bps+1
        # bits). 2-7 (3-8 channels) and reserved 11-15 stay gated.
        if chan_code == 0:
            if ch != 1:
                raise ValueError("FLAC mono frame in a stereo stream")
            widths = [bps]
        elif chan_code == 1:
            if ch != 2:
                raise ValueError("FLAC stereo frame in a mono stream")
            widths = [bps, bps]
        elif chan_code in (8, 9, 10):
            if ch != 2:
                raise ValueError("FLAC stereo frame in a mono stream")
            widths = [bps + 1, bps] if chan_code == 9 else [bps, bps + 1]
        else:
            raise ValueError("unsupported FLAC: non-mono channel layout")
        if size_code != 0b100:
            raise ValueError("unsupported FLAC: non-16-bit frame samples")
        pos += 4
        # UTF-8-coded frame number (single-byte scope: < 128 frames)
        k = p[pos]
        if k & 0x80:
            raise ValueError("unsupported FLAC: multi-byte frame number")
        pos += 1
        if k != expect_k:
            raise ValueError(
                f"FLAC frame number {k} out of sequence (want {expect_k})"
            )
        expect_k += 1
        if bs_code == 0b0110:
            m = p[pos] + 1
            pos += 1
        else:
            raise ValueError(
                f"unsupported FLAC blocksize code 0b{bs_code:04b}"
            )
        crc8 = p[pos]
        if _flac_crc8(p[fstart:pos]) != crc8:
            raise ValueError("FLAC frame-header CRC-8 mismatch")
        pos += 1
        r = _FlacBitReader(p, pos)
        subs = []
        for w in widths:
            kind, order, samples = _flac_decode_subframe(r, m, w)
            if kind == "constant":
                n_const += 1
            elif kind == "verbatim":
                n_verb += 1
            elif kind == "fixed":
                n_fixed += 1
                fixed_orders[order] += 1
            else:
                n_lpc += 1
            subs.append(samples)
        # Stereo reconstruction to exact L/R (RFC 9639 §4.2). mid is
        # (L+R)>>1 with the lost low bit carried by side's parity
        # (L+R and L-R share parity), so (mid<<1)|(side&1) == L+R
        # exactly — Python's arithmetic >> and | on negative ints
        # implement the spec's two's-complement forms directly.
        if chan_code == 0:
            chans = subs
        elif chan_code == 1:
            n_indep += 1
            chans = subs
        elif chan_code == 8:  # left/side: R = L - side
            n_left_side += 1
            left, side = subs
            chans = [left, [a - s for a, s in zip(left, side)]]
        elif chan_code == 9:  # right/side: L = R + side
            n_right_side += 1
            side, right = subs
            chans = [[a + s for a, s in zip(right, side)], right]
        else:  # mid/side
            n_mid_side += 1
            mid, side = subs
            left, right = [], []
            for a, s in zip(mid, side):
                lr_sum = (a << 1) | (s & 1)
                left.append((lr_sum + s) >> 1)
                right.append((lr_sum - s) >> 1)
            chans = [left, right]
        for chan_samples in chans:
            for v in chan_samples:
                sum_abs += abs(v)
                sum_sq += v * v
                peak = max(peak, abs(v))
        r.align()
        pos = r.pos
        if pos + 2 > len(p):
            raise ValueError("truncated FLAC frame footer")
        (crc16,) = struct.unpack_from(">H", p, pos)
        if _flac_crc16(p[fstart:pos]) != crc16:
            raise ValueError("FLAC frame CRC-16 mismatch")
        pos += 2
        n_frames += 1
        n_seen += m
    if n_seen != total:
        raise ValueError(
            f"FLAC sample count mismatch: frames carry {n_seen}, "
            f"STREAMINFO declares {total}"
        )
    return {
        "sample_rate": rate,
        "n_samples": n_seen,
        "n_frames": n_frames,
        "n_constant": n_const,
        "n_verbatim": n_verb,
        "n_fixed": n_fixed,
        "n_lpc": n_lpc,
        "n_indep": n_indep,
        "n_left_side": n_left_side,
        "n_right_side": n_right_side,
        "n_mid_side": n_mid_side,
        "sum_abs": sum_abs,
        "peak": peak,
        "sum_sq": sum_sq,
    }


FLAC_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("n_constant", IntegerType()),
        StructField("n_verbatim", IntegerType()),
        StructField("sum_abs", LongType()),
        StructField("peak", IntegerType()),
        StructField("sum_sq", LongType()),
    ]
)


def q_multimodal_flac_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end COMPRESSED-audio decode proof — the tenth
    first-principles codec and the first compressed audio one: the
    generator emits spec-valid FLAC (bit-packed frame headers, UTF-8
    frame numbers, real CRC-8/CRC-16) whose decode is closed-form
    because every subframe is CONSTANT or VERBATIM — the scope
    discipline that made the JPEG transform chain oracle-exact. A
    decoder that misreads the bit-packed header, drops the blocksize-1
    byte, skips CRC validation, or mis-signs the 16-bit reads goes
    loudly wrong on sum_abs/peak/sum_sq."""
    media = synthesize_flac(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: decode_flac(p), FLAC_STATS_SCHEMA)


QUERIES["multimodal_flac_stats"] = q_multimodal_flac_stats

ORACLE["multimodal_flac_stats"] = """
    WITH params AS (
        SELECT doc_id,
               8000 + (doc_id % 4) * 2000 AS rate,
               64 + (doc_id % 97) AS n
        FROM documents
    ),
    frames AS (
        SELECT doc_id, rate, n,
               unnest(generate_series(0, (n + 15) // 16 - 1)) AS k
        FROM params
    ),
    sized AS (
        SELECT doc_id, rate, n, k,
               CASE WHEN n - k * 16 < 16 THEN n - k * 16 ELSE 16 END AS m
        FROM frames
    ),
    const_frames AS (
        SELECT doc_id, m,
               (doc_id * 7 + k * 13) % 4001 - 2000 AS c
        FROM sized WHERE k % 2 = 0
    ),
    verb_idx AS (
        SELECT doc_id, k, m,
               unnest(generate_series(0, m - 1)) AS j
        FROM sized WHERE k % 2 = 1
    ),
    verb_samples AS (
        SELECT doc_id,
               (doc_id * 31 + (k * 16 + j) * 17
                + ((k * 16 + j) * (k * 16 + j)) % 101) % 4001 - 2000 AS s
        FROM verb_idx
    ),
    contrib AS (
        SELECT doc_id, m * abs(c) AS sa, m * c * c AS sq, abs(c) AS pk
        FROM const_frames
        UNION ALL
        SELECT doc_id, abs(s), s * s, abs(s) FROM verb_samples
    ),
    agg AS (
        SELECT doc_id,
               CAST(sum(sa) AS BIGINT) AS sum_abs,
               CAST(sum(sq) AS BIGINT) AS sum_sq,
               CAST(max(pk) AS INTEGER) AS peak
        FROM contrib GROUP BY doc_id
    )
    SELECT p.doc_id,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(n AS INTEGER) AS n_samples,
           CAST((n + 15) // 16 AS INTEGER) AS n_frames,
           CAST(((n + 15) // 16 + 1) // 2 AS INTEGER) AS n_constant,
           CAST((n + 15) // 16 // 2 AS INTEGER) AS n_verbatim,
           sum_abs, peak, sum_sq
    FROM params p JOIN agg a ON p.doc_id = a.doc_id
"""


# ---------------------------------------------------------------------------
# FLAC FIXED predictors + RICE residual coding (RFC 9639 §9.2.2/9.2.7)
# — the compression heart of FLAC: polynomial predictors of order 0-4
# with zigzag-folded, rice-partitioned residuals (unary quotient,
# k-bit remainder). The generator emits ramp/linear signals whose
# residuals are constant (or zero), keeping the decode closed-form at
# the oracle grain while the decoder stays fully general.
# ---------------------------------------------------------------------------


def _flac_rice_residuals(r: "_FlacBitReader", m: int, order: int) -> list:
    """Read one FIXED/LPC subframe's residual block: 2-bit coding
    method (RICE with 4-bit parameters only — RICE2 fails loud), 4-bit
    partition order, then per partition a 4-bit rice parameter
    (escape code 0b1111 fails loud) and the zigzag-folded residuals —
    unary quotient (count of 0s terminated by 1) and k-bit remainder.
    Partition sample counts follow the spec: m/2^po each, the first
    short by the predictor order."""
    method = r.read(2)
    if method != 0:
        raise ValueError(
            f"unsupported FLAC residual coding method {method} "
            "(RICE2/reserved out of scope)"
        )
    po = r.read(4)
    nparts = 1 << po
    if m % nparts:
        raise ValueError(
            f"FLAC rice partition count {nparts} does not divide "
            f"blocksize {m}"
        )
    out = []
    for part in range(nparts):
        k4 = r.read(4)
        if k4 == 15:
            raise ValueError(
                "unsupported FLAC: escaped (verbatim) rice partition"
            )
        cnt = (m >> po) - (order if part == 0 else 0)
        if cnt < 0:
            raise ValueError(
                "FLAC rice partition smaller than predictor order"
            )
        for _ in range(cnt):
            q = 0
            while r.read(1) == 0:
                q += 1
            mfold = (q << k4) | (r.read(k4) if k4 else 0)
            out.append((mfold >> 1) ^ -(mfold & 1))
    return out


def _flac_fixed_frame_plan(d: int, k: int, m: int) -> tuple[int, list]:
    """(effective predictor order, samples) for frame k — orders cycle
    0/1/2 with a fall-back to 0 when the (last, short) frame cannot
    carry the warmup; order-1 frames are ramps (constant residual =
    step), order-2 frames are the same ramps (linear ⇒ residual 0),
    order-0 frames carry signed rice-coded raw values."""
    eff = k % 3 if m > (k % 3) else 0
    if eff == 0:
        return 0, [
            ((d * 31 + (16 * k + j) * 17) % 128) - 64 for j in range(m)
        ]
    b = (d * 7 + k * 13) % 1800 + 100
    t = (d + k) % 16
    return eff, [b + j * t for j in range(m)]


def _flac_write_residuals(
    bw: _FlacBitWriter, res: list, k4: int, order: int, po: int = 0
) -> None:
    """Write one FIXED/LPC residual block, the inverse of
    ``_flac_rice_residuals``: RICE method, partition order ``po``,
    every partition at rice parameter ``k4`` (the first short by the
    predictor order), zigzag-folded residuals as unary quotient (q
    zeros then the 1 terminator) plus k-bit remainder."""
    bw.write(0, 2)  # residual method: RICE
    bw.write(po, 4)
    at = 0
    for part in range(1 << po):
        cnt = ((len(res) + order) >> po) - (order if part == 0 else 0)
        bw.write(k4, 4)
        for v in res[at : at + cnt]:
            mfold = 2 * v if v >= 0 else -2 * v - 1
            bw.write(1, (mfold >> k4) + 1)
            if k4:
                bw.write(mfold & ((1 << k4) - 1), k4)
        at += cnt


def _flac_fixed_subframe(bw: _FlacBitWriter, d: int, k: int, m: int) -> None:
    eff, samples = _flac_fixed_frame_plan(d, k, m)
    bw.write((8 + eff) << 1, 8)  # pad|type|wasted=0
    for j in range(eff):
        bw.write(samples[j], 16)
    if eff == 0:
        res, k4 = samples, 4
    elif eff == 1:
        res, k4 = [samples[j] - samples[j - 1] for j in range(1, m)], 4
    else:
        res, k4 = [0] * (m - 2), 0
    po = 1 if (eff == 1 and m % 2 == 0) else 0
    _flac_write_residuals(bw, res, k4, eff, po)


def synthesize_flac_fixed(docs: DataFrame) -> DataFrame:
    """A FLAC stream per document whose every subframe is a FIXED
    predictor with real rice-coded residuals: orders cycle 0/1/2 per
    frame (order-0 zigzag-folds signed raws at k=4; order-1 ramps
    leave a constant residual, rice-partitioned at order 1 on even
    blocksizes so multi-partition headers are exercised; order-2
    linear frames leave all-zero residuals at k=0 — the maximal
    compression case). The container (STREAMINFO, frame headers,
    CRC-8/CRC-16) is the shared ``_flac_stream``."""
    return _synthesize(
        docs, FLAC_MIME, lambda d: _flac_stream(d, _flac_fixed_subframe)
    )


FLAC_FIXED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("n_fixed", IntegerType()),
        StructField("sum_abs", LongType()),
        StructField("peak", IntegerType()),
        StructField("sum_sq", LongType()),
    ]
)


def q_multimodal_flac_fixed_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FIXED-predictor FLAC decode end to end — rice coding earned
    for real: every subframe runs the unary/k-bit rice decode, the
    zigzag unfold, and the polynomial predictor recursion (orders
    0/1/2 cycling, multi-partition headers on even-size order-1
    frames, k=0 partitions on the all-zero-residual linear frames).
    A decoder that mis-reads the partition order, drops the first
    partition's order-shortened count, unfolds the zigzag wrong, or
    breaks the predictor recursion goes loudly wrong on
    sum_abs/peak/sum_sq. n_fixed == n_frames pins that no frame fell
    back to CONSTANT/VERBATIM."""
    media = synthesize_flac_fixed(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: decode_flac(p), FLAC_FIXED_SCHEMA)


QUERIES["multimodal_flac_fixed_stats"] = q_multimodal_flac_fixed_stats

ORACLE["multimodal_flac_fixed_stats"] = """
    WITH params AS (
        SELECT doc_id,
               8000 + (doc_id % 4) * 2000 AS rate,
               64 + (doc_id % 97) AS n
        FROM documents
    ),
    frames AS (
        SELECT doc_id, rate, n,
               unnest(generate_series(0, (n + 15) // 16 - 1)) AS k
        FROM params
    ),
    sized AS (
        SELECT doc_id, rate, n, k,
               CASE WHEN n - k * 16 < 16 THEN n - k * 16 ELSE 16 END AS m
        FROM frames
    ),
    idx AS (
        SELECT doc_id, rate, n, k, m,
               unnest(generate_series(0, m - 1)) AS j
        FROM sized
    ),
    samp AS (
        SELECT doc_id,
               CASE WHEN k % 3 = 0 OR m <= k % 3
                    THEN (doc_id * 31 + (16 * k + j) * 17) % 128 - 64
                    ELSE (doc_id * 7 + k * 13) % 1800 + 100
                         + j * ((doc_id + k) % 16)
               END AS s
        FROM idx
    ),
    agg AS (
        SELECT doc_id,
               CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
               CAST(max(abs(s)) AS INTEGER) AS peak,
               CAST(sum(s * s) AS BIGINT) AS sum_sq
        FROM samp GROUP BY doc_id
    )
    SELECT p.doc_id,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(n AS INTEGER) AS n_samples,
           CAST((n + 15) // 16 AS INTEGER) AS n_frames,
           CAST((n + 15) // 16 AS INTEGER) AS n_fixed,
           sum_abs, peak, sum_sq
    FROM params p JOIN agg a ON p.doc_id = a.doc_id
"""


# ---------------------------------------------------------------------------
# FLAC LPC subframes (RFC 9639 §9.2.3) — the last audio gate: real
# quantized-coefficient linear prediction (precision/shift/signed-
# coefficient headers, rice residuals, arithmetic-shift recursion).
# The DECODER is fully general; only the GENERATOR picks coefficient
# sets whose prediction chains stay closed-form (×1 one-tap ramps and
# the 2s₁−s₂ two-tap linear case at a REAL nonzero shift — a decoder
# that misreads precision, shift, or a signed coefficient desyncs the
# bitstream and fails the CRC or wrecks the sums loudly).
# ---------------------------------------------------------------------------


def _flac_lpc_subframe(bw: _FlacBitWriter, d: int, k: int, m: int) -> None:
    b = (d * 7 + k * 13) % 1800 + 100
    t = (d + k) % 16
    samples = [b + j * t for j in range(m)]
    order = 2 if k % 2 == 1 and m >= 2 else 1
    bw.write((32 + order - 1) << 1, 8)  # LPC type
    for j in range(order):
        bw.write(samples[j], 16)
    bw.write(4, 4)  # precision code: 5-bit coefficients
    if order == 2:
        bw.write(2, 5)  # shift 2
        bw.write(8, 5)  # c0 = 8  (2 << 2)
        bw.write(-4 & 0x1F, 5)  # c1 = -4 (signed!)
        _flac_write_residuals(bw, [0] * (m - 2), 0, order)
    else:
        bw.write(3, 5)  # shift 3
        bw.write(8, 5)  # c0 = 8 (1 << 3): quantized x1
        _flac_write_residuals(bw, [t] * (m - 1), 4, order)


def synthesize_flac_lpc(docs: DataFrame) -> DataFrame:
    """A FLAC stream per document whose every subframe is LPC: even
    frames are one-tap order-1 (coefficient 8 at shift 3 — the
    quantized ×1, so residual = ramp step), odd frames two-tap order-2
    (coefficients [8, −4] at shift 2 — the quantized 2s₁−s₂, zero
    residuals at k=0; a short last frame falls back to the one-tap
    flavor). Every sample is the SAME ramp b + j·t either way, so the
    oracle has no case split while the decoder earns precision/shift/
    signed-coefficient parsing on every frame."""
    return _synthesize(
        docs, FLAC_MIME, lambda d: _flac_stream(d, _flac_lpc_subframe)
    )


FLAC_LPC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("n_lpc", IntegerType()),
        StructField("sum_abs", LongType()),
        StructField("peak", IntegerType()),
        StructField("sum_sq", LongType()),
    ]
)


def q_multimodal_flac_lpc_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LPC FLAC decode end to end — the audio column's last gate
    opened: every subframe parses the quantized-coefficient header
    (4-bit precision code, 5-bit shift, order × precision-bit SIGNED
    coefficients — the two-tap frames carry a negative one) and runs
    the arithmetic-shift prediction recursion over rice residuals.
    n_lpc == n_frames pins that no frame fell back."""
    media = synthesize_flac_lpc(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: decode_flac(p), FLAC_LPC_SCHEMA)


QUERIES["multimodal_flac_lpc_stats"] = q_multimodal_flac_lpc_stats

ORACLE["multimodal_flac_lpc_stats"] = """
    WITH params AS (
        SELECT doc_id,
               8000 + (doc_id % 4) * 2000 AS rate,
               64 + (doc_id % 97) AS n
        FROM documents
    ),
    frames AS (
        SELECT doc_id, rate, n,
               unnest(generate_series(0, (n + 15) // 16 - 1)) AS k
        FROM params
    ),
    sized AS (
        SELECT doc_id, rate, n, k,
               CASE WHEN n - k * 16 < 16 THEN n - k * 16 ELSE 16 END AS m
        FROM frames
    ),
    idx AS (
        SELECT doc_id, rate, n, k, m,
               unnest(generate_series(0, m - 1)) AS j
        FROM sized
    ),
    samp AS (
        SELECT doc_id,
               (doc_id * 7 + k * 13) % 1800 + 100
               + j * ((doc_id + k) % 16) AS s
        FROM idx
    ),
    agg AS (
        SELECT doc_id,
               CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
               CAST(max(abs(s)) AS INTEGER) AS peak,
               CAST(sum(s * s) AS BIGINT) AS sum_sq
        FROM samp GROUP BY doc_id
    )
    SELECT p.doc_id,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(n AS INTEGER) AS n_samples,
           CAST((n + 15) // 16 AS INTEGER) AS n_frames,
           CAST((n + 15) // 16 AS INTEGER) AS n_lpc,
           sum_abs, peak, sum_sq
    FROM params p JOIN agg a ON p.doc_id = a.doc_id
"""


# ---------------------------------------------------------------------------
# FLAC stereo decorrelation (RFC 9639 §4.2/§9.1.3) — the last unopened
# frame-layer gate of the audio codec: independent L/R plus the three
# decorrelated channel assignments (left/side, right/side, mid/side),
# the side subframe carrying bps+1 bits. The generator emits
# closed-form L/R pairs and derives side = L−R / mid = (L+R)>>1 per
# assignment, so the RECONSTRUCTION must be exact for the oracle (pure
# L/R closed forms, no per-mode case split) to match — a decoder that
# drops the side channel's extra bit, mis-pairs the channels, or loses
# mid's parity bit goes loudly wrong.
# ---------------------------------------------------------------------------


def _flac_right_sample(doc_id: int, i: int) -> int:
    """The right channel's closed form — same shape as ``_wav_sample``
    (the left channel) with different residue constants, so L−R and
    (L+R)>>1 exercise genuinely two-sided values."""
    return (doc_id * 13 + i * 29 + (i * i) % 89) % 4001 - 2000


def _flac_stereo_subframes(
    bw: _FlacBitWriter, d: int, k: int, m: int
) -> None:
    left = [_wav_sample(d, k * _FLAC_BS + j) for j in range(m)]
    right = [_flac_right_sample(d, k * _FLAC_BS + j) for j in range(m)]
    side = [a - b for a, b in zip(left, right)]
    mid = [(a + b) >> 1 for a, b in zip(left, right)]  # floor
    chans = (  # by k % 4, the order of _FLAC_STEREO_CODES
        [(left, 16), (right, 16)],  # independent stereo
        [(left, 16), (side, 17)],  # left/side
        [(side, 17), (right, 16)],  # right/side
        [(mid, 16), (side, 17)],  # mid/side
    )[k % 4]
    for samples, width in chans:
        bw.write(0x02, 8)  # VERBATIM subframe header
        for v in samples:
            bw.write(v, width)


_FLAC_STEREO_CODES = (1, 8, 9, 10)


def synthesize_flac_stereo(docs: DataFrame) -> DataFrame:
    """A STEREO FLAC stream per document: STREAMINFO declares 2
    channels; frames cycle the four channel assignments by k%4 —
    independent (code 1), left/side (8), right/side (9), mid/side
    (10) — each carrying two VERBATIM subframes with the side channel
    at 17 bits. n >= 64 means every document exercises all four
    modes. The container (fixed 16-sample blocks, bit-packed headers,
    UTF-8 frame numbers, CRC-8/CRC-16) is the shared
    ``_flac_stream``."""
    return _synthesize(
        docs,
        FLAC_MIME,
        lambda d: _flac_stream(d, _flac_stereo_subframes, _FLAC_STEREO_CODES),
    )


FLAC_STEREO_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("n_indep", IntegerType()),
        StructField("n_left_side", IntegerType()),
        StructField("n_right_side", IntegerType()),
        StructField("n_mid_side", IntegerType()),
        StructField("sum_abs", LongType()),
        StructField("peak", IntegerType()),
        StructField("sum_sq", LongType()),
    ]
)


def q_multimodal_flac_stereo_stats(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Stereo-decorrelated FLAC decode end to end — the audio codec's
    last frame-layer gate: every stream cycles all four channel
    assignments, the side subframes decode at 17 bits, and the stats
    are computed over the RECONSTRUCTED left/right samples — so the
    oracle is the pure L/R closed forms with NO per-mode case split,
    and any reconstruction error (dropped parity bit, swapped
    channels, mis-signed side) lands loudly in sum_abs/peak/sum_sq.
    The per-mode counts pin that each assignment was actually
    decoded, not skipped."""
    media = synthesize_flac_stereo(load_table(spark, sf_dir, "documents"))
    return _map_docs(media, lambda _, p: decode_flac(p), FLAC_STEREO_SCHEMA)


QUERIES["multimodal_flac_stereo_stats"] = q_multimodal_flac_stereo_stats

ORACLE["multimodal_flac_stereo_stats"] = """
    WITH params AS (
        SELECT doc_id,
               8000 + (doc_id % 4) * 2000 AS rate,
               64 + (doc_id % 97) AS n
        FROM documents
    ),
    idx AS (
        SELECT doc_id, rate, n,
               unnest(generate_series(0, n - 1)) AS i
        FROM params
    ),
    samp AS (
        SELECT doc_id,
               (doc_id * 31 + i * 17 + (i * i) % 101) % 4001 - 2000 AS l,
               (doc_id * 13 + i * 29 + (i * i) % 89) % 4001 - 2000 AS r
        FROM idx
    ),
    agg AS (
        SELECT doc_id,
               CAST(sum(abs(l) + abs(r)) AS BIGINT) AS sum_abs,
               CAST(max(greatest(abs(l), abs(r))) AS INTEGER) AS peak,
               CAST(sum(l * l + r * r) AS BIGINT) AS sum_sq
        FROM samp GROUP BY doc_id
    )
    SELECT p.doc_id,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(n AS INTEGER) AS n_samples,
           CAST((n + 15) // 16 AS INTEGER) AS n_frames,
           CAST(((n + 15) // 16 + 3) // 4 AS INTEGER) AS n_indep,
           CAST(((n + 15) // 16 + 2) // 4 AS INTEGER) AS n_left_side,
           CAST(((n + 15) // 16 + 1) // 4 AS INTEGER) AS n_right_side,
           CAST((n + 15) // 16 // 4 AS INTEGER) AS n_mid_side,
           sum_abs, peak, sum_sq
    FROM params p JOIN agg a ON p.doc_id = a.doc_id
"""


# ---------------------------------------------------------------------------
# EXIF GPS IFD (EXIF 2.3 §4.6.6, public) — the geo signal real image
# pipelines filter on: the 0x8825 GPSInfo pointer into a third IFD
# whose latitude/longitude are RATIONAL[3] (deg, min, sec) values —
# the first TIFF type-5 (two-LONG rational) consumer in the walk.
# ---------------------------------------------------------------------------


def _gps_fields_for(doc_id: int) -> dict:
    """Closed-form GPS values per doc: hemisphere refs alternate,
    coordinates are exact (deg, min, centi-arcsec) triples reported
    as total CENTI-ARCSECONDS (integer-exact across engines — no
    float degrees anywhere)."""
    lat_deg, lat_min, lat_cs = doc_id % 90, doc_id % 60, (7 * doc_id) % 6000
    lon_deg, lon_min, lon_cs = (
        doc_id % 180,
        (3 * doc_id) % 60,
        (11 * doc_id) % 6000,
    )
    return {
        "lat_ref": "N" if doc_id % 2 == 0 else "S",
        "lat_cas": lat_deg * 360000 + lat_min * 6000 + lat_cs,
        "lon_ref": "E" if doc_id % 3 == 0 else "W",
        "lon_cas": lon_deg * 360000 + lon_min * 6000 + lon_cs,
    }


def _build_gps_app1(doc_id: int) -> bytes:
    """APP1 whose IFD0 carries only the 0x8825 GPS pointer; the GPS
    IFD holds LatRef/Lat/LonRef/Lon with the coordinates as offset
    RATIONAL[3] blocks (deg/1, min/1, centi-arcsec/100) — byte order
    alternates per doc like the EXIF entry."""
    f = _gps_fields_for(doc_id)
    little = doc_id % 2 == 0
    e = "<" if little else ">"

    def entry(tag, typ, cnt, vfield):
        return struct.pack(e + "HHI", tag, typ, cnt) + vfield

    def long_inline(v):
        return struct.pack(e + "I", v)

    def ascii2(s):
        return s.encode("ascii") + b"\x00\x00\x00"  # 2 used + pad

    lat_cas, lon_cas = f["lat_cas"], f["lon_cas"]
    lat = (lat_cas // 360000, lat_cas % 360000 // 6000, lat_cas % 6000)
    lon = (lon_cas // 360000, lon_cas % 360000 // 6000, lon_cas % 6000)
    # layout: 8 IFD0(1 entry: 2+12+4=18) -> 26 GPS IFD(4 entries:
    # 2+48+4=54) -> 80 lat rationals (24) -> 104 lon rationals (24)
    ifd0_off, gps_off, lat_off, lon_off = 8, 26, 80, 104
    tiff = bytearray()
    tiff += (b"II" if little else b"MM") + struct.pack(e + "HI", 42, ifd0_off)
    tiff += struct.pack(e + "H", 1)
    tiff += entry(0x8825, 4, 1, long_inline(gps_off))
    tiff += struct.pack(e + "I", 0)
    assert len(tiff) == gps_off
    tiff += struct.pack(e + "H", 4)
    tiff += entry(0x0001, 2, 2, ascii2(f["lat_ref"])[:4])
    tiff += entry(0x0002, 5, 3, long_inline(lat_off))
    tiff += entry(0x0003, 2, 2, ascii2(f["lon_ref"])[:4])
    tiff += entry(0x0004, 5, 3, long_inline(lon_off))
    tiff += struct.pack(e + "I", 0)
    assert len(tiff) == lat_off
    for trip, den3 in ((lat, (1, 1, 100)), (lon, (1, 1, 100))):
        for num, den in zip(trip, den3):
            tiff += struct.pack(e + "II", num, den)
    body = b"Exif\x00\x00" + bytes(tiff)
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


def synthesize_jpeg_gps(docs: DataFrame) -> DataFrame:
    """The baseline JPEG stream with a GPS-bearing APP1 spliced after
    SOI (camera layout, like ``synthesize_jpeg_exif``)."""
    return _synthesize(
        docs, JPEG_MIME, lambda d: _jpeg_spliced(d, _build_gps_app1(d))
    )


def _exif_rational3_cas(e: str, ent: tuple) -> int:
    """A RATIONAL[3] (deg, min, sec) coordinate folded to total
    centi-arcseconds with exact integer floors per component —
    deterministic for any denominators, exact for the standard
    (1, 1, 100) camera encoding; zero denominators fail loud."""
    typ, cnt, raw = ent
    if typ != 5 or cnt != 3:
        raise ValueError(
            f"EXIF GPS: expected RATIONAL[3], got type {typ} x{cnt}"
        )
    vals = struct.unpack(e + "IIIIII", raw)
    pairs = [(vals[0], vals[1]), (vals[2], vals[3]), (vals[4], vals[5])]
    for _, den in pairs:
        if den == 0:
            raise ValueError("EXIF GPS: zero-denominator rational")
    return (
        pairs[0][0] * 360000 // pairs[0][1]
        + pairs[1][0] * 6000 // pairs[1][1]
        + pairs[2][0] * 100 // pairs[2][1]
    )


def extract_jpeg_gps(payload: bytes) -> dict | None:
    """GPS extraction through the SAME prologue + TIFF walk as
    ``extract_jpeg_exif`` (``_jpeg_exif_tiff``): walk IFD0, follow
    the 0x8825 GPSInfo pointer, decode hemisphere refs (ASCII) and
    the RATIONAL[3] coordinates to exact centi-arcseconds. Returns
    None when the stream has no Exif APP1 or no GPS IFD (has-no-geo,
    not corrupt); malformed structure raises."""
    hdr = _jpeg_exif_tiff(payload)
    if hdr is None:
        return None
    tiff, e = hdr
    (ifd0,) = struct.unpack_from(e + "I", tiff, 4)
    entries, _ = _tiff_ifd_entries(tiff, e, ifd0)
    if 0x8825 not in entries:
        return None
    gps, _ = _tiff_ifd_entries(tiff, e, _exif_scalar(e, entries[0x8825]))
    out = {"lat_ref": None, "lat_cas": None, "lon_ref": None,
           "lon_cas": None}
    if 0x0001 in gps:
        out["lat_ref"] = gps[0x0001][2].split(b"\x00", 1)[0].decode("ascii")
    if 0x0002 in gps:
        out["lat_cas"] = _exif_rational3_cas(e, gps[0x0002])
    if 0x0003 in gps:
        out["lon_ref"] = gps[0x0003][2].split(b"\x00", 1)[0].decode("ascii")
    if 0x0004 in gps:
        out["lon_cas"] = _exif_rational3_cas(e, gps[0x0004])
    return out


JPEG_GPS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lat_ref", StringType()),
        StructField("lat_cas", LongType()),
        StructField("lon_ref", StringType()),
        StructField("lon_cas", LongType()),
    ]
)


def q_multimodal_jpeg_gps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPS metadata extraction at corpus scale — the geo-filter stage
    (region allowlists, PII-geo scrubbing) run without touching the
    entropy stream: the TIFF type-5 RATIONAL consumer earned through
    the generic IFD walk, coordinates kept integer-exact as total
    centi-arcseconds (no float degrees — both engines agree to the
    digit)."""
    media = synthesize_jpeg_gps(load_table(spark, sf_dir, "documents"))
    return _map_docs(
        media, _required(extract_jpeg_gps, "GPS APP1"), JPEG_GPS_SCHEMA
    )


QUERIES["multimodal_jpeg_gps"] = q_multimodal_jpeg_gps

ORACLE["multimodal_jpeg_gps"] = """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'N' ELSE 'S' END AS lat_ref,
           CAST((doc_id % 90) * 360000 + (doc_id % 60) * 6000
                + (7 * doc_id) % 6000 AS BIGINT) AS lat_cas,
           CASE WHEN doc_id % 3 = 0 THEN 'E' ELSE 'W' END AS lon_ref,
           CAST((doc_id % 180) * 360000 + (3 * doc_id) % 60 * 6000
                + (11 * doc_id) % 6000 AS BIGINT) AS lon_cas
    FROM documents
"""


# ---------------------------------------------------------------------------
# EXIF orientation-applied resize (EXIF 2.3 §4.6.4 tag 0x0112) — the
# fix-up real curation pipelines run before any vision model sees the
# pixels: cameras store the sensor raster and record how to turn it
# upright, so a resize that ignores the tag trains on rotated/mirrored
# images. The entry composes the metadata walk (extract_jpeg_exif)
# with the full baseline decode (_jpeg_raster) and applies the
# orientation to the NN source mapping — values 1-8 all exercised
# (orientation = doc_id % 8 + 1).
# ---------------------------------------------------------------------------


def _exif_orient_map(o: int, w: int, h: int):
    """(upright_w, upright_h, f) where f maps an UPRIGHT coordinate to
    the STORED raster coordinate, per EXIF 2.3 §4.6.4: 1 normal,
    2 flip-H, 3 rotate-180, 4 flip-V, 5 transpose, 6 rotate-90-CW,
    7 transverse, 8 rotate-270-CW (all as "rotate the stored image by
    this to display upright"). Values 5-8 swap the display dims."""
    if o == 1:
        return w, h, lambda x, y: (x, y)
    if o == 2:
        return w, h, lambda x, y: (w - 1 - x, y)
    if o == 3:
        return w, h, lambda x, y: (w - 1 - x, h - 1 - y)
    if o == 4:
        return w, h, lambda x, y: (x, h - 1 - y)
    if o == 5:
        return h, w, lambda x, y: (y, x)
    if o == 6:
        return h, w, lambda x, y: (y, h - 1 - x)
    if o == 7:
        return h, w, lambda x, y: (w - 1 - y, h - 1 - x)
    if o == 8:
        return h, w, lambda x, y: (w - 1 - y, x)
    raise ValueError(f"invalid EXIF orientation {o}")


def resize_jpeg_exif_oriented(payload: bytes) -> dict:
    """Orientation-applied NN resize: read the Orientation tag through
    the real TIFF walk, decode the baseline raster through the full
    Huffman+IDCT chain, rotate/flip the NN SOURCE MAPPING (never the
    pixels — one gather per target sample, the way a production
    thumbnailer composes the two transforms), and emit per-channel
    sums of the upright resized planes. A missing Exif APP1 or
    orientation tag fails loud — this entry's generator always
    writes one."""
    meta = extract_jpeg_exif(payload)
    if meta is None or meta["orientation"] is None:
        raise ValueError("EXIF orientation missing from payload")
    o = meta["orientation"]
    w, h, planes, samps = _jpeg_raster(payload)
    uw, uh, to_stored = _exif_orient_map(o, w, h)
    pixel = _jpeg_sampler(planes, samps)
    sum_y, sum_cb, sum_cr = _nn_sums(
        uw, uh, lambda x, y: pixel(*to_stored(x, y))
    )
    return {
        "orientation": o,
        "upright_width": uw,
        "upright_height": uh,
        "sum_y": sum_y,
        "sum_cb": sum_cb,
        "sum_cr": sum_cr,
    }


JPEG_ORIENTED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("orientation", IntegerType()),
        StructField("upright_width", IntegerType()),
        StructField("upright_height", IntegerType()),
        StructField("sum_y", LongType()),
        StructField("sum_cb", LongType()),
        StructField("sum_cr", LongType()),
    ]
)


def q_multimodal_exif_oriented_resize(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The orientation fix-up a real image-curation pipeline runs:
    metadata walk and entropy decode COMPOSED — the Orientation tag
    (all 8 spec values across docs, both TIFF byte orders) steers the
    NN source mapping over the fully-decoded baseline raster, so a
    wrong inverse mapping for any value, a dims-swap miss on 5-8, or
    an orientation-ignoring resize lands loudly in the per-channel
    sums. Oracle mirrors the integer kernel with an 8-way CASE on
    doc_id % 8 + 1."""
    media = synthesize_jpeg_exif(load_table(spark, sf_dir, "documents"))
    return _map_docs(
        media, lambda _, p: resize_jpeg_exif_oriented(p), JPEG_ORIENTED_SCHEMA
    )


QUERIES["multimodal_exif_oriented_resize"] = q_multimodal_exif_oriented_resize

ORACLE["multimodal_exif_oriented_resize"] = f"""
    WITH grid AS (
        SELECT doc_id,
               doc_id % 8 + 1 AS o,
               ((doc_id % 4) + 1) * 8 AS w,
               ((doc_id % 3) + 1) * 8 AS h
        FROM documents
    ),
    dims AS (
        SELECT doc_id, o, w, h,
               CASE WHEN o <= 4 THEN w ELSE h END AS uw,
               CASE WHEN o <= 4 THEN h ELSE w END AS uh
        FROM grid
    ),
    xs AS (
        SELECT doc_id, o, w, h, uw, uh,
               unnest(generate_series(0, {PPM_RESIZE_W - 1})) AS x2
        FROM dims
    ),
    pix AS (
        SELECT doc_id, o, w, h, uw, uh, x2,
               unnest(generate_series(0, {PPM_RESIZE_H - 1})) AS y2
        FROM xs
    ),
    up AS (
        SELECT doc_id, o, w, h, uw, uh,
               (x2 * uw) // {PPM_RESIZE_W} AS ux,
               (y2 * uh) // {PPM_RESIZE_H} AS uy
        FROM pix
    ),
    stored AS (
        SELECT doc_id, o, uw, uh,
               CASE o WHEN 1 THEN ux WHEN 2 THEN w - 1 - ux
                      WHEN 3 THEN w - 1 - ux WHEN 4 THEN ux
                      WHEN 5 THEN uy WHEN 6 THEN uy
                      ELSE w - 1 - uy END // 8 AS bx,
               CASE o WHEN 1 THEN uy WHEN 2 THEN uy
                      WHEN 3 THEN h - 1 - uy WHEN 4 THEN h - 1 - uy
                      WHEN 5 THEN ux WHEN 6 THEN h - 1 - ux
                      WHEN 7 THEN h - 1 - ux ELSE ux END // 8 AS by
        FROM up
    )
    SELECT doc_id,
           CAST(any_value(o) AS INTEGER) AS orientation,
           CAST(any_value(uw) AS INTEGER) AS upright_width,
           CAST(any_value(uh) AS INTEGER) AS upright_height,
           CAST(sum((doc_id + 7 * bx + 13 * by) % 200 + 28) AS BIGINT)
               AS sum_y,
           CAST(sum((3 * doc_id + 5 * bx + by) % 200 + 28) AS BIGINT)
               AS sum_cb,
           CAST(sum((doc_id + bx * by) % 200 + 28) AS BIGINT) AS sum_cr
    FROM stored
    GROUP BY doc_id
"""

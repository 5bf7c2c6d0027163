"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Design (the part that matters at 100 TB):
  - media is an opaque ``binary`` column with a typed metadata struct
    (media_type, n_bytes, checksum) riding alongside — never parsed by
    Catalyst, so scans prune it unless a stage actually needs the bytes;
  - all byte-touching work happens in Arrow-batched pandas iterators
    (``mapInPandas``) — one Python worker per partition, zero per-row
    overhead, bounded memory via spark.sql.execution.arrow.maxRecordsPerBatch;
  - decode is a pluggable step. The real decoders (PIL/torchaudio/ffmpeg)
    aren't in this container, so `decode_media` raises NotImplementedError
    unless the deterministic fake decoder is requested; everything around
    it — schema, batching, partitioning, UDF signatures — is real and
    tested.

The reference engine has no binary/multimodal support at all (strings-only
data model, SURVEY.md §1); this is a north-star extension.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..staging import memoized_plan, stage_once
from ..tables import load_table

FEATURE_DIM = 16

COUNTS_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes bigint, counts array<bigint>"
)


def synthesize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a media table from documents: UTF-8 bytes as the opaque payload
    (a deterministic stand-in for image/audio bytes) + typed metadata.
    crc32 works as the checksum because it's also computable JVM-side."""
    docs = load_table(spark, sf_dir, "documents")
    media = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        media.alias("media"),
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
        F.octet_length(media).cast("long").alias("n_bytes"),
        F.crc32(media).alias("checksum"),
    )


def decode_media(payload: bytes, media_type: str, use_fake: bool = False):
    """Decode a media payload.

    Two modalities decode for REAL with stdlib-only parsers (no codec
    libraries): ``audio/wav`` via the ``wave`` module (:func:`decode_wav` —
    header fields + PCM frames) and ``image/png`` via ``struct`` + ``zlib``
    IDAT inflate (:func:`decode_png` — IHDR dimensions + unfiltered
    scanlines). Compressed video (``video/mp4``) still needs ffmpeg-class
    codecs absent from this container — that path raises unless the
    deterministic byte-level fake is requested (use_fake=True), which
    returns the raw bytes for structural feature extraction."""
    if use_fake:
        return payload
    if media_type == "audio/wav":
        return decode_wav(payload)
    if media_type == "image/png":
        return decode_png(payload)
    raise NotImplementedError(
        f"decoding {media_type!r} requires codec libraries (ffmpeg/PIL) "
        "not present in this container; pass use_fake=True for the "
        "deterministic byte-level fake"
    )


def extract_feature_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pandas stage of feature extraction: Arrow batches of binary
    payloads in, one row per item out with an integer 16-bin high-nibble
    byte histogram (``counts``). Integer counts are the canonical output —
    exactly reproducible by a SQL oracle and safe to hash — and every
    float view (normalized features) derives from them JVM-side."""
    media = synthesize_media(spark, sf_dir)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in it:
            counts = []
            for payload, mtype in zip(pdf["media"], pdf["media_type"]):
                raw = decode_media(bytes(payload), mtype, use_fake=True)
                arr = np.frombuffer(raw, dtype=np.uint8)
                counts.append(
                    np.bincount(arr >> 4, minlength=FEATURE_DIM).tolist()
                )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "counts": counts,
                }
            )

    return media.mapInPandas(batches, schema=COUNTS_SCHEMA)


def media_feature_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-facing exploded view of the feature histogram: one row per
    (doc, bin) with the integer count and normalized weight. Scalar
    columns only — hash-friendly for the correctness gate — and the
    explode happens JVM-side (posexplode) so each item crosses the Arrow
    boundary once, not 16 times."""
    counts = extract_feature_counts(spark, sf_dir)
    return counts.select(
        "doc_id",
        "media_type",
        "n_bytes",
        F.posexplode("counts").alias("bin", "bin_count"),
    ).select(
        "doc_id",
        "media_type",
        "bin",
        "bin_count",
        F.when(F.col("n_bytes") > 0, F.col("bin_count") / F.col("n_bytes"))
        .otherwise(F.lit(0.0))
        .alias("weight"),
    )


# Exact oracle: the high nibble of byte k is hex digit 2k of hex(payload),
# so the histogram is a GROUP BY over the odd-position characters of the
# hex encoding — pure integer arithmetic, reproduced bit-for-bit.
MEDIA_FEATURE_BINS_SQL = f"""
WITH base AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         upper(hex(encode(text))) AS h,
         octet_length(encode(text)) AS n
  FROM documents
),
ks AS (
  SELECT unnest(generate_series(0, (SELECT COALESCE(max(n), 1) - 1 FROM base))) AS k
),
nib AS (
  SELECT doc_id,
         strpos('0123456789ABCDEF', substring(h, 2 * k + 1, 1)) - 1 AS bin
  FROM base, ks
  WHERE k < n
),
cnt AS (
  SELECT doc_id, bin, count(*) AS bin_count FROM nib GROUP BY doc_id, bin
),
bins AS (SELECT unnest(generate_series(0, {FEATURE_DIM - 1})) AS bin)
SELECT b.doc_id,
       b.media_type,
       CAST(bins.bin AS INTEGER) AS bin,
       CAST(COALESCE(c.bin_count, 0) AS BIGINT) AS bin_count,
       CASE WHEN b.n = 0 THEN 0.0
            ELSE COALESCE(c.bin_count, 0) / CAST(b.n AS DOUBLE)
       END AS weight
FROM base b
CROSS JOIN bins
LEFT JOIN cnt c ON c.doc_id = b.doc_id AND c.bin = bins.bin
"""


def media_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only scan: checksum/size stats per media type. The binary
    column is pruned from the scan entirely (metadata rides in separate
    columns) — the plan to check when validating 100 TB behavior."""
    media = synthesize_media(spark, sf_dir)
    return (
        media.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("n_bytes").alias("total_bytes"),
        )
        .orderBy("media_type")
    )


RESIZE_SCHEMA = (
    "doc_id bigint, media_type string, n_bytes bigint, resized_bytes bigint"
)

FRAMES_SCHEMA = "doc_id bigint, frame_id int, frame_bytes bigint"

N_FRAMES = 4


def resize_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'Resize' every media payload by stride-2 byte sampling (the
    deterministic stand-in for an image downscale — same mapInPandas
    plumbing: bytes in, smaller bytes out, metadata updated). The output
    reports original and resized sizes; the size arithmetic
    ((n+1)//2) is what the oracle checks — the pandas stage really slices
    the payload, the oracle shortcuts to the arithmetic."""
    media = synthesize_media(spark, sf_dir)

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized = [bytes(p)[::2] for p in pdf["media"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": pdf["media_type"],
                    "n_bytes": pdf["n_bytes"],
                    "resized_bytes": [len(r) for r in resized],
                }
            )

    return media.mapInPandas(batches, schema=RESIZE_SCHEMA)


RESIZE_MEDIA_SQL = """
SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image/png'
       WHEN doc_id % 3 = 1 THEN 'audio/wav'
       ELSE 'video/mp4' END AS media_type,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  CAST((octet_length(encode(text)) + 1) // 2 AS BIGINT) AS resized_bytes
FROM documents
"""


def frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling for video payloads: split each video into up to
    N_FRAMES contiguous chunks (stride = ceil(n/4)), one output row per
    frame — the 1→N row shape of a video decoder, via mapInPandas. Frame
    boundaries are pure integer arithmetic so the oracle reproduces the
    row multiplication and every frame size exactly; the pandas stage
    actually materializes each chunk."""
    media = synthesize_media(spark, sf_dir).where(
        F.col("media_type") == "video/mp4"
    )

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"doc_id": [], "frame_id": [], "frame_bytes": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["media"]):
                raw = bytes(payload)
                n = len(raw)
                stride = -(-n // N_FRAMES) if n else 0
                for k in range(N_FRAMES):
                    start = k * stride
                    if n == 0 or start >= n:
                        break
                    chunk = raw[start : start + stride]
                    out["doc_id"].append(doc_id)
                    out["frame_id"].append(k)
                    out["frame_bytes"].append(len(chunk))
            yield pd.DataFrame(out)

    return media.mapInPandas(batches, schema=FRAMES_SCHEMA)


FRAME_SAMPLE_SQL = f"""
WITH vids AS (
  SELECT doc_id, octet_length(encode(text)) AS n
  FROM documents WHERE doc_id % 3 = 2
),
strides AS (
  SELECT doc_id, n, CAST(ceil(n / {N_FRAMES}.0) AS BIGINT) AS stride
  FROM vids WHERE n > 0
)
SELECT doc_id, CAST(k AS INTEGER) AS frame_id,
       least(stride, n - k * stride) AS frame_bytes
FROM strides, (SELECT unnest(generate_series(0, {N_FRAMES - 1})) AS k) ks
WHERE k * stride < n
"""


def media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup over the BINARY payload: canonical assignment by md5 of
    the media bytes — the multimodal twin of dedup_exact (which fingerprints
    text). md5 over bytes is the right key for opaque media: identical
    payloads collide regardless of metadata, and the 16-byte key is what
    shuffles, never the blob (the scan prunes `media` down to the hash
    immediately; the window moves doc_id + fp only). Echoes the reference's
    own md5-keyed routing (reference worker/__main__.py:62-65), applied to
    content identity instead of shuffle placement.

    Oracle: DuckDB md5(text) hashes the same UTF-8 bytes the synthesized
    payload holds, so the hex keys agree exactly.
    """
    from pyspark.sql.window import Window

    media = synthesize_media(spark, sf_dir)
    w = Window.partitionBy("fp")
    return (
        media.select(
            "doc_id", "media_type", F.md5(F.col("media")).alias("fp")
        )
        .select(
            "doc_id",
            "media_type",
            F.min("doc_id").over(w).alias("canonical_id"),
            F.count(F.lit(1)).over(w).alias("group_size"),
        )
    )


MEDIA_DEDUP_SQL = """
WITH fps AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image/png'
              WHEN doc_id % 3 = 1 THEN 'audio/wav'
              ELSE 'video/mp4' END AS media_type,
         md5(text) AS fp
  FROM documents
)
SELECT doc_id, media_type,
       min(doc_id) OVER (PARTITION BY fp) AS canonical_id,
       count(*) OVER (PARTITION BY fp) AS group_size
FROM fps
"""


# ---------------------------------------------------------------------------
# Real decode: RIFF/WAVE via stdlib `wave`, PNG via `struct` + `zlib`.
#
# The payloads are synthesized as REAL container bytes (a valid WAV file, a
# valid PNG file) whose content is a pure function of doc_id — so a DuckDB
# oracle can compute the expected decoded facts (frame counts, dimensions,
# sample/pixel sums) analytically, and the ONLY way the Spark side can match
# it is by genuinely parsing the bytes back out of the container. This
# closes the "decode is stubbed" gap for two modalities with zero new
# dependencies; video stays behind the documented NotImplementedError.
# ---------------------------------------------------------------------------

WAV_RATE = 8000


def synthesize_wav(doc_id: int) -> bytes:
    """A complete RIFF/WAVE payload: 16-bit mono PCM at WAV_RATE, with
    10 + doc_id % 90 frames of sample[i] = (doc_id*31 + i*7) % 2003 - 1001."""
    import io
    import wave as wave_mod

    import numpy as np

    n = 10 + doc_id % 90
    i = np.arange(n, dtype=np.int64)
    samples = ((doc_id * 31 + i * 7) % 2003 - 1001).astype("<i2")
    buf = io.BytesIO()
    with wave_mod.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(WAV_RATE)
        w.writeframes(samples.tobytes())
    return buf.getvalue()


def decode_wav(payload: bytes) -> dict:
    """Parse a RIFF/WAVE container: header fields via the ``wave`` module,
    then the PCM frames themselves (level_sum = Σ|sample|)."""
    import io
    import wave as wave_mod

    import numpy as np

    with wave_mod.open(io.BytesIO(payload), "rb") as w:
        n_channels = w.getnchannels()
        samp_width = w.getsampwidth()
        rate = w.getframerate()
        n_frames = w.getnframes()
        raw = w.readframes(n_frames)
    if n_channels != 1 or samp_width != 2:
        raise ValueError(f"expected 16-bit mono, got {n_channels}ch "
                         f"{8 * samp_width}-bit")
    samples = np.frombuffer(raw, dtype="<i2").astype(np.int64)
    return {
        "n_units": n_frames,
        "sample_rate": rate,
        "level_sum": int(np.abs(samples).sum()),
        "width": None,
        "height": None,
    }


def synthesize_png(doc_id: int) -> bytes:
    """A complete 8-bit grayscale PNG: (1 + doc_id % 16) × (1 + doc_id % 8)
    pixels, pixel(x, y) = (doc_id + 3x + 5y) % 251, filter type 0 rows,
    one zlib-compressed IDAT, CRC-correct chunks."""
    import struct
    import zlib

    w = 1 + doc_id % 16
    h = 1 + doc_id % 8
    rows = b"".join(
        b"\x00"
        + bytes((doc_id + 3 * x + 5 * y) % 251 for x in range(w))
        for y in range(h)
    )

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(rows))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> dict:
    """Walk the PNG chunk stream: IHDR via ``struct``, IDAT via ``zlib``,
    then de-filter the scanlines (type 0 only — what our encoder emits) and
    sum the pixels."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG: bad signature")
    pos = 8
    width = height = bit_depth = color_type = None
    idat = b""
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height, bit_depth, color_type = struct.unpack(
                ">IIBB", data[:10]
            )
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("not a PNG: no IHDR")
    if bit_depth != 8 or color_type != 0:
        raise ValueError(
            f"only 8-bit grayscale supported, got depth={bit_depth} "
            f"color={color_type}"
        )
    rows = zlib.decompress(idat)
    stride = width + 1
    total = 0
    for y in range(height):
        row = rows[y * stride : (y + 1) * stride]
        if row[0] != 0:
            raise ValueError(f"unsupported PNG filter type {row[0]}")
        total += sum(row[1:])
    return {
        "n_units": width * height,
        "sample_rate": None,
        "level_sum": total,
        "width": width,
        "height": height,
    }


DECODE_SCHEMA = (
    "doc_id bigint, media_type string, n_units bigint, sample_rate bigint, "
    "level_sum bigint, width bigint, height bigint"
)


def media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end real decode: synthesize genuine WAV/PNG container bytes
    (one Arrow stage), ship the binary column through a second Arrow stage,
    and decode it back with the stdlib parsers — emitting only facts that
    must come from inside the container (frame count, sample rate, IHDR
    dimensions, Σ|sample| / Σpixel).

    The oracle recomputes every fact analytically from doc_id, so a parser
    that misread a header or dropped a frame hash-mismatches. Both stages
    are ``mapInPandas`` over Arrow batches — the binary column crosses the
    Arrow boundary twice, exercising exactly the plumbing a real
    image/audio featurizer would use; per-row work is bounded (≤ 99 frames
    / ≤ 128 px), so the stage parallelizes by row count like any narrow
    map."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = pdf["doc_id"].astype("int64")
            media = [
                synthesize_wav(int(d)) if d % 2 == 1 else synthesize_png(int(d))
                for d in ids
            ]
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "media_type": [
                        "audio/wav" if d % 2 == 1 else "image/png"
                        for d in ids
                    ],
                    "media": media,
                }
            )

    def decode(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {
                "doc_id": [],
                "media_type": [],
                "n_units": [],
                "sample_rate": [],
                "level_sum": [],
                "width": [],
                "height": [],
            }
            for did, mtype, payload in zip(
                pdf["doc_id"], pdf["media_type"], pdf["media"]
            ):
                facts = decode_media(bytes(payload), mtype)
                out["doc_id"].append(int(did))
                out["media_type"].append(mtype)
                for k in ("n_units", "sample_rate", "level_sum",
                          "width", "height"):
                    out[k].append(facts[k])
            yield pd.DataFrame(out)

    staged = docs.mapInPandas(
        synth, schema="doc_id bigint, media_type string, media binary"
    )
    return staged.mapInPandas(decode, schema=DECODE_SCHEMA)


MEDIA_DECODE_SQL = """
WITH wav AS (
  SELECT doc_id, 'audio/wav' AS media_type,
         CAST(10 + doc_id % 90 AS BIGINT) AS n_units,
         CAST(8000 AS BIGINT) AS sample_rate,
         CAST(list_sum([abs((doc_id * 31 + i * 7) % 2003 - 1001)
                        for i in range(10 + doc_id % 90)]) AS BIGINT)
           AS level_sum,
         CAST(NULL AS BIGINT) AS width,
         CAST(NULL AS BIGINT) AS height
  FROM documents WHERE doc_id % 2 = 1
),
png AS (
  SELECT doc_id, 'image/png' AS media_type,
         CAST((1 + doc_id % 16) * (1 + doc_id % 8) AS BIGINT) AS n_units,
         CAST(NULL AS BIGINT) AS sample_rate,
         CAST(list_sum([(doc_id + 3 * (i % (1 + doc_id % 16))
                         + 5 * (i // (1 + doc_id % 16))) % 251
                        for i in range((1 + doc_id % 16)
                                       * (1 + doc_id % 8))]) AS BIGINT)
           AS level_sum,
         CAST(1 + doc_id % 16 AS BIGINT) AS width,
         CAST(1 + doc_id % 8 AS BIGINT) AS height
  FROM documents WHERE doc_id % 2 = 0
)
SELECT * FROM wav UNION ALL SELECT * FROM png
"""


# ---------------------------------------------------------------------------
# Perceptual near-dup: average-hash over decoded PNG pixels
# ---------------------------------------------------------------------------

AHASH_GRID = 8  # 8×8 sample grid → 64-bit signature, held as 4×16-bit bands
AHASH_HAMMING_MAX = 3  # ≤3 flips over 4 bands ⇒ some band equal (pigeonhole)


def _png_pixels(payload: bytes) -> tuple[int, int, list[int]]:
    """IHDR + defiltered row-major pixel list (8-bit grayscale, filter 0 —
    the only kind our encoder emits; anything else raises)."""
    import struct
    import zlib

    if payload[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG: bad signature")
    pos = 8
    width = height = None
    idat = b""
    while pos + 8 <= len(payload):
        (length,) = struct.unpack(">I", payload[pos : pos + 4])
        tag = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR":
            width, height = struct.unpack(">II", data[:8])
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if width is None:
        raise ValueError("not a PNG: no IHDR")
    rows = zlib.decompress(idat)
    stride = width + 1
    px: list[int] = []
    for y in range(height):
        row = rows[y * stride : (y + 1) * stride]
        if row[0] != 0:
            raise ValueError(f"unsupported PNG filter type {row[0]}")
        px.extend(row[1:])
    return width, height, px


def _ahash_bands(w: int, h: int, px: list[int]) -> list[int]:
    """Classic average-hash on a nearest-neighbor 8×8 sample grid: bit k
    (k = j·8+i, sample at x=⌊i·w/8⌋, y=⌊j·h/8⌋) is set iff 64·sample >
    Σsamples — integer arithmetic only, so the SQL oracle replays it
    exactly. Packed as 4 little-endian 16-bit band keys."""
    g = AHASH_GRID
    samples = [
        px[((j * h) // g) * w + ((i * w) // g)]
        for j in range(g)
        for i in range(g)
    ]
    total = sum(samples)
    bands = [0, 0, 0, 0]
    for k, v in enumerate(samples):
        if g * g * v > total:
            bands[k // 16] |= 1 << (k % 16)
    return bands


def _staged_ahash_fp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, b0..b3): the ahash fingerprints of the even-id documents'
    synthesized PNGs, COMPUTED ONCE per corpus and served from parquet —
    the Python PNG encode → container → decode → ahash chain is the
    expensive Arrow stage, and the pair search reads the fingerprints four
    times (both banded join sides + the two hamming lookups). Integer
    columns — bitwise roundtrip."""

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids = [int(d) for d in pdf["doc_id"] if d % 2 == 0]
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "media": [synthesize_png(d) for d in ids],
                }
            )

    def hash_stage(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {"doc_id": [], "b0": [], "b1": [], "b2": [], "b3": []}
            for did, payload in zip(pdf["doc_id"], pdf["media"]):
                w, h, px = _png_pixels(bytes(payload))
                b = _ahash_bands(w, h, px)
                out["doc_id"].append(int(did))
                for i in range(4):
                    out[f"b{i}"].append(b[i])
            yield pd.DataFrame(out)

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        return docs.mapInPandas(
            synth, schema="doc_id bigint, media binary"
        ).mapInPandas(
            hash_stage, schema="doc_id bigint, b0 int, b1 int, b2 int, b3 int"
        )

    return stage_once(spark, "ahash_fp_", f"{sf_dir}|png_v1", "fp", build)


@memoized_plan
def media_ahash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-dup: synthesize real PNG containers for the
    even-id documents, decode them back (stdlib zlib/struct — the same
    real-parse path as media_decode), average-hash the DECODED pixels,
    and emit all image pairs within hamming ≤ 3 of each other. The
    fingerprints are a staged per-corpus artifact (_staged_ahash_fp).

    The pair search is the simhash shape: 4 bands × 16 bits; ≤ 3 bit
    flips over 4 bands leaves some band identical (pigeonhole), so the
    banded equi-join is exactly complete, never approximate. Banded
    shuffle = |images| × 4 small keys; the hamming check is JVM-side
    xor + bit_count on the candidate pairs.

    Oracle: the synthetic pixel function is arithmetic in doc_id, so the
    oracle recomputes the sample grid, mean threshold, band keys, banding
    and hamming in pure SQL — a hash match therefore proves the whole
    PNG encode → container → decode → perceptual-hash chain lossless,
    not just the join logic."""
    hashes = _staged_ahash_fp(spark, sf_dir)
    banded = hashes.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"), F.col(f"b{i}").alias("key")
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    ha = hashes.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"b{i}").alias(f"a{i}") for i in range(4)],
    )
    hb = hashes.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"b{i}").alias(f"bb{i}") for i in range(4)],
    )
    hamming = sum(
        F.bit_count(F.col(f"a{i}").bitwiseXOR(F.col(f"bb{i}")))
        for i in range(4)
    )
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .where(F.col("hamming") <= AHASH_HAMMING_MAX)
        .orderBy("doc_a", "doc_b")
    )


MEDIA_AHASH_SQL = f"""
WITH png AS (
  SELECT doc_id, 1 + doc_id % 16 AS w, 1 + doc_id % 8 AS h
  FROM documents WHERE doc_id % 2 = 0
),
samp AS (
  SELECT p.doc_id, t.k,
         (p.doc_id + 3 * (((t.k % 8) * p.w) // 8)
                   + 5 * (((t.k // 8) * p.h) // 8)) % 251 AS v
  FROM png p, range(0, {AHASH_GRID * AHASH_GRID}) t(k)
),
tot AS (SELECT doc_id, sum(v) AS s FROM samp GROUP BY doc_id),
bits AS (
  SELECT samp.doc_id, samp.k,
         CASE WHEN {AHASH_GRID * AHASH_GRID} * samp.v > tot.s
              THEN 1 ELSE 0 END AS bit
  FROM samp JOIN tot ON tot.doc_id = samp.doc_id
),
bandkeys AS (
  SELECT doc_id, k // 16 AS band,
         CAST(sum(bit * (1 << (k % 16))) AS INTEGER) AS key
  FROM bits GROUP BY doc_id, k // 16
),
hashes AS (
  SELECT doc_id,
         max(CASE WHEN band = 0 THEN key END) AS b0,
         max(CASE WHEN band = 1 THEN key END) AS b1,
         max(CASE WHEN band = 2 THEN key END) AS b2,
         max(CASE WHEN band = 3 THEN key END) AS b3
  FROM bandkeys GROUP BY doc_id
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bandkeys a JOIN bandkeys b
    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
),
scored AS (
  SELECT c.doc_a, c.doc_b,
         bit_count(xor(ha.b0, hb.b0)) + bit_count(xor(ha.b1, hb.b1))
       + bit_count(xor(ha.b2, hb.b2)) + bit_count(xor(ha.b3, hb.b3))
           AS hamming
  FROM cand c
  JOIN hashes ha ON ha.doc_id = c.doc_a
  JOIN hashes hb ON hb.doc_id = c.doc_b
)
SELECT doc_a, doc_b, CAST(hamming AS INTEGER) AS hamming
FROM scored WHERE hamming <= {AHASH_HAMMING_MAX}
ORDER BY doc_a, doc_b
"""

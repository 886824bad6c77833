"""Multimodal column plumbing (SURVEY.md §2l).

Images/audio/video are carried as opaque ``binary`` payload columns plus
a typed metadata struct. The Spark-side plumbing — schema, Arrow batch
shape, ``mapInPandas`` partitioned decode, feature schemas — is real and
tested; the actual media decode is STUBBED (this container has no
image/audio libraries): ``decode_media`` raises ``NotImplementedError``
unless ``fake=True``, in which case a deterministic fake decoder
(byte-histogram "features", length-derived "dimensions") exercises the
full pipeline.

At 100 TB: payloads stay in executor memory only one Arrow batch at a
time (``mapInPandas`` is streaming per-partition); metadata-only queries
never touch the payload column thanks to parquet column pruning — keep
payloads and metadata in the same table but NEVER select the payload
unless decoding.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyspark_unload_to_gcs_spark.operators.pair_join import blocked_pairs

MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_type", StringType()),  # image | audio | video
        StructField("format", StringType()),  # png, wav, mp4, ...
        StructField("byte_length", LongType()),
        StructField("width", IntegerType()),  # -1 when unknown/not applicable
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("feature", StringType()),  # feature fingerprint
        StructField("n_bytes", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)


def attach_payload(df: DataFrame, source_column: str) -> DataFrame:
    """Build a (payload, media_meta) pair from a source column —
    deterministic fake payload = UTF-8 bytes of the source column, so
    pipelines are testable without real media files."""
    payload = F.encode(F.col(source_column), "UTF-8").cast(BinaryType())
    meta = F.struct(
        F.lit("image").alias("media_type"),
        F.lit("raw").alias("format"),
        F.octet_length(payload).cast("long").alias("byte_length"),
        F.lit(-1).cast("int").alias("width"),
        F.lit(-1).cast("int").alias("height"),
        F.lit(-1).cast("long").alias("duration_ms"),
    )
    return df.withColumn("payload", payload).withColumn("media_meta", meta)


def decode_media(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    payload_column: str = "payload",
    fake: bool = False,
) -> DataFrame:
    """Decode payloads to features via ``mapInPandas`` (streaming Arrow
    batches per partition — constant memory regardless of table size).

    ``fake=False`` raises NotImplementedError at plan-build time: real
    decoders (PIL/librosa/ffmpeg) are not in this environment. The fake
    decoder is deterministic: feature = hex of a byte-histogram digest,
    width/height derived from payload length.
    """
    if not fake:
        raise NotImplementedError(
            "media decode requires image/audio libraries not present in this "
            "environment; pass fake=True for the deterministic test decoder"
        )

    id_col = id_column
    payload_col = payload_column

    def _decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import hashlib

        import pandas as pd

        for pdf in batches:
            payloads = pdf[payload_col]
            ids = pdf[id_col]
            rows = []
            for i, raw in zip(ids, payloads):
                b = bytes(raw) if raw is not None else b""
                digest = hashlib.blake2b(b, digest_size=16).hexdigest()
                n = len(b)
                rows.append(
                    {
                        "doc_id": int(i),
                        "media_type": "image",
                        "feature": digest,
                        "n_bytes": n,
                        "width": int(n % 1024),
                        "height": int(n // 1024),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in DECODED_SCHEMA.fields])

    return df.select(id_column, payload_column).mapInPandas(_decode, DECODED_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
    ]
)

FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_index", IntegerType()),
        StructField("frame_payload", BinaryType()),
    ]
)


def resize_images(
    df: DataFrame,
    *,
    width: int,
    height: int,
    id_column: str = "doc_id",
    payload_column: str = "payload",
    fake: bool = False,
) -> DataFrame:
    """Resize image payloads via ``mapInPandas`` (streaming Arrow
    batches, constant memory). Real resize (PIL) is STUBBED — not in
    this environment; ``fake=True`` emits a deterministic truncated/
    padded byte payload of width*height bytes so partitioning, schema
    and batch shape are exercised for real."""
    if not fake:
        raise NotImplementedError(
            "image resize requires PIL/opencv, not present in this environment; "
            "pass fake=True for the deterministic test resizer"
        )
    target = width * height

    def _resize(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            rows = []
            for i, raw in zip(pdf[id_column], pdf[payload_column]):
                b = bytes(raw) if raw is not None else b""
                resized = (b * (target // max(len(b), 1) + 1))[:target] if b else b"\x00" * target
                rows.append(
                    {"doc_id": int(i), "payload": resized, "width": width, "height": height}
                )
            yield pd.DataFrame(rows, columns=[f.name for f in RESIZED_SCHEMA.fields])

    return df.select(id_column, payload_column).mapInPandas(_resize, RESIZED_SCHEMA)


def sample_frames(
    df: DataFrame,
    *,
    every_n_bytes: int = 64,
    max_frames: int = 8,
    id_column: str = "doc_id",
    payload_column: str = "payload",
    fake: bool = False,
) -> DataFrame:
    """Sample "frames" from a video payload via ``mapInPandas`` — a
    1->N exploding transform (one input row yields up to ``max_frames``
    frame rows). Real frame extraction (ffmpeg) is STUBBED; ``fake=True``
    slices the payload every ``every_n_bytes`` so the fan-out shape,
    schema and batch behavior are real."""
    if not fake:
        raise NotImplementedError(
            "frame sampling requires ffmpeg bindings, not present in this "
            "environment; pass fake=True for the deterministic test sampler"
        )

    def _frames(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            rows = []
            for i, raw in zip(pdf[id_column], pdf[payload_column]):
                b = bytes(raw) if raw is not None else b""
                for k in range(min(max_frames, max(len(b) // every_n_bytes, 1) if b else 0)):
                    rows.append(
                        {
                            "doc_id": int(i),
                            "frame_index": k,
                            "frame_payload": b[k * every_n_bytes : (k + 1) * every_n_bytes],
                        }
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in FRAME_SCHEMA.fields])

    return df.select(id_column, payload_column).mapInPandas(_frames, FRAME_SCHEMA)


def media_stats(df: DataFrame) -> DataFrame:
    """Metadata-only rollup — never touches the payload column, so the
    parquet scan prunes it (verify with .explain: ReadSchema excludes
    payload)."""
    return df.groupBy(F.col("media_meta.media_type").alias("media_type")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("media_meta.byte_length").alias("total_bytes"),
        F.max("media_meta.byte_length").alias("max_bytes"),
    )


EMBED_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("embedding", ArrayType(FloatType())),
    ]
)


def embed_media(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    payload_column: str = "payload",
    dim: int = 16,
    fake: bool = False,
) -> DataFrame:
    """Media -> embedding extraction over ``mapInPandas`` (the encoder
    stage of a multimodal retrieval/dedup pipeline; output plugs
    straight into operators/similarity.py cosine_topk /
    embedding_near_dedup).

    A real encoder (CLIP-style vision tower) is STUBBED — no model
    runtimes in this environment; ``fake=False`` raises. The fake
    encoder is a deterministic L2-normalized byte histogram folded to
    ``dim`` buckets, which preserves the property tests need: identical
    payloads embed identically, near-identical payloads embed nearby.

    Batch shape matters at scale: histogramming is numpy-vectorized per
    Arrow batch (no per-row Python in the inner loop beyond the byte
    view), and only (id, payload) ship to Python — Catalyst prunes all
    other columns from the scan.
    """
    if not fake:
        raise NotImplementedError(
            "media embedding requires a model runtime not present in this "
            "environment; pass fake=True for the deterministic test encoder"
        )

    id_col, payload_col, d = id_column, payload_column, dim

    def _embed(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        for pdf in batches:
            out_ids, out_vecs = [], []
            for i, raw in zip(pdf[id_col], pdf[payload_col]):
                b = np.frombuffer(bytes(raw) if raw is not None else b"", dtype=np.uint8)
                hist = np.bincount(b % d, minlength=d).astype(np.float32) if b.size else np.zeros(d, np.float32)
                norm = float(np.linalg.norm(hist))
                vec = (hist / norm) if norm > 0 else hist
                out_ids.append(int(i))
                out_vecs.append(vec.tolist())
            yield pd.DataFrame({"doc_id": out_ids, "embedding": out_vecs})

    return df.select(id_column, payload_column).mapInPandas(_embed, EMBED_SCHEMA)


# --------------------------------------------------------------------------
# REAL decoders for uncompressed formats (no media libraries required)
# --------------------------------------------------------------------------
#
# The compressed-format decoders (JPEG/MP3/MP4) stay honestly env-gated
# above — but RIFF/WAV PCM and BMP are uncompressed containers parseable
# with struct + numpy alone, so for them the decode capability is REAL
# in this environment: header walk, endianness, channel de-interleave,
# row padding, bottom-up raster order. Stats are integer-exact
# (BIGINT sums, no floats), so decoded output is value-oracle-able
# against closed-form synthesis (see the wav/bmp_decode_stats queries).

WAV_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_channels", IntegerType()),
        StructField("bit_depth", IntegerType()),
        StructField("n_frames", LongType()),
        StructField("duration_ms", LongType()),
        StructField("peak_abs", LongType()),
        StructField("sum_abs", LongType()),
    ]
)

BMP_STATS_SCHEMA = StructType(
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


def encode_wav_pcm16(samples, sample_rate: int, n_channels: int = 1) -> bytes:
    """Canonical 44-byte RIFF/WAVE header + PCM16LE frames. ``samples``
    is the flat interleaved sample sequence (len = frames * channels).
    Pure python/struct — the test/synthesis counterpart of
    :func:`decode_wav_bytes` (written independently of the parser so a
    shared offset mistake can't cancel out)."""
    import struct

    pcm = struct.pack("<%dh" % len(samples), *samples)
    byte_rate = sample_rate * n_channels * 2
    block_align = n_channels * 2
    header = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF",
        36 + len(pcm),
        b"WAVE",
        b"fmt ",
        16,
        1,  # PCM
        n_channels,
        sample_rate,
        byte_rate,
        block_align,
        16,  # bits
        b"data",
        len(pcm),
    )
    return header + pcm


def decode_wav_bytes(raw: bytes):
    """Parse a RIFF/WAVE container (real parser: chunk walk, not fixed
    offsets — tolerates extra chunks like LIST/INFO before data).
    Supports PCM16LE, any channel count. Returns (sample_rate,
    n_channels, bit_depth, frames ndarray[frames, channels]). Raises
    ValueError on malformed input or unsupported codecs — compressed
    WAV variants (ADPCM, float) are out of scope here just like
    JPEG/MP3 above."""
    import struct

    import numpy as np

    if len(raw) < 12 or raw[0:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("decode_wav: not a RIFF/WAVE container")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(raw):
        cid, csize = struct.unpack_from("<4sI", raw, pos)
        body = raw[pos + 8 : pos + 8 + csize]
        if cid == b"fmt ":
            if csize < 16 or len(body) < 16:
                raise ValueError("decode_wav: truncated fmt chunk")
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + csize + (csize & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("decode_wav: missing fmt or data chunk")
    audio_format, n_channels, sample_rate, _byte_rate, _block_align, bits = fmt
    if audio_format != 1 or bits != 16:
        raise ValueError(
            f"decode_wav: only PCM16 supported (format={audio_format}, bits={bits})"
        )
    if n_channels < 1:
        raise ValueError("decode_wav: zero channels")
    if sample_rate < 1:
        raise ValueError("decode_wav: non-positive sample rate")
    usable = len(data) - (len(data) % (2 * n_channels))
    flat = np.frombuffer(data[:usable], dtype="<i2")
    frames = flat.reshape(-1, n_channels)
    return sample_rate, n_channels, bits, frames


def decode_wav(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    payload_column: str = "payload",
) -> DataFrame:
    """REAL audio decode for WAV/PCM16 payloads via streaming
    ``mapInPandas`` (same constant-memory Arrow batch shape as
    ``decode_media``): per document, parsed header fields + integer-
    exact sample statistics (peak |sample|, sum of |sample| over every
    channel sample as BIGINT — no float accumulation, so the output is
    cross-engine value-oracle-able)."""

    id_col, payload_col = id_column, payload_column

    def _decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for i, raw in zip(pdf[id_col], pdf[payload_col]):
                rate, ch, bits, frames = decode_wav_bytes(bytes(raw))
                absval = np.abs(frames.astype(np.int64))
                rows.append(
                    {
                        "doc_id": int(i),
                        "sample_rate": rate,
                        "n_channels": ch,
                        "bit_depth": bits,
                        "n_frames": int(frames.shape[0]),
                        "duration_ms": int(frames.shape[0]) * 1000 // rate,
                        "peak_abs": int(absval.max()) if absval.size else 0,
                        "sum_abs": int(absval.sum()),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in WAV_STATS_SCHEMA.fields])

    return df.select(id_column, payload_column).mapInPandas(_decode, WAV_STATS_SCHEMA)


def encode_bmp24(pixels) -> bytes:
    """24-bit uncompressed BMP from ``pixels`` = list of rows (top to
    bottom), each a list of (r, g, b). Bottom-up raster, BGR byte
    order, rows padded to 4 bytes — the canonical Windows layout."""
    import struct

    height = len(pixels)
    width = len(pixels[0]) if height else 0
    row_bytes = width * 3
    pad = (4 - row_bytes % 4) % 4
    body = bytearray()
    for row in reversed(pixels):  # bottom-up
        for r, g, b in row:
            body += bytes((b, g, r))  # BGR
        body += b"\x00" * pad
    info = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    header = struct.pack("<2sIHHI", b"BM", 14 + 40 + len(body), 0, 0, 14 + 40)
    return header + info + bytes(body)


def decode_bmp_bytes(raw: bytes):
    """Parse an uncompressed 24-bit BMP: returns ndarray[height, width,
    3] in (r, g, b), top-to-bottom (handles the bottom-up raster, BGR
    order, 4-byte row padding, and negative-height top-down variants).
    Raises ValueError on malformed/unsupported (compressed or non-24bpp)
    input."""
    import struct

    import numpy as np

    if len(raw) < 54 or raw[0:2] != b"BM":
        raise ValueError("decode_bmp: not a BMP file")
    data_offset = struct.unpack_from("<I", raw, 10)[0]
    hdr_size, width, height = struct.unpack_from("<Iii", raw, 14)
    if hdr_size < 40:
        raise ValueError("decode_bmp: pre-BITMAPINFOHEADER format unsupported")
    planes, bpp, compression = struct.unpack_from("<HHI", raw, 26)
    if bpp != 24 or compression != 0:
        raise ValueError(f"decode_bmp: only uncompressed 24bpp supported (bpp={bpp})")
    top_down = height < 0
    height = abs(height)
    if width < 0:
        raise ValueError("decode_bmp: negative width")
    row_bytes = width * 3
    stride = row_bytes + (4 - row_bytes % 4) % 4
    need = data_offset + stride * height
    if len(raw) < need:
        raise ValueError("decode_bmp: truncated pixel data")
    rows = []
    for y in range(height):
        start = data_offset + y * stride
        row = np.frombuffer(raw[start : start + row_bytes], dtype=np.uint8).reshape(-1, 3)
        rows.append(row[:, ::-1])  # BGR -> RGB
    img = np.stack(rows) if rows else np.zeros((0, width, 3), dtype=np.uint8)
    if not top_down:
        img = img[::-1]  # bottom-up -> top-to-bottom
    return img


def decode_bmp(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    payload_column: str = "payload",
) -> DataFrame:
    """REAL image decode for uncompressed 24-bit BMP payloads:
    dimensions + integer-exact per-channel sums (BIGINT), streaming
    Arrow batches."""

    id_col, payload_col = id_column, payload_column

    def _decode(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import numpy as np
        import pandas as pd

        for pdf in batches:
            rows = []
            for i, raw in zip(pdf[id_col], pdf[payload_col]):
                img = decode_bmp_bytes(bytes(raw))
                sums = img.astype(np.int64).sum(axis=(0, 1)) if img.size else np.zeros(3, np.int64)
                rows.append(
                    {
                        "doc_id": int(i),
                        "width": int(img.shape[1]),
                        "height": int(img.shape[0]),
                        "n_pixels": int(img.shape[0] * img.shape[1]),
                        "sum_r": int(sums[0]),
                        "sum_g": int(sums[1]),
                        "sum_b": int(sums[2]),
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in BMP_STATS_SCHEMA.fields])

    return df.select(id_column, payload_column).mapInPandas(_decode, BMP_STATS_SCHEMA)


AHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("ahash_hi", LongType()),
        StructField("ahash_lo", LongType()),
    ]
)


def ahash_bits_from_image(img) -> int:
    """64-bit average hash of an RGB ndarray [H, W, 3] (H, W >= 8),
    ALL-INTEGER so the hash is cross-engine replayable:

    - luma per pixel scaled by 1000: L = 299 r + 587 g + 114 b
      (no division — the scale cancels in the comparisons);
    - 8x8 block grid with floor boundaries start_b = b * dim // 8
      (reduceat block sums; equal-size blocks when dim % 8 == 0);
    - bit j = 1 iff block_sum_j * n_total > total_sum * n_j — the
      "block mean above global mean" rule cleared of divisions; ties
      are 0 in every engine.

    Bit j (row-major block index, j = 8 * by + bx) is bit position j
    of the returned Python int in [0, 2^64)."""
    import numpy as np

    h, w = img.shape[0], img.shape[1]
    if h < 8 or w < 8:
        raise ValueError(f"ahash: image {w}x{h} smaller than the 8x8 grid")
    px = img.astype(np.int64)
    lum = 299 * px[:, :, 0] + 587 * px[:, :, 1] + 114 * px[:, :, 2]
    ys = [(b * h) // 8 for b in range(8)]
    xs = [(b * w) // 8 for b in range(8)]
    rows = np.add.reduceat(lum, ys, axis=0)
    block = np.add.reduceat(rows, xs, axis=1)  # [8, 8] block sums
    ych = np.diff(ys + [h])
    xch = np.diff(xs + [w])
    counts = np.outer(ych, xch).astype(np.int64)
    return _pack_above_mean_bits(
        [int(x) for x in block.flatten()], [int(c) for c in counts.flatten()]
    )


def _pack_above_mean_bits(sums, counts) -> int:
    """bit j = 1 iff sums[j] * total_count > counts[j] * total_sum,
    evaluated in PYTHON ints: the cross-products overflow int64 for
    large inputs (a ~36-minute PCM16 clip, a ~100-megapixel image) and
    numpy would wrap SILENTLY, breaking both the exact scale-invariance
    argument and the cross-engine replay. Shared bit-pack
    of the division-free above-average rule for ``ahash_bits_from_image``
    and ``afp_bits_from_frames``; ties are 0."""
    total_sum = sum(sums)
    total_cnt = sum(counts)
    out = 0
    for j, (s, c) in enumerate(zip(sums, counts)):
        if s * total_cnt > c * total_sum:
            out |= 1 << j
    return out


def image_ahash(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    payload_column: str = "payload",
) -> DataFrame:
    """Perceptual average-hash over REAL BMP payloads: decode with the
    chunk-walking parser, hash with the all-integer 8x8 block rule
    (``ahash_bits_from_image``). The 64 bits come back as two
    non-negative BIGINT halves (``ahash_hi`` = bits 32..63, ``ahash_lo``
    = bits 0..31) so downstream banding, XOR popcount, and the DuckDB
    replay all stay in signed-64 range. Streaming Arrow batches, one
    narrow map — the 100 TB shape is hash-on-ingest next to the blob."""
    return _hash64_map(
        df,
        id_column,
        payload_column,
        lambda raw: ahash_bits_from_image(decode_bmp_bytes(raw)),
        AHASH_SCHEMA,
    )


def _hash64_map(
    df: DataFrame,
    id_column: str,
    payload_column: str,
    bits_fn,
    schema: StructType,
) -> DataFrame:
    """Shared mapInPandas wrapper of the 64-bit fingerprint family
    (``image_ahash``, ``audio_fingerprint``): per payload, ``bits_fn``
    maps raw bytes to an int in [0, 2^64), split into the schema's
    (hi, lo) BIGINT halves; the id lands under the schema's own first
    field name (hardcoding it would NaN-fill a differently-named id)."""
    out_id = schema.fields[0].name
    hi_name, lo_name = schema.fields[1].name, schema.fields[2].name

    def _hash(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batches:
            rows = []
            for i, raw in zip(pdf[id_column], pdf[payload_column]):
                bits = bits_fn(bytes(raw))
                rows.append(
                    {
                        out_id: int(i),
                        hi_name: bits >> 32,
                        lo_name: bits & 0xFFFFFFFF,
                    }
                )
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    return df.select(id_column, payload_column).mapInPandas(_hash, schema)


def ahash_dup_pairs(
    hashes: DataFrame,
    *,
    id_column: str = "doc_id",
    hi_column: str = "ahash_hi",
    lo_column: str = "ahash_lo",
    max_hamming: int = 7,
) -> DataFrame:
    """All image pairs within ``max_hamming`` (< 8) aHash bits, by
    byte-band pigeonhole — EXACT for the threshold, never all-pairs:
    two 64-bit hashes differing in at most 7 bits agree on at least
    one of their 8 bytes, so an equi-join on (band, byte) finds every
    qualifying pair and XOR popcount verifies. Linear candidate
    generation (8 rows per image), one shuffle on the band key — the
    simhash/minhash banding pattern applied to perceptual hashes.

    Output: (id_a, id_b, hamming), id_a < id_b. Ids must be unique
    per row: a pair de-duplicates on its two ids."""
    if not 0 <= max_hamming < 8:
        raise ValueError(
            f"ahash_dup_pairs: max_hamming={max_hamming} must be in [0, 8) "
            "for 8-byte-band pigeonhole exactness"
        )
    h = hashes.select(
        F.col(id_column).alias("__id"),
        F.col(hi_column).alias("__hi"),
        F.col(lo_column).alias("__lo"),
    )
    bands = h.select(
        "__id",
        "__hi",
        "__lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(k).alias("band"),
                        F.col("__lo" if k < 4 else "__hi")
                        .bitwiseAND(F.lit(255 << (8 * (k % 4))))
                        .alias("byte"),
                    )
                    for k in range(8)
                ]
            )
        ).alias("__b"),
    )

    def side(i: str, hi: str, lo: str) -> DataFrame:
        return bands.select(
            F.col("__id").alias(i),
            F.col("__hi").alias(hi),
            F.col("__lo").alias(lo),
            F.col("__b.band").alias("__band"),
            F.col("__b.byte").alias("__byte"),
        )

    hamming = F.bit_count(F.col("__hia").bitwiseXOR(F.col("__hib"))) + F.bit_count(
        F.col("__loa").bitwiseXOR(F.col("__lob"))
    )
    return blocked_pairs(
        side("id_a", "__hia", "__loa"),
        side("id_b", "__hib", "__lob"),
        ["__band", "__byte"], multi_key=True,
        score="hamming", value=hamming.cast("long"), keep=F.col("hamming") <= max_hamming,
    )


# ---------------------------------------------------------------------------
# audio near-dup: 64-bit energy-contour fingerprint over the WAV path
# ---------------------------------------------------------------------------

AFP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("afp_hi", LongType()),
        StructField("afp_lo", LongType()),
    ]
)


def afp_bits_from_frames(frames) -> int:
    """64-bit audio fingerprint of a PCM frame array [frames,
    channels] (frames >= 64), ALL-INTEGER so the hash is cross-engine
    replayable — the audio analogue of :func:`ahash_bits_from_image`:

    - per-frame energy e_f = sum over channels of |sample| (mono mix
      by magnitude — channel order can't matter);
    - 64 time windows with floor boundaries start_k = k * n // 64
      (reduceat window sums; equal-size windows when n % 64 == 0);
    - bit k = 1 iff window_sum_k * n_total > total_sum * len_k — the
      "window energy above global mean" rule cleared of divisions;
      ties are 0 in every engine.

    EXACTLY invariant under integer amplitude scaling (both sides of
    the comparison scale by the same factor), so a volume-changed copy
    of a recording has hamming distance 0 — the property the dup join
    keys on. Bit k is bit position k of the returned int in
    [0, 2^64)."""
    import numpy as np

    n = int(frames.shape[0])
    if n < 64:
        raise ValueError(f"afp: {n} frames shorter than the 64-window grid")
    energy = np.abs(frames.astype(np.int64)).sum(axis=1)
    starts = [(k * n) // 64 for k in range(64)]
    wsum = np.add.reduceat(energy, starts)
    wlen = np.diff(starts + [n])
    return _pack_above_mean_bits(
        [int(x) for x in wsum], [int(x) for x in wlen]
    )


def audio_fingerprint(
    df: DataFrame,
    *,
    id_column: str = "doc_id",
    payload_column: str = "payload",
) -> DataFrame:
    """Energy-contour fingerprint over REAL WAV/PCM16 payloads: decode
    with the chunk-walking parser, hash with the all-integer 64-window
    rule (``afp_bits_from_frames``). The 64 bits come back as two
    non-negative BIGINT halves (``afp_hi`` = bits 32..63, ``afp_lo`` =
    bits 0..31) so downstream banding, XOR popcount, and a DuckDB
    replay all stay in signed-64 range — the exact contract of
    ``image_ahash``, so ``ahash_dup_pairs(hashes, hi_column="afp_hi",
    lo_column="afp_lo")`` is the dup join (byte-band pigeonhole,
    exact for hamming <= 7, never all-pairs). Streaming Arrow
    batches, one narrow map — the 100 TB shape is
    fingerprint-on-ingest next to the blob."""
    return _hash64_map(
        df,
        id_column,
        payload_column,
        lambda raw: afp_bits_from_frames(decode_wav_bytes(raw)[3]),
        AFP_SCHEMA,
    )


# published magic numbers as ((offset, bytes) conjunct-lists, mime);
# list order matters: RIFF/WAVE and RIFF/AVI before anything that
# would shadow them, longer magics before prefixes they contain
_MAGIC_RULES: tuple[tuple[tuple[tuple[int, bytes], ...], str], ...] = (
    (((1, b"RIFF"), (9, b"WAVE")), "audio/wav"),
    (((1, b"RIFF"), (9, b"AVI ")), "video/avi"),
    (((1, b"\x89PNG\r\n\x1a\n"),), "image/png"),
    (((1, b"\xff\xd8\xff"),), "image/jpeg"),
    (((1, b"GIF87a"),), "image/gif"),
    (((1, b"GIF89a"),), "image/gif"),
    (((1, b"BM"),), "image/bmp"),
    (((1, b"%PDF-"),), "application/pdf"),
    (((1, b"\x1f\x8b"),), "application/gzip"),
    (((1, b"PK\x03\x04"),), "application/zip"),
    (((1, b"PK\x05\x06"),), "application/zip"),
    (((5, b"ftyp"),), "video/mp4"),
)


def sniff_mime(payload: Column) -> Column:
    """Content-type from leading magic bytes — the triage step before
    any decode in a multimodal ingest (never trust a file extension or
    an upstream content-type header; route by what the bytes say).

    Recognizes the containers this engine's decode path and stubs deal
    in (RIFF/WAVE + AVI, PNG, JPEG, GIF87a/89a, BMP, PDF, gzip, zip,
    MP4 ftyp) with their published magic numbers, checked most-
    specific-first; anything unrecognized falls through to a BYTE-
    level ASCII-printable heuristic over the first 64 bytes (every
    byte in 0x20-0x7E or tab/LF/CR => ``text/plain``) or
    ``application/octet-stream``. The check runs on hex pairs of the
    raw bytes, never a UTF-8 decode — casting arbitrary bytes to a
    string maps invalid sequences to replacement characters, which
    would pass a control-char test and misread random high-byte
    binaries as text. The deliberate flip side: non-ASCII text (UTF-8
    accents, CJK) reads as octet-stream — a conservative triage, not
    a language detector. NULL payload stays NULL (an absent blob has
    no type); empty bytes are octet-stream.

    Pure byte-compare expressions over bounded prefixes — nothing
    reads past byte 68, so at 100 TB this is a narrow map whose cost
    is the parquet scan of the payload prefix."""
    # allowed hex pairs: 09 (tab), 0A (LF), 0D (CR), 20-7E (printable
    # ASCII); anything else — control bytes AND >= 0x80 — is binary
    text_like = (F.length(payload) > 0) & F.hex(
        F.substring(payload, 1, 64)
    ).rlike(r"^(09|0A|0D|2[0-9A-F]|3[0-9A-F]|4[0-9A-F]|5[0-9A-F]|6[0-9A-F]|7[0-9A-E])*$")
    expr = F.when(text_like, F.lit("text/plain")).otherwise(
        F.lit("application/octet-stream")
    )
    for conjuncts, mime in reversed(_MAGIC_RULES):
        pred = None
        for off, magic in conjuncts:
            c = F.substring(payload, off, len(magic)) == F.lit(magic)
            pred = c if pred is None else (pred & c)
        expr = F.when(pred, F.lit(mime)).otherwise(expr)
    return F.when(payload.isNull(), F.lit(None).cast("string")).otherwise(
        expr
    )

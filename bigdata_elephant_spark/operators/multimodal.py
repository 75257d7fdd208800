"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video payloads are ``binary`` columns with a typed
metadata struct alongside — the pattern that scales: the 100 TB of
bytes stay columnar and compressed in parquet, metadata predicates
(format/width/duration) prune row groups *without touching payload
bytes*, and per-record decode runs as Arrow-batched pandas functions
via ``mapInPandas`` (one Python process per partition, zero
driver involvement).

The decode step itself is STUBBED: the runtime image/audio libs are
not in this container, so ``decode_media`` raises
``NotImplementedError`` unless ``fake=True``, which substitutes a
deterministic hash-seeded feature vector. Everything around the stub
— schemas, batch iteration, partitioning, output shapes — is real
and tested; swapping in PIL/torchaudio is a one-function change.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_META = StructType(
    [
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("feature", ArrayType(FloatType())),
        StructField("n_bytes", LongType()),
    ]
)


def attach_fake_media(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Derive a deterministic binary payload + metadata from text —
    test plumbing for environments with no real media files."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        id_col,
        payload.alias("media"),
        F.struct(
            F.lit("fake/raw").alias("format"),
            (F.octet_length(payload) % 640).cast("int").alias("width"),
            (F.octet_length(payload) % 480).cast("int").alias("height"),
            F.lit(1).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def _fake_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Deterministic stand-in for a real decoder+encoder."""
    seed = int.from_bytes(hashlib.md5(payload).digest()[:4], "big")
    rng = np.random.default_rng(seed)
    return [float(x) for x in rng.standard_normal(dim).astype(np.float32)]


def fake_feature_fingerprint(
    payload: bytes, dim: int = FEATURE_DIM
) -> str:
    """Driver-side md5 fingerprint of :func:`_fake_features` output,
    formatted exactly as the registry's ``media_features`` Spark
    query formats it (each float32 widened to double, cast to
    DECIMAL(12,6) with HALF_UP rounding, joined with commas).

    Java's ``BigDecimal.valueOf(double)`` and Python's
    ``Decimal(repr(float))`` both parse the shortest round-trip
    decimal of the same double, and ``setScale(6, HALF_UP)`` /
    ``quantize(1e-6, ROUND_HALF_UP)`` agree digit-for-digit, so the
    fixed-scale string (e.g. ``-1.234560``) is identical on both
    sides; the one divergence — Python's signed ``-0.000000`` where
    BigDecimal has no negative zero — is normalized away; both live
    in :func:`~bigdata_elephant_spark.functions.numeric.spark_round`. This is
    what makes a DuckDB VALUES-table oracle for the (deliberately
    non-SQL) RNG decode possible."""
    from bigdata_elephant_spark.functions.numeric import spark_round

    s = ",".join(str(spark_round(x)) for x in _fake_features(payload, dim))
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def _pil_features(payload: bytes, dim: int = FEATURE_DIM) -> list[float]:
    """Real image decode via PIL: open, grayscale, resize to a
    sqrt(dim) x sqrt(dim) thumbnail, normalize to [0, 1]. Import is
    deferred so the module loads in containers without PIL; callers
    reach this only through ``decode_media(fake=False)``."""
    import io

    from PIL import Image  # noqa: deferred optional dependency

    side = int(dim ** 0.5)
    assert side * side == dim, "FEATURE_DIM must be a perfect square"
    img = Image.open(io.BytesIO(payload)).convert("L").resize((side, side))
    return [float(v) / 255.0 for v in img.getdata()]


def _netpbm_features(
    payload: bytes, dim: int = FEATURE_DIM
) -> list[float]:
    """REAL image features from a binary netpbm payload, no external
    libs: :func:`decode_ppm` (P5/P6 header parse + buffer reshape) ->
    integer ITU-R 601-2 luma (``(299R + 587G + 114B) // 1000`` — the
    truncated-integer form, exactly replayable) -> nearest-neighbor
    thumbnail (:func:`resize_nearest`) -> normalize to [0, 1]. The
    same grayscale-thumbnail contract as :func:`_pil_features`, with
    every step deterministic and in-repo."""
    side = int(dim ** 0.5)
    assert side * side == dim, "FEATURE_DIM must be a perfect square"
    px = decode_ppm(payload)
    if px.shape[2] == 3:
        p32 = px.astype(np.int32)
        gray = (
            p32[:, :, 0] * 299 + p32[:, :, 1] * 587 + p32[:, :, 2] * 114
        ) // 1000
    else:
        gray = px[:, :, 0].astype(np.int32)
    small = resize_nearest(gray[:, :, None], side, side)[:, :, 0]
    return [float(v) / 255.0 for v in small.reshape(-1)]


def _dispatch_features(
    payload: bytes, dim: int = FEATURE_DIM
) -> list[float]:
    """Magic-byte dispatch for the real (non-fake) decode path:
    netpbm payloads decode with the in-repo pure-numpy decoder (so
    ``fake=False`` genuinely works in this container); anything else
    falls through to PIL when installed, else raises with the format
    prefix in the message."""
    if payload[:2] in (b"P5", b"P6"):
        return _netpbm_features(payload, dim)
    try:
        import PIL  # noqa: F401 — deferred optional dependency
    except ImportError as exc:
        raise NotImplementedError(
            f"no in-repo decoder for payload starting "
            f"{payload[:4]!r} and PIL (pillow) is not installed; "
            f"netpbm (P5/P6) decodes natively, or pass fake=True "
            f"for the deterministic stub"
        ) from exc
    return _pil_features(payload, dim)


def decode_media(
    df: DataFrame,
    fake: bool = False,
    id_col: str = "doc_id",
    media_col: str = "media",
) -> DataFrame:
    """binary payloads -> fixed-size feature vectors via mapInPandas.

    Arrow ships each partition to Python in batches; the iterator
    form keeps memory bounded regardless of partition size. With
    ``fake=False`` each payload dispatches on its magic bytes
    (:func:`_dispatch_features`): netpbm P5/P6 decodes with the
    in-repo pure-numpy decoder — real in this container — while
    other formats use PIL where installed and raise
    ``NotImplementedError`` otherwise (covered by an
    ``importorskip`` test that runs wherever PIL exists).
    """
    featurize = _fake_features if fake else _dispatch_features

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "feature": [
                        featurize(bytes(b)) for b in pdf[media_col]
                    ],
                    "n_bytes": pdf[media_col].map(len).astype("int64"),
                }
            )

    return df.select(id_col, media_col).mapInPandas(
        batches, schema=FEATURES_SCHEMA
    )


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", LongType()),
        StructField("frame_crc", LongType()),
    ]
)


def frame_sample(
    df: DataFrame,
    frame_size: int = 64,
    stride: int = 4,
    id_col: str = "doc_id",
    media_col: str = "media",
) -> DataFrame:
    """Sample every ``stride``-th fixed-size frame from each payload.

    The video-pipeline shape: one input row fans out to many frame
    rows (``mapInPandas`` may return more rows than it receives —
    the Arrow-batched equivalent of a generate/explode). A real
    decoder replaces the byte-slicing with container-aware frame
    extraction; partitioning, batch iteration, and the fan-out
    contract are identical.
    """
    import zlib

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, sizes, crcs = [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[media_col]):
                raw = bytes(payload)
                n_frames = (len(raw) + frame_size - 1) // frame_size
                for fi in range(0, n_frames, stride):
                    chunk = raw[fi * frame_size : (fi + 1) * frame_size]
                    ids.append(doc_id)
                    idxs.append(fi)
                    sizes.append(len(chunk))
                    crcs.append(zlib.crc32(chunk))
            yield pd.DataFrame(
                {
                    "doc_id": pd.Series(ids, dtype="int64"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_bytes": pd.Series(sizes, dtype="int64"),
                    "frame_crc": pd.Series(crcs, dtype="int64"),
                }
            )

    return df.select(id_col, media_col).mapInPandas(
        batches, schema=FRAME_SCHEMA
    )


def resize_media(
    df: DataFrame,
    target_w: int = 32,
    target_h: int = 32,
    id_col: str = "doc_id",
    media_col: str = "media",
) -> DataFrame:
    """Resize plumbing: payload -> payload of the target dimensions.

    The fake "resampler" truncates/cycles bytes to ``w*h`` — a real
    implementation swaps in PIL/ffmpeg scaling per record; schema
    (binary out + updated metadata struct), Arrow batching, and
    1-in-1-out row contract are identical. Runs in ``mapInPandas``
    so decoder state could be reused across a partition's records.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        size = target_w * target_h
        for pdf in it:
            payloads = []
            for b in pdf[media_col]:
                raw = bytes(b)
                if not raw:
                    payloads.append(b"\x00" * size)
                elif len(raw) >= size:
                    payloads.append(raw[:size])
                else:
                    reps = (size + len(raw) - 1) // len(raw)
                    payloads.append((raw * reps)[:size])
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "media": payloads,
                    "width": target_w,
                    "height": target_h,
                }
            )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("media", BinaryType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
        ]
    )
    return df.select(id_col, media_col).mapInPandas(batches, schema=schema)


def media_summary(df: DataFrame) -> DataFrame:
    """Metadata-only aggregation — never touches payload bytes, so
    parquet column pruning skips the heavy column entirely."""
    return (
        df.select("meta.format", F.octet_length("media").alias("nb"))
        .groupBy("format")
        .agg(
            F.count("*").alias("n"),
            F.sum("nb").alias("total_bytes"),
        )
    )


# ------------------------------------------------- real PPM decoding
#
# The general decode_media stub stands in for PIL/ffmpeg, but netpbm
# images (P5 grayscale / P6 RGB) need nothing beyond numpy — so this
# is a REAL decoder: header parsing (whitespace + '#' comments,
# arbitrary token splits), buffer reshape, nearest-neighbor resize.
# The synthetic payload generator writes valid P6 files whose pixels
# follow a closed-form formula of (doc_id, index), which makes the
# whole byte->parse->decode->aggregate path verifiable by a SQL
# oracle computing the same formula — the decoder itself is under
# hash-match test, not just the plumbing.


def encode_ppm(pixels: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> binary P6."""
    h, w, c = pixels.shape
    assert c == 3 and pixels.dtype == np.uint8
    return b"P6\n%d %d\n255\n" % (w, h) + pixels.tobytes()


def _parse_netpbm_at(
    raw: bytes, offset: int
) -> tuple[np.ndarray, int]:
    """Parse ONE binary netpbm (P5 grayscale / P6 RGB) image starting
    at ``offset`` -> ``((h, w, channels) uint8 array, offset past the
    pixel data)``. The single header tokenizer shared by the
    standalone decoder and the video-container frame walk: '#'
    comments run to end-of-line, arbitrary whitespace separates the
    width/height/maxval tokens, one whitespace byte ends the header.
    A truncated header raises instead of spinning forever on empty
    reads (a corrupt frame must fail the task, not hang the
    executor)."""
    magic = raw[offset : offset + 2]
    if magic not in (b"P5", b"P6"):
        raise ValueError(
            f"not a binary netpbm payload at offset {offset}: {magic!r}"
        )
    channels = 3 if magic == b"P6" else 1
    tokens: list[bytes] = []
    i = offset + 2
    tok = b""
    while len(tokens) < 3:
        ch = raw[i : i + 1]
        i += 1
        if ch == b"":
            raise ValueError(
                f"truncated netpbm header at offset {offset}"
            )
        if ch == b"#":
            while raw[i : i + 1] not in (b"\n", b""):
                i += 1
        elif ch.isspace():
            if tok:
                tokens.append(tok)
                tok = b""
        else:
            tok += ch
    w, h, maxval = (int(t) for t in tokens)
    if maxval > 255:
        raise ValueError("16-bit netpbm not supported")
    n = w * h * channels
    data = np.frombuffer(raw, dtype=np.uint8, count=n, offset=i)
    return data.reshape(h, w, channels), i + n


def decode_ppm(raw: bytes) -> np.ndarray:
    """Binary netpbm -> (h, w, channels) uint8 array (P6 RGB or P5
    grayscale; see :func:`_parse_netpbm_at` for header handling)."""
    px, _ = _parse_netpbm_at(raw, 0)
    return px


def resize_nearest(pixels: np.ndarray, out_w: int, out_h: int) -> np.ndarray:
    """Real nearest-neighbor resize via index mapping (pure numpy)."""
    h, w, _ = pixels.shape
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return pixels[ys][:, xs]


def synth_ppm_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic valid P6 payloads: width = id%16+8, height =
    id%8+8, flat pixel p = (id*31 + p*7) % 256 — closed-form, so an
    oracle can recompute any downstream statistic exactly."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for doc_id in pdf[id_col]:
                w = int(doc_id) % 16 + 8
                h = int(doc_id) % 8 + 8
                p = np.arange(w * h * 3, dtype=np.int64)
                px = ((int(doc_id) * 31 + p * 7) % 256).astype(np.uint8)
                payloads.append(encode_ppm(px.reshape(h, w, 3)))
            yield pd.DataFrame({"doc_id": pdf[id_col], "media": payloads})

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("media", BinaryType())]
    )
    return df.select(id_col).mapInPandas(batches, schema=schema)


PPM_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
    ]
)


def ppm_channel_stats(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """Decode each PPM payload (really) and emit per-channel means.

    float64 sums of <2^53 integer pixel values are exact, so the
    means are order-independent and oracle-comparable bit-for-bit."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in
                    ("doc_id", "width", "height", "mean_r", "mean_g",
                     "mean_b")}
            for doc_id, payload in zip(pdf[id_col], pdf[media_col]):
                px = decode_ppm(bytes(payload))
                h, w, _ = px.shape
                means = px.reshape(-1, 3).astype(np.float64).mean(axis=0)
                rows["doc_id"].append(doc_id)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["mean_r"].append(float(means[0]))
                rows["mean_g"].append(float(means[1]))
                rows["mean_b"].append(float(means[2]))
            yield pd.DataFrame(rows)

    return df.select(id_col, media_col).mapInPandas(
        batches, schema=PPM_STATS_SCHEMA
    )


# ------------------------------------------------- perceptual hash
#
# Average-hash (aHash) image near-duplicate detection over the real
# PPM decode path: resize to 8x8 (nearest-neighbor), integer
# grayscale, bit k = [64*gray_k > sum(gray)] (the integer-exact form
# of gray_k > mean — no float mean, so both engines agree
# bit-for-bit). The 64 bits are packed as two unsigned 32-bit halves
# stored in bigints (h_hi = bits 32..63, h_lo = bits 0..31) so no
# sign-bit ambiguity crosses engines.
#
# Pair mining is banded, not all-pairs: 4 x 16-bit bands; by
# pigeonhole, two hashes within Hamming distance 3 share at least one
# identical band, so a band-equality self-join finds every true pair
# (thr <= 3) while the quadratic work is confined to band buckets —
# the same blocking shape as MinHash LSH (dedup.py) and the scale
# contract at 100 TB of images. Verification is exact xor+popcount
# JVM-side.

AHASH_GRID = 8  # 8x8 = 64-bit hash

AHASH_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("h_hi", LongType()),
        StructField("h_lo", LongType()),
    ]
)


def ahash_64(px: np.ndarray) -> tuple[int, int]:
    """(h, w, 3) uint8 -> (hi32, lo32) average-hash halves."""
    small = resize_nearest(px, AHASH_GRID, AHASH_GRID)
    gray = small.astype(np.int64).sum(axis=2) // 3  # integer gray
    flat = gray.reshape(-1)
    total = int(flat.sum())
    bits = (64 * flat > total).astype(np.int64)
    val = 0
    for k in range(64):
        val |= int(bits[k]) << k
    return (val >> 32) & 0xFFFFFFFF, val & 0xFFFFFFFF


def ahash_hashes(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """Decode each PPM payload and emit its 64-bit average-hash as
    two 32-bit halves (Arrow-batched mapInPandas; one corpus pass)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, his, los = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[media_col]):
                px = decode_ppm(bytes(payload))
                if px.shape[2] == 1:  # P5 grayscale -> 3 channels
                    px = np.repeat(px, 3, axis=2)
                hi, lo = ahash_64(px)
                ids.append(doc_id)
                his.append(hi)
                los.append(lo)
            yield pd.DataFrame({"doc_id": ids, "h_hi": his, "h_lo": los})

    return df.select(id_col, media_col).mapInPandas(
        batches, schema=AHASH_SCHEMA
    )


def synth_ahash_hashes(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """:func:`synth_ppm_payloads` composed with :func:`ahash_hashes`
    in ONE Python stage: the payload is encoded AND decoded inside
    the same task (a real container round-trip through encode_ppm /
    decode_ppm, so the parse path is genuinely exercised), but the
    image bytes never cross the JVM↔Python boundary — only the
    16-byte (id, hi, lo) rows do. Two chained mapInPandas stages
    ship every payload Python→JVM→Python per batch; at 100 TB of
    images that is the whole corpus over the serialization boundary
    twice for nothing — move keys and hashes across boundaries, not
    payloads. Bit-identical to the two-stage composition (pinned
    in tests/test_multimodal.py)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, his, los = [], [], []
            for doc_id in pdf[id_col]:
                w = int(doc_id) % 16 + 8
                h = int(doc_id) % 8 + 8
                p = np.arange(w * h * 3, dtype=np.int64)
                px = ((int(doc_id) * 31 + p * 7) % 256).astype(np.uint8)
                raw = encode_ppm(px.reshape(h, w, 3))
                dec = decode_ppm(raw)
                if dec.shape[2] == 1:
                    dec = np.repeat(dec, 3, axis=2)
                hi, lo = ahash_64(dec)
                ids.append(doc_id)
                his.append(hi)
                los.append(lo)
            yield pd.DataFrame({"doc_id": ids, "h_hi": his, "h_lo": los})

    return df.select(id_col).mapInPandas(batches, schema=AHASH_SCHEMA)


def phash_near_dup_pairs(hashes: DataFrame, thr: int = 3) -> DataFrame:
    """Banded Hamming self-join over aHash values.

    ``thr`` must be <= 3 for the 4-band pigeonhole guarantee (up to 3
    differing bits leave >= 1 of 4 bands intact). Returns distinct
    ``(doc_a, doc_b, hamming)`` with doc_a < doc_b — exact semantics,
    banding is pure candidate pruning.
    """
    assert 0 <= thr <= 3, "4-band blocking is only complete for thr <= 3"
    bands = hashes.select(
        "doc_id",
        "h_hi",
        "h_lo",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(
                            F.col("h_hi" if b >= 2 else "h_lo"),
                            16 * (b % 2),
                        )
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "h_hi", "h_lo", "bk.band", "bk.val")
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("h_hi").alias("hi_a"),
        F.col("h_lo").alias("lo_a"),
        "band",
        "val",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("h_hi").alias("hi_b"),
        F.col("h_lo").alias("lo_b"),
        "band",
        "val",
    )
    pairs = (
        a.join(b, ["band", "val"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming",
            F.bit_count(
                F.col("hi_a").bitwiseXOR(F.col("hi_b"))
            ).cast("long")
            + F.bit_count(
                F.col("lo_a").bitwiseXOR(F.col("lo_b"))
            ).cast("long"),
        )
        .where(F.col("hamming") <= thr)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )
    return pairs


# ------------------------------------------------------- WAV audio
#
# The audio analog of the netpbm path: RIFF/WAV PCM needs nothing
# beyond struct parsing + numpy, so this decoder is REAL — chunk
# walking (fmt/data in any order, unknown chunks skipped per spec),
# 16-bit little-endian PCM, mono. Payloads synthesize from a closed
# form of (doc_id, sample index) so every downstream statistic is
# verifiable by a SQL oracle recomputing the formula — the decoder
# itself sits under the hash-match gate, not just the plumbing.


def encode_wav(samples: np.ndarray, rate: int) -> bytes:
    """int16 mono samples -> RIFF/WAVE PCM bytes."""
    assert samples.dtype == np.int16
    data = samples.tobytes()
    import struct

    fmt = struct.pack(
        "<4sIHHIIHH", b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16
    )
    hdr = struct.pack(
        "<4sI4s", b"RIFF", 4 + len(fmt) + 8 + len(data), b"WAVE"
    )
    return hdr + fmt + struct.pack("<4sI", b"data", len(data)) + data


def decode_wav(raw: bytes) -> tuple[int, np.ndarray]:
    """RIFF/WAVE bytes -> (sample_rate, int16 sample array).

    Walks chunks properly (fmt/data in any order, unknown chunks
    skipped, word-aligned sizes) — 16-bit PCM mono only."""
    import struct

    if raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    i, rate, data = 12, None, None
    while i + 8 <= len(raw):
        cid, size = struct.unpack("<4sI", raw[i : i + 8])
        body = raw[i + 8 : i + 8 + size]
        if cid == b"fmt ":
            audio_fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if audio_fmt != 1 or channels != 1 or bits != 16:
                raise ValueError("only 16-bit PCM mono supported")
        elif cid == b"data":
            data = np.frombuffer(body, dtype="<i2")
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or data is None:
        raise ValueError("missing fmt or data chunk")
    return rate, data


# Media-validity classes, most-broken-first (first match wins) —
# the bytes-side member of the ingest dead-letter lane family
# (similarity.py embedding_validity, curation.py document_validity):
# every media operator here assumes a decodable payload, and
# :func:`decode_wav` raises per-row deep inside an Arrow batch when
# it is not — at 100 TB the broken row should be dead-lettered by a
# scan-fused column predicate at ingest, not discovered as a Python
# exception that kills a whole partition's task hours in.
MEDIA_VALIDITY_CLASSES = (
    "null_media", "empty", "truncated_header", "bad_magic",
    "size_mismatch", "ok",
)

_RIFF_HEADER_LEN = 12  # 'RIFF' + uint32le size + 'WAVE'


def _byte_at(media_col: str, pos: int):
    """1-based byte of a binary column as a long — pure column
    expressions (substring -> hex -> base-16 conv), no UDF."""
    return F.conv(
        F.hex(F.substring(F.col(media_col), pos, 1)), 16, 10
    ).cast("long")


def media_validity(
    df: DataFrame, media_col: str = "media"
) -> DataFrame:
    """Adds a ``validity`` column classifying each RIFF/WAV payload
    (the container :func:`decode_wav` — the in-repo REAL decoder —
    accepts):

    - ``null_media``: the bytes column is NULL;
    - ``empty``: zero bytes;
    - ``truncated_header``: shorter than the 12-byte RIFF preamble
      (``'RIFF' + uint32le size + 'WAVE'``) — no container header to
      parse at all;
    - ``bad_magic``: preamble present but ``RIFF``/``WAVE`` magic
      bytes wrong — not this container (or hopelessly mangled);
    - ``size_mismatch``: the declared RIFF chunk size (little-endian
      uint32 at bytes 5-8) disagrees with the actual byte count —
      the truncated-mid-stream class. This is the dangerous one:
      :func:`decode_wav` does NOT raise on it (Python slices clamp),
      it silently returns fewer samples than the payload declared;
    - ``ok``: a structurally sound container.

    Pure column expressions (octet_length + four 1-byte hex reads,
    no UDF, no shuffle): pipelines into the ingest scan exactly like
    the embedding and document gates. Structural validity only — a
    payload can still carry an unsupported codec; that (per-format,
    decode-time) failure stays with the decoder."""
    m = F.col(media_col)
    nb = F.octet_length(m)
    declared = (
        _byte_at(media_col, 5)
        + _byte_at(media_col, 6) * 256
        + _byte_at(media_col, 7) * 65536
        + _byte_at(media_col, 8) * 16777216
    )
    validity = (
        F.when(m.isNull(), F.lit("null_media"))
        .when(nb == 0, F.lit("empty"))
        .when(nb < _RIFF_HEADER_LEN, F.lit("truncated_header"))
        .when(
            (F.substring(m, 1, 4) != F.lit(b"RIFF"))
            | (F.substring(m, 9, 4) != F.lit(b"WAVE")),
            F.lit("bad_magic"),
        )
        .when(declared + 8 != nb, F.lit("size_mismatch"))
        .otherwise(F.lit("ok"))
    )
    return df.withColumn("validity", validity)


def quarantine_media(
    df: DataFrame, media_col: str = "media"
) -> tuple[DataFrame, DataFrame]:
    """Dead-letter split on :func:`media_validity`:
    ``(clean, quarantined)`` — same lane shape as
    ``quarantine_embeddings`` / ``quarantine_documents``."""
    classified = media_validity(df, media_col)
    clean = classified.filter(F.col("validity") == "ok").drop("validity")
    quarantined = classified.filter(F.col("validity") != "ok")
    return clean, quarantined


def synth_wav_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic valid WAV payloads: n = id%500+100 samples at
    rate 8000 + (id%4)*4000, sample i = (id*37 + i*11) % 4096 - 2048
    — closed-form, oracle-recomputable."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for doc_id in pdf[id_col]:
                d = int(doc_id)
                n = d % 500 + 100
                i = np.arange(n, dtype=np.int64)
                s = ((d * 37 + i * 11) % 4096 - 2048).astype(np.int16)
                payloads.append(encode_wav(s, 8000 + (d % 4) * 4000))
            yield pd.DataFrame({"doc_id": pdf[id_col], "media": payloads})

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("media", BinaryType())]
    )
    return df.select(id_col).mapInPandas(batches, schema=schema)


WAV_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_samples", LongType()),
        StructField("mean_amp", DoubleType()),
        StructField("peak", LongType()),
        StructField("duration_ms", LongType()),
    ]
)


def wav_sample_stats(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """Really decode each WAV payload and emit per-clip statistics.

    int64 sums of int16 samples are exact, so the mean is
    order-independent and oracle-comparable bit-for-bit; duration is
    exact integer math (n * 1000 div rate)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in
                    ("doc_id", "sample_rate", "n_samples", "mean_amp",
                     "peak", "duration_ms")}
            for doc_id, payload in zip(pdf[id_col], pdf[media_col]):
                rate, s = decode_wav(bytes(payload))
                s64 = s.astype(np.int64)
                rows["doc_id"].append(doc_id)
                rows["sample_rate"].append(rate)
                rows["n_samples"].append(len(s))
                rows["mean_amp"].append(
                    round(float(s64.sum()) / len(s), 6)
                )
                rows["peak"].append(int(np.abs(s64).max()))
                rows["duration_ms"].append(len(s) * 1000 // rate)
            yield pd.DataFrame(rows)

    return df.select(id_col, media_col).mapInPandas(
        batches, schema=WAV_STATS_SCHEMA
    )


# ------------------------------------------------------ video clips
#
# Completes the real-decoder trio (netpbm image, WAV audio): a video
# clip is modeled as a container of concatenated binary P6 frames
# behind a tiny index header ("ELV1" + frame count). Extraction is
# REAL parsing — each frame's own PPM header is tokenized to learn
# its dimensions and byte length (they vary per frame, so nothing
# can be sliced blindly) — and the per-frame fan-out is the shape a
# container-aware ffmpeg demux has: one input row -> n_frames rows.


def _parse_ppm_at(raw: bytes, offset: int) -> tuple[np.ndarray, int]:
    """One video frame at ``offset`` — delegates to the shared
    netpbm parser (:func:`_parse_netpbm_at`)."""
    return _parse_netpbm_at(raw, offset)


VIDEO_MAGIC = b"ELV1"


def encode_video(frames: list[np.ndarray]) -> bytes:
    """List of (h, w, 3) uint8 frames -> container bytes."""
    import struct

    return (
        VIDEO_MAGIC
        + struct.pack("<I", len(frames))
        + b"".join(encode_ppm(f) for f in frames)
    )


def decode_video(raw: bytes) -> list[np.ndarray]:
    """Container bytes -> list of decoded frames (real per-frame
    header parsing; frame dimensions may differ)."""
    import struct

    if raw[:4] != VIDEO_MAGIC:
        raise ValueError("not an ELV1 clip")
    (n,) = struct.unpack("<I", raw[4:8])
    frames, off = [], 8
    for _ in range(n):
        px, off = _parse_ppm_at(raw, off)
        frames.append(px)
    return frames


def synth_video_payloads(
    df: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic valid clips: doc_id%4+2 frames; frame fi is
    (fi%4+4) x (fi%8+4) with flat pixel p = (seed*31 + p*7) % 256,
    seed = doc_id*131 + fi*17 — closed-form per (doc, frame)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            payloads = []
            for doc_id in pdf[id_col]:
                d = int(doc_id)
                frames = []
                for fi in range(d % 4 + 2):
                    w, h = fi % 8 + 4, fi % 4 + 4
                    seed = d * 131 + fi * 17
                    p = np.arange(w * h * 3, dtype=np.int64)
                    px = ((seed * 31 + p * 7) % 256).astype(np.uint8)
                    frames.append(px.reshape(h, w, 3))
                payloads.append(encode_video(frames))
            yield pd.DataFrame({"doc_id": pdf[id_col], "media": payloads})

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("media", BinaryType())]
    )
    return df.select(id_col).mapInPandas(batches, schema=schema)


VIDEO_STATS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("mean_gray", DoubleType()),
    ]
)


def video_frame_stats(
    df: DataFrame, id_col: str = "doc_id", media_col: str = "media"
) -> DataFrame:
    """Really demux + decode each clip and emit one row per frame
    with its integer-gray mean (exact int64 sums -> bit-stable)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = {k: [] for k in
                    ("doc_id", "frame_idx", "width", "height",
                     "mean_gray")}
            for doc_id, payload in zip(pdf[id_col], pdf[media_col]):
                for fi, px in enumerate(decode_video(bytes(payload))):
                    h, w, _ = px.shape
                    gray = px.astype(np.int64).sum(axis=2) // 3
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(fi)
                    rows["width"].append(w)
                    rows["height"].append(h)
                    rows["mean_gray"].append(
                        round(float(gray.sum()) / (w * h), 6)
                    )
            yield pd.DataFrame(rows)

    return df.select(id_col, media_col).mapInPandas(
        batches, schema=VIDEO_STATS_SCHEMA
    )


def wav_window_rms(
    df: DataFrame,
    window: int = 50,
    id_col: str = "doc_id",
    media_col: str = "media",
) -> DataFrame:
    """Windowed loudness: REALLY decode each WAV payload
    (:func:`decode_wav` — chunk walk, fmt/data) and emit the RMS
    amplitude of every fixed-size sample window →
    ``(doc_id, win_idx, n_in_win, rms)``.

    The audio-side feature-extraction shape (VAD/loudness windows)
    on top of the engine's real PCM decoder. Sums of squares run in
    int64 (exact for int16 samples at any window size < 2^21), so the
    only float op is one division + sqrt per OUTPUT window — the
    DuckDB oracle replays the closed-form samples bit-for-bit.
    Arrow-batched ``mapInPandas``; the payload column is pruned away
    upstream when only metadata is queried.
    """
    import math

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "doc_id": [], "win_idx": [], "n_in_win": [],
                "rms": [],
            }
            for doc_id, raw in zip(pdf[id_col], pdf[media_col]):
                _rate, samples = decode_wav(bytes(raw))
                s64 = samples.astype(np.int64)
                for w0 in range(0, len(s64), window):
                    seg = s64[w0:w0 + window]
                    ss = int((seg * seg).sum())
                    out["doc_id"].append(int(doc_id))
                    out["win_idx"].append(w0 // window)
                    out["n_in_win"].append(len(seg))
                    out["rms"].append(
                        round(math.sqrt(ss / len(seg)), 6)
                    )
            yield pd.DataFrame(out)

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("win_idx", LongType()),
            StructField("n_in_win", LongType()),
            StructField("rms", DoubleType()),
        ]
    )
    # project to (id, media) BEFORE the Arrow exchange — every
    # other decoder here does; shipping unused wide columns
    # through Arrow wastes the hot path and can fail on
    # Arrow-unfriendly types
    return df.select(id_col, media_col).mapInPandas(
        batches, schema=schema
    )


def video_scene_cuts(
    df: DataFrame,
    threshold: float = 30.0,
    id_col: str = "doc_id",
    media_col: str = "media",
) -> DataFrame:
    """Scene-cut detection over REALLY demuxed clips: decode every
    frame (:func:`decode_video` — per-frame header parse), compute
    its mean pixel intensity from an exact integer sum, and flag
    frames whose mean jumps more than ``threshold`` from the
    previous frame → ``(doc_id, frame_idx, mean_px, delta,
    is_cut)`` for frames 1..n-1.

    Mean-intensity deltas are the dimension-robust cut signal when
    frame geometry varies (pixelwise diffs need equal shapes); sums
    run in int64 so each mean is one exact division. Arrow-batched
    ``mapInPandas``; per-clip work is bounded by clip length.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: dict[str, list] = {
                "doc_id": [], "frame_idx": [], "mean_px": [],
                "delta": [], "is_cut": [],
            }
            for doc_id, raw in zip(pdf[id_col], pdf[media_col]):
                frames = decode_video(bytes(raw))
                means = [
                    round(
                        int(f.astype(np.int64).sum()) / f.size, 6
                    )
                    for f in frames
                ]
                for fi in range(1, len(means)):
                    delta = round(abs(means[fi] - means[fi - 1]), 6)
                    out["doc_id"].append(int(doc_id))
                    out["frame_idx"].append(fi)
                    out["mean_px"].append(means[fi])
                    out["delta"].append(delta)
                    out["is_cut"].append(delta > threshold)
            yield pd.DataFrame(out)

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("frame_idx", LongType()),
            StructField("mean_px", DoubleType()),
            StructField("delta", DoubleType()),
            StructField("is_cut", BooleanType()),
        ]
    )
    # project to (id, media) BEFORE the Arrow exchange — every
    # other decoder here does; shipping unused wide columns
    # through Arrow wastes the hot path and can fail on
    # Arrow-unfriendly types
    return df.select(id_col, media_col).mapInPandas(
        batches, schema=schema
    )

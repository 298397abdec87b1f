"""X3 multimodal columns: opaque binary payloads + typed metadata
(SURVEY §2.11 — north-star extension).

Pattern: media travels as an opaque ``binary`` column (or a storage
path reference for large assets) next to a typed metadata struct.
Cheap, lossless operations (size, content hash, magic-byte sniffing)
are built-in JVM expressions; decode/feature-extraction runs as
Arrow-batched ``mapInPandas`` so each Python worker sees columnar
batches, never single rows.

The actual codecs (PIL/ffmpeg/librosa) are NOT available in this
environment. The decode kernel is therefore codec-free but REAL:
deterministic per-chunk byte statistics (``_byte_stat_features``),
oracle-certified cross-engine. Resize/frame-sample kernels remain
clearly marked stand-ins behind real Spark plumbing (schema, batching,
partitioning are real and tested); swap the kernels for real decoders
in production.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..partitioning import spread
from pyspark.sql import types as T

__all__ = [
    "MEDIA_META_SCHEMA",
    "attach_binary_metadata",
    "decode_features",
    "resize_media",
    "sample_frames",
    "media_fingerprint",
]

# Typed metadata carried next to the payload; mirrors what a real
# decoder would emit. Kept flat for parquet column pruning.
MEDIA_META_SCHEMA = T.StructType(
    [
        T.StructField("media_type", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("content_sha256", T.StringType()),
    ]
)

_MAGIC = {
    "89504e47": "image/png",
    "ffd8ff": "image/jpeg",
    "52494646": "riff",  # wav/avi container
    "494433": "audio/mpeg",
}


def attach_binary_metadata(
    df: DataFrame, payload_col: str, out_col: str = "media_meta"
) -> DataFrame:
    """Add (media_type, n_bytes, content_sha256) computed entirely
    JVM-side: magic-byte sniff via hex prefix, length, sha256. No
    decode, no Python — safe to run over 100 TB of payloads."""
    payload = F.col(payload_col)
    prefix = F.lower(F.hex(F.substring(payload, 1, 4)))
    media_type = F.lit("application/octet-stream")
    for magic, mtype in _MAGIC.items():
        media_type = F.when(
            prefix.startswith(magic.lower()), F.lit(mtype)
        ).otherwise(media_type)
    return df.withColumn(
        out_col,
        F.struct(
            media_type.alias("media_type"),
            F.length(payload).cast("long").alias("n_bytes"),
            F.sha2(payload, 256).alias("content_sha256"),
        ),
    )


def _byte_stat_features(payload: bytes, n_features: int) -> list[float]:
    """Codec-free feature kernel: per-chunk mean byte value.

    The payload is split into ``n_features`` contiguous chunks (byte j
    belongs to chunk ``j*n // L``) and each feature is the chunk's mean
    byte value normalized to [0, 1], quantized to ppm via EXACT integer
    arithmetic (``sum*1_000_000 // (count*255)``) so any engine —
    including a SQL oracle — reproduces it bit-for-bit. A real media
    codec (PIL/librosa/ffmpeg; not shipped in this environment) would
    replace this kernel; the Spark plumbing around it is unchanged."""
    if payload is None or len(payload) == 0:
        return [0.0] * n_features
    arr = np.frombuffer(payload, dtype=np.uint8).astype(np.int64)
    n = len(arr)
    chunks = (np.arange(n) * n_features) // n
    sums = np.bincount(chunks, weights=arr, minlength=n_features).astype(np.int64)
    counts = np.bincount(chunks, minlength=n_features).astype(np.int64)
    out = []
    for k in range(n_features):
        if counts[k] == 0:
            out.append(0.0)
        else:
            out.append((int(sums[k]) * 1_000_000 // (int(counts[k]) * 255)) / 1e6)
    return out


# Real-codec optionality: when PIL is installed (not in this
# container), decode_features(kernel="auto") decodes actual images;
# the byte-stat kernel remains the certified fallback and the
# oracle-paired configuration.
try:  # pragma: no cover - exercised only where PIL exists
    from PIL import Image as _PILImage

    HAS_PIL = True
except ImportError:
    _PILImage = None
    HAS_PIL = False


def _pil_image_features(payload: bytes, n_features: int) -> list[float]:
    """Mean grayscale intensity per horizontal image band, normalized
    to [0, 1] — a real decoded-pixel feature. Non-decodable payloads
    (not an image / truncated) fall back to byte statistics so mixed
    corpora never crash the batch."""
    import io

    if payload is None or len(payload) == 0:
        return [0.0] * n_features
    try:
        img = _PILImage.open(io.BytesIO(bytes(payload)))
        arr = np.asarray(img.convert("L"), dtype=np.float64)
    except Exception:
        return _byte_stat_features(payload, n_features)
    h = arr.shape[0]
    bands = (np.arange(h) * n_features) // max(h, 1)
    out = []
    for k in range(n_features):
        rows = arr[bands == k]
        out.append(float(rows.mean() / 255.0) if rows.size else 0.0)
    return out


def decode_features(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    n_features: int = 8,
    kernel: str = "auto",
) -> DataFrame:
    """Arrow-batched feature extraction: (id, features array<double>).

    Real plumbing; kernel selection:
      - ``"bytes"`` — codec-free byte statistics (module docstring);
        deterministic, oracle-certified, always available.
      - ``"pil"``  — decoded-pixel band means via PIL; raises if PIL
        is not installed.
      - ``"auto"`` — PIL when installed, else byte statistics.

    mapInPandas
    iterates columnar batches — the payload bytes stream through Arrow
    without per-row pickling; partition counts carry over from the
    input, so repartition upstream to size Python workers' batches.
    """
    if kernel == "pil" and not HAS_PIL:
        raise ImportError(
            "decode_features(kernel='pil') requires PIL, which is not "
            "installed; use kernel='bytes' (certified byte-statistics)"
        )
    use_pil = kernel == "pil" or (kernel == "auto" and HAS_PIL)
    feat_fn = _pil_image_features if use_pil else _byte_stat_features
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("features", T.ArrayType(T.DoubleType())),
        ]
    )
    # spread the pruned (id, payload) projection: a real decode is
    # CPU-bound per item, and a small single-split scan would otherwise
    # feed ONE Python worker (see partitioning.spread — no-op at scale)
    src = spread(
        df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(payload_col).alias("payload"),
        )
    )

    def _extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "features": [
                        feat_fn(p, n_features) for p in pdf["payload"]
                    ],
                }
            )

    return src.mapInPandas(_extract, out_schema)


def resize_media(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    target_w: int = 64,
    target_h: int = 64,
) -> DataFrame:
    """'Resize' plumbing: (id, resized binary, width, height) via
    Arrow-batched mapInPandas. STUB kernel — a real implementation
    decodes with PIL/ffmpeg and resamples; this environment has no
    media codecs, so the stand-in deterministically strides the payload
    bytes down to w·h bytes (same batch shape, schema, and size
    contract as the real thing)."""
    out_schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("resized", T.BinaryType()),
            T.StructField("width", T.IntegerType()),
            T.StructField("height", T.IntegerType()),
        ]
    )
    # spread the pruned (id, payload) projection: a real decode is
    # CPU-bound per item, and a small single-split scan would otherwise
    # feed ONE Python worker (see partitioning.spread — no-op at scale)
    src = spread(
        df.select(
            F.col(id_col).cast("long").alias("id"),
            F.col(payload_col).alias("payload"),
        )
    )
    n_out = target_w * target_h

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        def shrink(p):
            if p is None:
                return b"\x00" * n_out
            if len(p) >= n_out:
                step = len(p) // n_out
                return bytes(p[i * step] for i in range(n_out))
            return bytes(p) + b"\x00" * (n_out - len(p))

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "id": pdf["id"],
                    "resized": [shrink(p) for p in pdf["payload"]],
                    "width": target_w,
                    "height": target_h,
                }
            )

    return src.mapInPandas(kernel, out_schema)


def sample_frames(
    df: DataFrame,
    payload_col: str,
    id_col: str,
    every_n_bytes: int = 1024,
    max_frames: int = 8,
) -> DataFrame:
    """'Frame sampling' plumbing: one output row per sampled frame
    (id, frame_idx, frame_sha256). The sampler slices the payload at
    fixed offsets — a stand-in for real video frame extraction with the
    same explode-shaped output (rows multiply, so follow with a
    repartition if frames feed a heavy downstream op)."""
    payload = F.col(payload_col)
    n = F.least(
        F.greatest((F.length(payload) / every_n_bytes).cast("int"), F.lit(1)),
        F.lit(max_frames),
    )
    idx = F.explode(F.sequence(F.lit(0), n - 1)).alias("frame_idx")
    frame = F.substring(
        payload, F.col("frame_idx") * every_n_bytes + 1, every_n_bytes
    )
    return (
        spread(df.select(F.col(id_col), payload))
        .select(F.col(id_col), F.col(payload_col), idx)
        .select(
            F.col(id_col),
            F.col("frame_idx"),
            F.sha2(frame, 256).alias("frame_sha256"),
        )
    )


_DCT32 = None


def _dct_matrix(n: int):
    """Orthonormal DCT-II basis matrix (numpy-only — the scipy-free
    route to a 2-D DCT as ``D @ A @ D.T``)."""
    k = np.arange(n, dtype=np.float64)[:, None]
    j = np.arange(n, dtype=np.float64)[None, :]
    m = np.cos(np.pi * (2 * j + 1) * k / (2 * n))
    m[0] *= 1.0 / np.sqrt(2.0)
    return m * np.sqrt(2.0 / n)


def _area_resize(gray, out: int = 32):
    """Area-mean resize of a 2-D array to (out × out) via reduceat —
    the box-filter downscale pHash expects, no PIL. Sides smaller than
    ``out`` upsample by segment repetition (duplicate reduceat starts),
    so tiny inputs still produce a full hash."""
    res = gray.astype(np.float64)
    for axis in (0, 1):
        side = res.shape[axis]
        starts = (np.arange(out) * side) // out
        counts = np.diff(np.append(starts, side))
        counts[counts == 0] = 1
        summed = np.add.reduceat(res, starts, axis=axis)
        shape = [1, 1]
        shape[axis] = out
        res = summed / counts.reshape(shape)
    return res


def _phash64(payload, hash_size: int = 8) -> int:
    """Perceptual 64-bit pHash (the classic imagehash construction):
    grayscale plane → 32×32 area resize → 2-D DCT-II → top-left
    (hash_size × hash_size) low-frequency block → bits = coefficient >
    block median. Near-identical content flips few bits, so the hash
    pairs with ``dedup.hamming_near_dup_pairs`` for radius>0 media
    dedup (the exact md5 kernel only ever catches radius 0).

    Decode tier: with PIL installed the payload is decoded as a real
    image; in this container (no media libs — the documented gate) the
    grayscale plane is the DETERMINISTIC FAKE decode — payload bytes
    reshaped to the largest square. The DCT/threshold math — the part
    that makes perturbation-tolerance work — is real either way, and
    swapping in a real codec touches only the plane construction.

    Returned as a SIGNED 64-bit value (two's-complement wrap) so it
    fits Spark's LongType; XOR+bit_count Hamming math is sign-blind."""
    global _DCT32
    if payload is None or len(payload) == 0:
        return 0
    plane = None
    if HAS_PIL:  # pragma: no cover - container has no PIL
        import io

        try:
            img = _PILImage.open(io.BytesIO(bytes(payload)))
            plane = np.asarray(img.convert("L"), dtype=np.float64)
        except Exception:
            plane = None
    if plane is None or plane.ndim != 2 or min(plane.shape) < 2:
        arr = np.frombuffer(bytes(payload), dtype=np.uint8)
        if len(arr) < 4:
            arr = np.pad(arr, (0, 4 - len(arr)))
        side = int(np.sqrt(len(arr)))
        plane = arr[: side * side].reshape(side, side).astype(np.float64)
    if _DCT32 is None:
        _DCT32 = _dct_matrix(32)
    coef = _DCT32 @ _area_resize(plane, 32) @ _DCT32.T
    block = coef[:hash_size, :hash_size].ravel()
    bits = block > np.median(block)
    h = 0
    for b in bits:
        h = (h << 1) | int(b)
    if h >= 1 << 63:  # wrap to signed long for Spark LongType
        h -= 1 << 64
    return h


def media_fingerprint(
    df: DataFrame, payload_col: str, id_col: str,
    out_col: str = "fingerprint",
    kernel: str = "exact",
) -> DataFrame:
    """64-bit content fingerprint per payload for Hamming-join dedup:
    (id, out_col long).

    ``kernel="exact"`` (default, the CERTIFIED config) is the
    ENGINE-PORTABLE exact-content hash (first 15 md5 hex digits as a
    positive 60-bit long — the same derivation as
    ``dedup._base_hash('md5')``), fully JVM-side and replayable by any
    SQL engine; its radius-0 Hamming matches are exactly the
    byte-identical payloads.

    ``kernel="phash"`` is the PERCEPTUAL hash (:func:`_phash64`:
    32×32 area resize → numpy DCT-II → top-8×8 median threshold), an
    Arrow-batched mapInArrow kernel — zero shuffle, embarrassingly
    parallel, rows-only by nature (float DCT + media decode are not
    SQL-replayable). Small payload perturbations flip few bits, so
    radius>0 ``hamming_near_dup_pairs`` joins find near-duplicate
    media the exact kernel cannot. PIL-decoded real images when PIL
    exists; the deterministic byte-plane fake decode otherwise (this
    container — see the _phash64 docstring)."""
    if kernel == "exact":
        return df.select(
            F.col(id_col),
            F.conv(F.substring(F.md5(F.col(payload_col)), 1, 15), 16, 10)
            .cast("long")
            .alias(out_col),
        )
    if kernel != "phash":
        raise ValueError(f"kernel must be 'exact' or 'phash': {kernel!r}")
    import pyarrow as pa

    out_schema = T.StructType(
        [
            df.schema[id_col],
            T.StructField(out_col, T.LongType()),
        ]
    )
    src = spread(df.select(F.col(id_col), F.col(payload_col)))

    def _kernel(batches):
        for batch in batches:
            ids = batch.column(id_col)
            fps = [_phash64(p.as_py()) for p in batch.column(payload_col)]
            yield pa.RecordBatch.from_arrays(
                [ids, pa.array(fps, type=pa.int64())],
                names=[id_col, out_col],
            )

    return src.mapInArrow(_kernel, out_schema)

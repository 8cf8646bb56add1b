"""Multimodal columns: image/audio/video payloads as opaque binary columns
with typed metadata (SURVEY.md §2.10 D5 + north-star multimodal surface).

The reference stores each 2-D frame as a PNG object (local_storage.py /
s3_storage.py) keyed by `raw_frames/<serial>/im_c..._z..._t..._p....png`,
decoded to numpy via cv2 (image_utils.py:22-30) and assembled into dense
5-D stacks client-side (data_storage.py:198-241). Spark-native shape:

  frame metadata row  +  payload BinaryType column (binaryFile source or
  inline)  →  decode / resize / feature-extract as Arrow-batched pandas
  UDFs over mapInPandas  →  per-dataset assembly via applyInPandas.

PNG decode/encode is REAL (round 3): imagingdb_spark.png is a pure-numpy
codec covering exactly the reference's frame contract (greyscale/RGB,
uint8/uint16), so `decode_png` and `serialize_im`/`deserialize_im` run
without cv2, and imagingdb_spark.tiff reads/writes multi-page TIFF
(uncompressed, LZW, Deflate + predictor 2 as of round 4), so
`split_tiff_pages` defaults to a REAL TIFF→PNG page reader. The decoder
seam stays injectable only for formats beyond that (JPEG-in-TIFF,
PackBits → cv2/PIL/tifffile); PCM WAV decode is real, compressed audio
stays behind the seam (no soundfile in the container).
Everything Spark-side — schema, partitioning, UDF signatures, Arrow batch
shapes, group semantics — is real and tested.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from imagingdb_spark.registry import query

# frame metadata + payload: the multimodal column contract. The payload is
# opaque bytes; width/height/bit_depth travel alongside as typed metadata
# (frames_global semantics, frames_global.py:10-36).
FRAME_SCHEMA = T.StructType(
    [
        T.StructField("dataset_serial", T.StringType()),
        T.StructField("channel_idx", T.IntegerType()),
        T.StructField("slice_idx", T.IntegerType()),
        T.StructField("time_idx", T.IntegerType()),
        T.StructField("pos_idx", T.IntegerType()),
        T.StructField("im_width", T.IntegerType()),
        T.StructField("im_height", T.IntegerType()),
        T.StructField("bit_depth", T.StringType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("dataset_serial", T.StringType()),
        T.StructField("channel_idx", T.IntegerType()),
        T.StructField("slice_idx", T.IntegerType()),
        T.StructField("time_idx", T.IntegerType()),
        T.StructField("pos_idx", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("payload_sha256", T.StringType()),
        T.StructField("mean_intensity", T.DoubleType()),
        T.StructField("max_intensity", T.DoubleType()),
    ]
)


def decode_png(payload: bytes, bit_depth: str) -> "np.ndarray":
    """PNG → ndarray (image_utils.py:22-30, cv2.imdecode semantics for
    greyscale/RGB uint8/uint16) via the pure-numpy codec in
    imagingdb_spark.png — real, no cv2 needed. `bit_depth` is the catalog's
    declared dtype (frames_global.bit_depth); a mismatch with the payload's
    actual depth raises, surfacing catalog/blob drift at decode time."""
    from imagingdb_spark import png

    im = png.decode_png(payload)
    if bit_depth and str(im.dtype) != bit_depth:
        raise ValueError(
            f"catalog bit_depth {bit_depth!r} != payload dtype {im.dtype}"
        )
    return im


def decode_any(payload: bytes, bit_depth: str) -> "np.ndarray":
    """Content-sniffing decoder for CRAWLED payloads: PNG / JPEG / TIFF
    (first page) / BMP / GIF by magic bytes (webimg.decode_image), same
    (payload, bit_depth) contract as decode_png so it drops into every
    decoder seam (phash_frames, frame_features, thumbnails, the
    streaming image gate). The catalog upload flows keep decode_png —
    their storage format is pinned; this is for ingest paths where the
    payload mix is whatever the crawler fetched and extensions lie.
    bit_depth='' skips the drift check (crawl rows carry no catalog
    declaration)."""
    from imagingdb_spark import webimg

    im = webimg.decode_image(payload)
    if bit_depth and str(im.dtype) != bit_depth:
        raise ValueError(
            f"catalog bit_depth {bit_depth!r} != payload dtype {im.dtype}"
        )
    return im


def serialize_im(im: "np.ndarray", file_format: str = ".png") -> bytes:
    """`serialize_im` (image_utils.py:5-19): frame array → storage bytes.
    Only PNG is supported codec-side; other formats raise TypeError like
    the reference does for a bad cv2 format."""
    from imagingdb_spark import png

    if file_format.lower() not in (".png", "png"):
        raise TypeError(f"Wrong file format: {file_format}")
    return png.encode_png(im)


def deserialize_im(byte_string: bytes) -> "np.ndarray":
    """`deserialize_im` (image_utils.py:22-30): storage bytes → frame
    array, depth/colors from the payload itself."""
    from imagingdb_spark import png

    return png.decode_png(byte_string)


def fake_decoder(payload: bytes, bit_depth: str) -> "np.ndarray":
    """Deterministic stand-in decoder: bytes → uint8/uint16 1-D array.
    Preserves the real decoder's contract (bytes in, ndarray out) so the
    Spark plumbing around it is exercised for real."""
    dtype = np.uint16 if bit_depth == "uint16" else np.uint8
    arr = np.frombuffer(payload, dtype=np.uint8).astype(dtype)
    return arr if arr.size else np.zeros(1, dtype=dtype)


def frame_features(
    frames: DataFrame,
    decoder: Callable[[bytes, str], "np.ndarray"] = decode_png,
) -> DataFrame:
    """Decode + feature-extract as mapInPandas: Arrow-batched, preserves
    partitioning (no shuffle), one Python worker round-trip per batch —
    the vectorized replacement for the reference's per-frame Python loops
    (tiffolder_splitter.py:108-134). sha256 here proves payload integrity
    end-to-end (meta_utils.py:72-102 semantics)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            arrs = [
                decoder(p, bd) for p, bd in zip(pdf["payload"], pdf["bit_depth"])
            ]
            yield pd.DataFrame(
                {
                    "dataset_serial": pdf["dataset_serial"],
                    "channel_idx": pdf["channel_idx"],
                    "slice_idx": pdf["slice_idx"],
                    "time_idx": pdf["time_idx"],
                    "pos_idx": pdf["pos_idx"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "payload_sha256": [
                        hashlib.sha256(p).hexdigest() for p in pdf["payload"]
                    ],
                    "mean_intensity": [float(a.mean()) for a in arrs],
                    "max_intensity": [float(a.max()) for a in arrs],
                }
            )

    return frames.mapInPandas(batches, schema=FEATURE_SCHEMA)


def resize_frames(
    frames: DataFrame,
    out_height: int,
    out_width: int,
    resizer: Callable[["np.ndarray", int, int], "np.ndarray"] | None = None,
    decoder: Callable[[bytes, str], "np.ndarray"] = decode_png,
) -> DataFrame:
    """Multimodal resize: decode → resize → re-emit payload + updated dims,
    as mapInPandas (Arrow-batched, no shuffle — each task transforms its
    partition in place). `resizer` is injectable like the codec (cv2.resize
    in a real deployment); the default nearest-neighbor index sampler keeps
    the plumbing testable without image libs."""

    def nn_resize(arr: "np.ndarray", h: int, w: int) -> "np.ndarray":
        flat = arr.ravel()
        idx = (np.linspace(0, flat.size - 1, h * w)).astype(np.int64)
        return flat[idx].reshape(h, w)

    resize = resizer or nn_resize

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pdf.copy()
            payloads = []
            for p, bd in zip(pdf["payload"], pdf["bit_depth"]):
                arr = resize(decoder(p, bd), out_height, out_width)
                payloads.append(arr.tobytes())
            out["payload"] = payloads
            out["im_height"] = out_height
            out["im_width"] = out_width
            yield out

    return frames.mapInPandas(batches, schema=frames.schema)


def sample_frames(
    frames: DataFrame,
    every_nth: int,
    order_cols: list[str] | None = None,
    group_col: str = "dataset_serial",
) -> DataFrame:
    """Frame sampling (the video frame-sample analog): keep every n-th
    frame per dataset in (time, slice, channel, pos) order — pure
    DataFrame logic, one shuffle on the dataset key. Payloads are NOT
    decoded: the filter runs on metadata and prunes before any expensive
    decode stage downstream."""
    from pyspark.sql import Window

    order_cols = order_cols or ["time_idx", "slice_idx", "channel_idx", "pos_idx"]
    w = Window.partitionBy(group_col).orderBy(*order_cols)
    return (
        frames.withColumn("_rn", F.row_number().over(w))
        .filter((F.col("_rn") - 1) % every_nth == 0)
        .drop("_rn")
    )


DIM_ORDER = "XYGZCTP"


def squeeze_stack(im_stack: "np.ndarray") -> tuple["np.ndarray", str]:
    """`squeeze_stack` (data_storage.py:68-85): drop singleton dims, return
    the squeezed stack + the surviving-dims string out of XYGZCTP."""
    single_dims = np.where(np.asarray(im_stack.shape) == 1)[0]
    dim_str = "".join(
        x for x in DIM_ORDER if DIM_ORDER.index(x) not in single_dims
    )
    return np.squeeze(im_stack), dim_str


def to_numpy_stack(
    frames_meta,
    global_meta: dict,
    get_im: Callable[[str], "np.ndarray"],
) -> tuple["np.ndarray", str]:
    """`get_stack_from_meta` (data_storage.py:198-241): the driver-side
    collect boundary for SMALL results — one dataset's frames assembled
    into a dense XYGZCTP numpy stack, squeezed, with the dim-order string.

    Coordinates are the RANK of each sorted unique index value
    (np.where(unique == idx), data_storage.py:232-238) — indices need not
    start at 0 nor be contiguous (data_storage.py:49-55). `get_im` maps
    file_name → 2-D (or HxWx3) ndarray, the storage get_im seam
    (local_storage.py:153-164 / s3_storage.py:163-176).

    This is deliberately NOT distributed: use it only after filtering to
    one dataset / subset (the reference's own usage). The distributed twin
    is assemble_stack (applyInPandas, one group per dataset)."""
    pdf = (
        frames_meta.toPandas()
        if isinstance(frames_meta, DataFrame)
        else frames_meta
    )
    unique_ids = {
        "slices": np.unique(pdf["slice_idx"]),
        "channels": np.unique(pdf["channel_idx"]),
        "times": np.unique(pdf["time_idx"]),
        "pos": np.unique(pdf["pos_idx"]),
    }
    im_stack = np.zeros(
        (
            global_meta["im_height"],
            global_meta["im_width"],
            global_meta["im_colors"],
            len(unique_ids["slices"]),
            len(unique_ids["channels"]),
            len(unique_ids["times"]),
            len(unique_ids["pos"]),
        ),
        global_meta["bit_depth"],
    )
    for _, row in pdf.iterrows():
        im = np.atleast_3d(get_im(row["file_name"]))
        im_stack[
            :, :, :,
            int(np.searchsorted(unique_ids["slices"], row["slice_idx"])),
            int(np.searchsorted(unique_ids["channels"], row["channel_idx"])),
            int(np.searchsorted(unique_ids["times"], row["time_idx"])),
            int(np.searchsorted(unique_ids["pos"], row["pos_idx"])),
        ] = im
    return squeeze_stack(im_stack)


def assemble_stack(
    frames: DataFrame,
    decoder: Callable[[bytes, str], "np.ndarray"] = decode_png,
) -> DataFrame:
    """Per-dataset 5-D stack assembly as applyInPandas — the distributed
    form of `make_stack_from_meta` (data_storage.py:198-241). One group =
    one dataset; inside the group the pandas code mirrors the reference's
    rank-based coordinates (np.unique + searchsorted = rank of sorted
    unique index values, data_storage.py:49-55, 232-238). Output: one row
    per dataset with the flattened stack + shape — kept as rows so a 100 TB
    collection never materializes on the driver; `.collect()` one row to
    get one dataset's stack."""

    out_schema = T.StructType(
        [
            T.StructField("dataset_serial", T.StringType()),
            T.StructField("shape", T.ArrayType(T.IntegerType())),
            T.StructField("dim_order", T.StringType()),
            T.StructField("stack", T.ArrayType(T.DoubleType())),
        ]
    )

    def per_dataset(pdf: pd.DataFrame) -> pd.DataFrame:
        uz = np.unique(pdf["slice_idx"])
        uc = np.unique(pdf["channel_idx"])
        ut = np.unique(pdf["time_idx"])
        up = np.unique(pdf["pos_idx"])
        first = decoder(pdf["payload"].iloc[0], pdf["bit_depth"].iloc[0])
        stack = np.zeros((len(uz), len(uc), len(ut), len(up), first.size))
        for _, row in pdf.iterrows():
            z = int(np.searchsorted(uz, row["slice_idx"]))
            c = int(np.searchsorted(uc, row["channel_idx"]))
            t = int(np.searchsorted(ut, row["time_idx"]))
            p = int(np.searchsorted(up, row["pos_idx"]))
            stack[z, c, t, p, :] = decoder(row["payload"], row["bit_depth"])
        dims = list(zip("ZCTP", stack.shape[:4])) + [("X", first.size)]
        kept = [(n, s) for n, s in dims if s > 1] or [("X", first.size)]
        squeezed = stack.reshape([s for _, s in kept])
        return pd.DataFrame(
            {
                "dataset_serial": [pdf["dataset_serial"].iloc[0]],
                "shape": [list(squeezed.shape)],
                "dim_order": ["".join(n for n, _ in kept)],
                "stack": [squeezed.ravel().astype(float)],
            }
        )

    return frames.groupBy("dataset_serial").applyInPandas(per_dataset, out_schema)


# ---------------------------------------------------------------------------
# Audio: same opaque-binary + typed-metadata pattern as frames. PCM decode is
# a stub (no audio libs in this container); the Spark plumbing — schema,
# mapInPandas batch shape, windowed feature math — is real and tested with
# the injectable fake.

AUDIO_FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("n_samples", T.LongType()),
        T.StructField("n_windows", T.LongType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("peak", T.DoubleType()),
        T.StructField("window_rms", T.ArrayType(T.DoubleType())),
    ]
)


def decode_pcm(payload: bytes, sample_rate: int) -> "np.ndarray":
    """Audio container → float samples in [-1, 1] — REAL for WAV (round 3:
    imagingdb_spark.wav, pure-numpy RIFF parsing, PCM 8/16/32 + IEEE
    float). Multi-channel clips downmix by channel mean (the common
    feature-extraction convention). `sample_rate` is the catalog's
    declared rate; a mismatch with the container's own rate raises,
    surfacing catalog/blob drift like decode_png's bit-depth check.
    Non-WAV payloads raise ValueError — inject a soundfile-backed decoder
    for compressed formats (the seam is unchanged)."""
    from imagingdb_spark import wav

    a, rate, _channels = wav.decode_wav(payload)
    if sample_rate and rate != sample_rate:
        raise ValueError(
            f"catalog sample_rate {sample_rate} != payload rate {rate}"
        )
    return a.mean(axis=1) if a.ndim == 2 else a


def fake_pcm_decoder(payload: bytes, sample_rate: int) -> "np.ndarray":
    """Deterministic stand-in: raw bytes as int16 little-endian PCM scaled
    to [-1, 1] — the real decoder's contract (bytes in, float samples out)
    so the Spark plumbing is exercised for real."""
    n = len(payload) - (len(payload) % 2)
    if not n:
        return np.zeros(1, dtype=np.float64)
    return (
        np.frombuffer(payload[:n], dtype="<i2").astype(np.float64) / 32768.0
    )


def audio_features(
    clips: DataFrame,
    window: int = 1024,
    decoder: Callable[[bytes, int], "np.ndarray"] = decode_pcm,
) -> DataFrame:
    """Decode + windowed energy features as mapInPandas over
    (clip_id, payload, sample_rate): per-clip RMS/peak plus per-window RMS
    (the frame-level feature a filtering pipeline thresholds on — silence/
    clipping detection). Per clip the window sums come from one
    np.add.reduceat over squared samples — no per-sample Python.

    Same scale shape as frame_features: map-side, partition-preserving,
    Arrow-batched; at 100 TB clips are size-bucketed files and this runs
    embarrassingly parallel behind the scan."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for cid, p, sr in zip(
                pdf["clip_id"], pdf["payload"], pdf["sample_rate"]
            ):
                a = decoder(p, int(sr))
                sq = a * a
                starts = np.arange(0, len(a), window)
                counts = np.diff(starts, append=len(a))
                wsums = np.add.reduceat(sq, starts) if len(a) else np.zeros(0)
                rows.append(
                    {
                        "clip_id": cid,
                        "n_samples": len(a),
                        "n_windows": len(starts),
                        "rms": float(np.sqrt(sq.mean())) if len(a) else 0.0,
                        "peak": float(np.abs(a).max()) if len(a) else 0.0,
                        "window_rms": np.sqrt(wsums / counts).round(6)
                        if len(a)
                        else np.zeros(0),
                    }
                )
            yield pd.DataFrame(rows)

    return clips.mapInPandas(batches, schema=AUDIO_FEATURE_SCHEMA)


# ---------------------------------------------------------------------------
# Perceptual-hash image near-dup (D5c): the image twin of the text engine's
# SimHash path. A 64-bit pHash (downsample → 2-D DCT → low-frequency sign
# bits) is robust to resizing, re-encoding, and small intensity shifts —
# the transformations that defeat the exact payload_sha256 dedup — so a
# multimodal training pipeline can catch "same picture, different file".
# ---------------------------------------------------------------------------

PHASH_BITS = 64          # 8x8 low-frequency block
PHASH_INPUT_SIZE = 32    # downsample target before the DCT
PHASH_BANDS = 8          # 8 bands x 8 bits: lossless for hamming <= 7
PHASH_MAX_DISTANCE = 6   # near-dup threshold (standard pHash radius)


def _dct_matrix(n: int) -> "np.ndarray":
    """Orthonormal DCT-II matrix (float64): D = C @ X @ C.T is the 2-D DCT."""
    k = np.arange(n)
    c = np.cos(np.pi * (2 * k[None, :] + 1) * k[:, None] / (2 * n))
    c *= np.sqrt(2.0 / n)
    c[0] *= np.sqrt(0.5)
    return c


def _phash_one(im: "np.ndarray") -> int:
    """64-bit pHash of one 2-D (or RGB; averaged) frame: area-mean
    downsample to PHASH_INPUT_SIZE², 2-D DCT, keep the top-left 8×8
    low-frequency block minus DC, threshold at its median. Median (not
    mean) makes exactly half the bits 1 — brightness/contrast invariant."""
    a = np.asarray(im, dtype=np.float64)
    if a.ndim == 3:  # RGB → luma-ish mean; channel order irrelevant to dedup
        a = a.mean(axis=2)
    n = PHASH_INPUT_SIZE
    h, w = a.shape
    if h < n or w < n:  # pad tiny frames up with edge values
        a = np.pad(a, ((0, max(0, n - h)), (0, max(0, n - w))), mode="edge")
        h, w = a.shape
    # area-mean pooling via bucketed reduceat (no interpolation dependency)
    ys = (np.arange(n) * h) // n
    xs = (np.arange(n) * w) // n
    pooled = np.add.reduceat(np.add.reduceat(a, ys, axis=0), xs, axis=1)
    ycnt = np.diff(ys, append=h)[:, None]
    xcnt = np.diff(xs, append=w)[None, :]
    pooled = pooled / (ycnt * xcnt)
    c = _dct_matrix(n)
    d = c @ pooled @ c.T
    block = d[:8, :8].ravel()[1:]  # drop DC: it is pure mean brightness
    bits = block > np.median(block)
    weights = 1 << np.arange(len(bits), dtype=np.uint64)
    # 63 data bits (DC dropped) in a signed long; bit 63 stays 0
    return int((bits @ weights).astype(np.int64))


def phash_frames(
    frames: DataFrame,
    decoder: Callable[[bytes, str], "np.ndarray"] = decode_png,
    on_error: str = "raise",
) -> DataFrame:
    """Per-frame 64-bit perceptual hash over the FRAME_SCHEMA contract:
    mapInPandas (Arrow-batched, no shuffle) decode → pHash, emitting the
    frame's identity columns + `phash`. Mirrors frame_features' shape; the
    decoder seam is the same injectable (real pure-numpy PNG by default).

    ``on_error``: "raise" (default — catalog payloads are pinned-format,
    a decode failure is drift and must surface) or "skip" — undecodable
    rows are DROPPED from the hash output. Skip is the crawl-feed mode:
    a fetched corpus inevitably contains truncated/alien payloads, and
    one poisoned row must not crash-loop a streaming gate whose
    micro-batch would otherwise retry the same offsets forever.

    Scale: embarrassingly parallel — payload bytes never leave the task,
    only the (identity, 8-byte hash) rows flow on."""
    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be raise|skip, got {on_error!r}")

    def _hash(p, bd):
        if on_error == "raise":
            return _phash_one(decoder(p, bd))
        try:
            return _phash_one(decoder(p, bd))
        except Exception:
            return None

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = pdf[[
                "dataset_serial", "channel_idx", "slice_idx",
                "time_idx", "pos_idx",
            ]].copy()
            hashes = [
                _hash(p, bd)
                for p, bd in zip(pdf["payload"], pdf["bit_depth"])
            ]
            if on_error == "skip":
                keep = [i for i, h in enumerate(hashes) if h is not None]
                out = out.iloc[keep]
                hashes = [hashes[i] for i in keep]
            # assign as int64 AFTER filtering: a mixed int/None column
            # would pass through float64, whose 53-bit mantissa rounds
            # 63-bit hashes and corrupts every surviving row
            out["phash"] = pd.array(hashes, dtype="int64")
            yield out

    schema = (
        "dataset_serial string, channel_idx int, slice_idx int, "
        "time_idx int, pos_idx int, phash long"
    )
    return frames.mapInPandas(batches, schema=schema)


def phash_band_col(col: str = "phash") -> "F.Column":
    """Array of (band_idx, band_value) structs for a 64-bit fingerprint
    column: the hash as PHASH_BANDS 8-bit bands. Shared by the batch
    near-dup pairing (image pHash AND audio fingerprints — one band
    arithmetic, one pigeonhole losslessness argument) and the streaming
    ingest gates' maintained band indexes."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("band_idx"),
                F.shiftright(F.col(col), i * 8)
                .bitwiseAND(F.lit(255))
                .alias("band_value"),
            )
            for i in range(PHASH_BANDS)
        ]
    )


def phash_near_dups(
    hashed: DataFrame,
    id_col: str = "frame_id",
    max_distance: int = PHASH_MAX_DISTANCE,
) -> DataFrame:
    """Near-dup frame pairs with hamming(phash_a, phash_b) <= max_distance,
    via LOSSLESS band bucketing over DISTINCT hash values: the 64-bit hash
    splits into PHASH_BANDS 8-bit bands; two hashes within hamming distance
    d < PHASH_BANDS must agree EXACTLY on at least one band (pigeonhole: d
    differing bits can dirty at most d bands), so hash pairs sharing any
    (band_idx, band_value) bucket cover every true pair at d <= 7 ⊇ the
    d <= 6 threshold. Exact popcount verifies; dropDuplicates on the
    canonical (phash_a < phash_b) pair merges multi-band hits.

    Same candidate-generation discipline as the text engine (SimHash
    prefix buckets, dedup.py x_dedup_simhash) but with a guarantee: 8×8
    banding is lossless for the verify radius, so recall is 1.0 by
    construction — the x_dedup_verified principle applied to images.

    Scale shape (100 TB): the banding/verify stage runs over DISTINCT
    phash values, not frames — identical frames (blank/padding frames
    dominate real imaging corpora) collapse to one row per hash before any
    quadratic step, so the degenerate all-identical corpus costs one
    linear groupBy, not one giant bucket. hamming-0 pairs come from that
    exact groupBy; hamming>=1 pairs come from distinct-hash banding joined
    back to the id groups (a frame pair maps to exactly ONE hash pair, so
    no frame-level dedup shuffle is needed). Within a band bucket of G
    distinct hashes the candidate count is still O(G²) — with 8-bit bands
    that is the multi-index-hashing bound of ~N²/256 per band over N
    distinct hashes; callers with huge DISTINCT-hash populations should
    tighten via more bands over a wider hash, not a bucket cap, which
    would silently break the recall guarantee. Shuffles carry (id, hash)
    and (band, hash) rows only — payloads never leave phash_frames' tasks.
    Input: any frame with an `id_col` and a `phash` column (compose with
    phash_frames + a concat_ws frame id)."""
    if max_distance >= PHASH_BANDS:
        raise ValueError(
            f"banding is lossless only for distance < {PHASH_BANDS}"
        )
    # ids per distinct hash; array_sort fixes within-group pair order.
    # localCheckpoint (not persist): feeds the hamming-0 pairs, the
    # banding, AND both join-back sides — unmaterialized, the upstream
    # decode+pHash mapInPandas re-runs once per consumer (4 parquet scans
    # in the archived plan), and payload decode is the expensive stage.
    # Eager checkpoint over persist because a lazy plan returned to the
    # caller would pin the cache entry in the session CacheManager
    # forever (ADVICE r6); checkpoint blocks are reclaimed by the
    # ContextCleaner once the returned plan is dropped, and groups is
    # small (distinct hashes + id lists — payloads never enter it).
    groups = hashed.groupBy("phash").agg(
        F.array_sort(F.collect_list(id_col)).alias("ids")
    ).localCheckpoint(eager=True)
    # hamming-0 pairs: all pairs within one identical-hash group
    same_pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(
                    x.alias("frame_a"), y.alias("frame_b")
                ),
            ),
        )
    )
    same = (
        groups.filter(F.size("ids") > 1)
        .select(F.explode(same_pairs).alias("p"))
        .select("p.frame_a", "p.frame_b", F.lit(0).alias("hamming"))
    )
    # hamming>=1: band the DISTINCT hashes, pair within buckets, verify
    bands = (
        groups.select("phash")
        .select("phash", F.explode(phash_band_col()).alias("b"))
        .select("phash", "b.band_idx", "b.band_value")
    )
    buckets = (
        bands.groupBy("band_idx", "band_value")
        .agg(F.collect_list("phash").alias("hs_raw"))
        .filter(F.size("hs_raw") > 1)
        .select(F.array_sort("hs_raw").alias("hs"))
    )
    hash_pairs_col = F.flatten(
        F.transform(
            F.col("hs"),
            lambda x, i: F.transform(
                F.slice(F.col("hs"), i + 2, F.size(F.col("hs"))),
                lambda y: F.struct(
                    x.alias("phash_a"),
                    y.alias("phash_b"),
                    F.bit_count(x.bitwiseXOR(y)).alias("hamming"),
                ),
            ),
        )
    )
    hash_pairs = (
        buckets.select(F.explode(hash_pairs_col).alias("p"))
        .select("p.phash_a", "p.phash_b", "p.hamming")
        .filter(F.col("hamming") <= max_distance)
        .dropDuplicates(["phash_a", "phash_b"])
    )
    cross = (
        hash_pairs.join(
            groups.select(
                F.col("phash").alias("phash_a"), F.col("ids").alias("ids_a")
            ),
            "phash_a",
        )
        .join(
            groups.select(
                F.col("phash").alias("phash_b"), F.col("ids").alias("ids_b")
            ),
            "phash_b",
        )
        .select(
            F.explode("ids_a").alias("fid_a"),
            F.col("ids_b").alias("ids_b"),
            F.col("hamming"),
        )
        .select(
            F.col("fid_a"), F.explode("ids_b").alias("fid_b"), "hamming"
        )
        .select(
            F.least("fid_a", "fid_b").alias("frame_a"),
            F.greatest("fid_a", "fid_b").alias("frame_b"),
            "hamming",
        )
    )
    return same.unionByName(cross)


def _im_from_bits(h: int) -> "np.ndarray":
    """Deterministic 32×32 uint8 test image: the 64 bits of `h` as an 8×8
    black/white block grid (kron-upscaled 4×). Independent hashes give
    pHash hamming ≥ ~20 (bits map near-independently to DCT signs), so a
    synthetic corpus has controlled dup structure with no accidental
    near-dups at any SF."""
    bits = (np.uint64(h) >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
    blocks = (bits.reshape(8, 8) * 255).astype(np.uint8)
    return np.kron(blocks, np.ones((4, 4), dtype=np.uint8))


def synth_frames(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic frame corpus derived from the documents
    table (needs `doc_id`, `text`): every doc yields a base frame whose
    image encodes sha256(text) as a block pattern; every 7th doc adds a
    PLANTED NEAR-DUP (a 2×2-pixel local inversion — small enough to stay
    within the pHash verify radius on this construction) and every 23rd
    doc a PLANTED EXACT DUP (byte-identical payload). Text-level exact
    dups collapse to identical images, so the image dedup sees the same
    planted structure the text dedup family sees. All payloads are real
    PNG bytes from the pure-numpy codec; generation is map-side
    (mapInPandas), no shuffle."""
    import hashlib

    cols = [f.name for f in FRAME_SCHEMA.fields]

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(text, str):
                    continue  # null-text docs yield no synthetic payload
                    # (tokens_col/shingle handle nulls the same way)
                h = int.from_bytes(
                    hashlib.sha256(text.encode()).digest()[:8], "big"
                )
                im = _im_from_bits(h)
                serial = f"DOC-{doc_id}"
                rows.append(
                    (serial, 0, 0, 0, 0, 32, 32, "uint8", serialize_im(im))
                )
                if doc_id % 7 == 0:
                    bi = h % 64
                    by, bx = (bi // 8) * 4, (bi % 8) * 4
                    a = im.copy()
                    a[by : by + 2, bx : bx + 2] = (
                        255 - a[by : by + 2, bx : bx + 2]
                    )
                    rows.append(
                        (serial, 0, 0, 0, 1, 32, 32, "uint8", serialize_im(a))
                    )
                if doc_id % 23 == 0:
                    rows.append(
                        (serial, 0, 0, 0, 2, 32, 32, "uint8", serialize_im(im))
                    )
            yield pd.DataFrame(rows, columns=cols)

    return docs.mapInPandas(synth, schema=FRAME_SCHEMA)


@query("x_phash_dedup")  # rows-only: perceptual hashing (DCT + median
#                          threshold over PNG payloads) is not
#                          ANSI-SQL-expressible; parity vs a local
#                          brute-force twin is pinned in
#                          tests/test_extensions.py::TestPhash
def x_phash_dedup(spark: "SparkSession", sf_dir: str) -> DataFrame:
    """D5c end-to-end at driver level: documents → deterministic
    synthetic PNG frames (planted exact + near dups, synth_frames) →
    phash_frames → lossless banded near-dup pairs. Every stage is the
    real registered code path — codec, Arrow decode batches, distinct-
    hash banding, popcount verify."""
    from imagingdb_spark.catalog import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    hashed = phash_frames(synth_frames(docs)).withColumn(
        "frame_id", F.concat_ws("_", "dataset_serial", "pos_idx")
    )
    return phash_near_dups(hashed).orderBy("frame_a", "frame_b")


# ---------------------------------------------------------------------------
# Audio fingerprint near-dup (D5d): the AUDIO twin of the image pHash path.
# A 64-bit clip fingerprint in the Haitsma–Kalker style ("A Highly Robust
# Audio Fingerprinting System", ISMIR 2002 — public): sign bits of
# second-order band-energy differences over a time×frequency energy grid.
# Positive gain scales every band energy by g², so every difference keeps
# its sign — the fingerprint is EXACTLY gain-invariant — and small additive
# noise / lossy companding (G.711) flip only bits whose energy delta sits
# near zero, landing re-encoded copies within a small hamming radius of the
# original. Catches "same recording, different level/encoding" dups that
# payload_sha256 cannot, exactly as pHash does for images.
# ---------------------------------------------------------------------------

AFP_SEGMENTS = 9         # time segments -> 8 delta rows
AFP_BANDS = 9            # frequency bands -> 8 delta columns (8x8 = 64 bits)
AFP_MAX_DISTANCE = 6     # near-dup threshold; banding lossless to 7


def _afp_one(samples: "np.ndarray") -> int:
    """64-bit audio fingerprint of a float-sample clip: the clip splits
    into AFP_SEGMENTS equal time segments, each segment's rfft power
    folds into AFP_BANDS equal frequency bands (DC bin excluded — DC
    offset is not perceptual content), and bit (t, f) is the sign of the
    time-delta of the band-delta:
        E[t,f] - E[t,f+1] - (E[t-1,f] - E[t-1,f+1]) > 0
    — the Haitsma–Kalker bit definition on an 8x8 grid. Clips shorter
    than AFP_SEGMENTS samples zero-pad (their tail segments hash as
    silence)."""
    n = len(samples)
    if n < AFP_SEGMENTS:
        samples = np.pad(samples, (0, AFP_SEGMENTS - n))
        n = AFP_SEGMENTS
    seg = n // AFP_SEGMENTS
    x = samples[: seg * AFP_SEGMENTS].reshape(AFP_SEGMENTS, seg)
    spec = np.abs(np.fft.rfft(x, axis=1)) ** 2
    spec = spec[:, 1:]  # drop DC
    nb = spec.shape[1] // AFP_BANDS
    if nb == 0:
        e = np.pad(spec, ((0, 0), (0, AFP_BANDS - spec.shape[1])))
    else:
        e = spec[:, : nb * AFP_BANDS].reshape(AFP_SEGMENTS, AFP_BANDS, nb).sum(
            axis=2
        )
    d = e[:, :-1] - e[:, 1:]          # band deltas, (SEGMENTS, BANDS-1)
    bits = (d[1:] - d[:-1]) > 0       # time delta of band delta, 8x8
    h = int(np.packbits(bits.reshape(-1).astype(np.uint8)).view(">u8")[0])
    # reinterpret the uint64 bit pattern as int64 (Spark LongType has no
    # unsigned twin; downstream arithmetic is bitwise, _phash_one style)
    return h - (1 << 64) if h >= (1 << 63) else h


AFP_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("afp", T.LongType()),
    ]
)


def afp_clips(
    clips: DataFrame,
    decoder: Callable[[bytes, int], "np.ndarray"] = decode_pcm,
) -> DataFrame:
    """(clip_id, afp): 64-bit audio fingerprint per clip via mapInPandas
    over (clip_id, payload, sample_rate) — decode (real WAV codec) +
    fingerprint once, map-side, payloads never shuffled (the
    phash_frames discipline). The int64 reinterprets the uint64 bit
    pattern (Spark has no unsigned type); band arithmetic downstream is
    bitwise, so the sign bit is just bit 63."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for cid, p, sr in zip(
                pdf["clip_id"], pdf["payload"], pdf["sample_rate"]
            ):
                rows.append(
                    {"clip_id": cid, "afp": _afp_one(decoder(p, int(sr)))}
                )
            yield pd.DataFrame(rows)

    return clips.mapInPandas(batches, schema=AFP_SCHEMA)


def afp_near_dups(
    hashed: DataFrame,
    id_col: str = "clip_id",
    max_distance: int = AFP_MAX_DISTANCE,
) -> DataFrame:
    """Near-dup clip pairs with hamming(afp_a, afp_b) <= max_distance —
    EXACTLY phash_near_dups' lossless 8x8-bit band bucketing over
    DISTINCT fingerprint values (pigeonhole: d < 8 differing bits must
    leave one 8-bit band untouched), reused verbatim by renaming the
    fingerprint column into the shared path. One fingerprint family, one
    losslessness argument, one set of plan guarantees."""
    pairs = phash_near_dups(
        hashed.withColumnRenamed("afp", "phash"),
        id_col=id_col,
        max_distance=max_distance,
    )
    return pairs.select(
        F.col("frame_a").alias("clip_a"),
        F.col("frame_b").alias("clip_b"),
        "hamming",
    )


CLIP_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("payload", T.BinaryType()),
    ]
)

SYNTH_CLIP_RATE = 8000
SYNTH_CLIP_SEG = 512                              # one fingerprint segment
SYNTH_CLIP_SAMPLES = SYNTH_CLIP_SEG * AFP_SEGMENTS


def synth_clips(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic WAV corpus derived from the documents
    table (synth_frames' audio twin): every doc yields a base clip with
    dense TIME x FREQUENCY structure — one sinusoid per fingerprint band
    whose amplitude varies per segment on a 9x9 grid seeded from
    sha256(text) (the HK fingerprint thresholds second-order energy
    DELTAS, so a stationary mixture would leave every bit riding
    quantization noise; real audio is non-stationary, and so is this) —
    every 7th doc adds a PLANTED NEAR-DUP (same clip at 1.2x gain +
    seeded noise ~26 dB below the quietest band: gain flips no
    fingerprint bits by construction, the noise only bits whose energy
    delta sits near zero) and every 23rd doc a PLANTED EXACT DUP
    (byte-identical payload). All payloads are real 16-bit PCM WAV bytes
    from the pure-numpy codec; generation is map-side, no shuffle."""
    import hashlib

    ts = np.arange(SYNTH_CLIP_SEG, dtype=np.float64) / SYNTH_CLIP_RATE
    # one carrier per fingerprint band, centered in the band: rfft of a
    # 512-sample segment at 8 kHz puts band b over bins
    # [1 + 28b, 1 + 28(b+1)); bin k = k * 15.625 Hz
    band_bins = (SYNTH_CLIP_SEG // 2) // AFP_BANDS          # 28
    carriers = np.array(
        [
            (1 + band_bins * b + band_bins // 2)
            * SYNTH_CLIP_RATE
            / SYNTH_CLIP_SEG
            for b in range(AFP_BANDS)
        ]
    )

    def clip_from_text(text: str) -> "np.ndarray":
        seed = int.from_bytes(hashlib.sha256(text.encode()).digest()[:8], "big")
        rng = np.random.default_rng(seed)
        amps = 0.01 + 0.07 * rng.random((AFP_SEGMENTS, AFP_BANDS))
        phases = 2 * np.pi * rng.random(AFP_BANDS)
        segs = [
            (
                amps[s][None, :]
                * np.sin(2 * np.pi * carriers[None, :] * ts[:, None] + phases)
            ).sum(axis=1)
            for s in range(AFP_SEGMENTS)
        ]
        return np.concatenate(segs)

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from imagingdb_spark import wav

        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(text, str):
                    continue  # null-text docs yield no synthetic payload
                    # (tokens_col/shingle handle nulls the same way)
                base = clip_from_text(text)
                payload = wav.encode_wav(base, SYNTH_CLIP_RATE)
                cid = f"DOC-{doc_id}"
                rows.append((f"{cid}_0", SYNTH_CLIP_RATE, payload))
                if doc_id % 7 == 0:
                    rng = np.random.default_rng(doc_id)
                    near = 1.2 * base + 0.008 * rng.standard_normal(len(base))
                    rows.append(
                        (
                            f"{cid}_1",
                            SYNTH_CLIP_RATE,
                            wav.encode_wav(near, SYNTH_CLIP_RATE),
                        )
                    )
                if doc_id % 23 == 0:
                    rows.append((f"{cid}_2", SYNTH_CLIP_RATE, payload))
            yield pd.DataFrame(rows, columns=[f.name for f in CLIP_SCHEMA.fields])

    return docs.mapInPandas(synth, schema=CLIP_SCHEMA)


@query("x_audio_dedup")  # rows-only: FFT band-energy fingerprinting is not
#                          ANSI-SQL-expressible; parity vs a local
#                          brute-force twin is pinned in
#                          tests/test_extensions.py::TestAudioFingerprint
def x_audio_dedup(spark: "SparkSession", sf_dir: str) -> DataFrame:
    """D5d end-to-end at driver level: documents → deterministic
    synthetic WAV clips (planted exact + near dups, synth_clips) →
    afp_clips → lossless banded near-dup pairs. Every stage is the real
    registered code path — RIFF codec, Arrow decode batches,
    distinct-hash banding, popcount verify (shared with the image
    pipeline). Scale shape: identical to x_phash_dedup — fingerprints
    travel, payloads never leave the decode tasks."""
    from imagingdb_spark.catalog import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    hashed = afp_clips(synth_clips(docs))
    return afp_near_dups(hashed).orderBy("clip_a", "clip_b")


# ---------------------------------------------------------------------------
# Scene-change detection (D5e): the video-shaped multimodal op. A video in
# this data model is what the reference's 5-D stacks already are — a frame
# SERIES keyed by (dataset_serial, channel, slice, pos) ordered by
# time_idx (frames_global semantics). Consecutive-frame pHash distance is
# the classic shot-boundary signal (Haitsma/Zhang lineage, public): smooth
# motion/lighting drift moves a perceptual hash a bit or two per step,
# a cut jumps it far.
# ---------------------------------------------------------------------------

SCENE_SERIES_LEN = 8     # synthetic series length per doc
SCENE_THRESHOLD = PHASH_MAX_DISTANCE  # > near-dup radius = a cut


def scene_changes(hashed: DataFrame) -> DataFrame:
    """Shot boundaries from a pHashed frame table: per series (all frame
    identity columns except time_idx), hamming between each frame's hash
    and its predecessor's; rows above SCENE_THRESHOLD are boundaries.
    One window partitioned by the series key — group size = series
    length, never corpus-size; the payloads were already reduced to
    8-byte hashes upstream, so nothing heavy rides the shuffle."""
    w = Window.partitionBy(
        "dataset_serial", "channel_idx", "slice_idx", "pos_idx"
    ).orderBy("time_idx")
    return (
        hashed.withColumn("prev", F.lag("phash").over(w))
        .filter(F.col("prev").isNotNull())
        .withColumn(
            "hamming", F.bit_count(F.col("phash").bitwiseXOR(F.col("prev")))
        )
        .filter(F.col("hamming") > SCENE_THRESHOLD)
        .select(
            "dataset_serial", "channel_idx", "slice_idx", "pos_idx",
            "time_idx", "hamming",
        )
    )


def synth_frame_series(docs: DataFrame) -> DataFrame:
    """Deterministic synthetic frame SERIES derived from documents: per
    doc, SCENE_SERIES_LEN frames — smooth drift (one PIXEL inverted,
    its position sliding with time: consecutive frames differ by <= 2
    pixels, pHash hamming a bit or two) with ONE planted CUT at a digest-derived
    time index, where the image switches to an independent pattern
    (pHash hamming >= ~20). Real PNG payloads, map-side generation."""
    import hashlib

    cols = [f.name for f in FRAME_SCHEMA.fields]

    def synth(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(text, str):
                    continue  # null-text docs yield no synthetic payload
                    # (tokens_col/shingle handle nulls the same way)
                dig = hashlib.sha256(text.encode()).digest()
                h1 = int.from_bytes(dig[:8], "big")
                h2 = int.from_bytes(dig[8:16], "big")
                cut = 2 + dig[16] % (SCENE_SERIES_LEN - 3)  # never t=0/1/last
                serial = f"DOC-{doc_id}"
                for t in range(SCENE_SERIES_LEN):
                    base = _im_from_bits(h1 if t < cut else h2)
                    bi = (h1 + t) % 64
                    by, bx = (bi // 8) * 4, (bi % 8) * 4
                    im = base.copy()
                    im[by : by + 1, bx : bx + 1] = (
                        255 - im[by : by + 1, bx : bx + 1]
                    )
                    rows.append(
                        (serial, 0, 0, t, 0, 32, 32, "uint8", serialize_im(im))
                    )
            yield pd.DataFrame(rows, columns=cols)

    return docs.mapInPandas(synth, schema=FRAME_SCHEMA)


@query("x_scene_changes")  # rows-only: perceptual hashing not
#                            ANSI-SQL-expressible; planted-cut recovery is
#                            pinned in tests/test_extensions.py
def x_scene_changes(spark: "SparkSession", sf_dir: str) -> DataFrame:
    """D5e end-to-end at driver level: documents → deterministic frame
    series with planted cuts (synth_frame_series) → phash_frames →
    lag-window boundary detection. Scale shape: decode+hash map-side
    (payloads never shuffled), ONE series-keyed window over 8-byte
    hashes, boundary filter before anything else sees the rows. At
    100 TB: frame tables are partitioned by series key at rest, so the
    window's exchange prunes to in-partition sorts."""
    from imagingdb_spark.catalog import table

    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    hashed = phash_frames(synth_frame_series(docs))
    return scene_changes(hashed).orderBy("dataset_serial", "time_idx")

"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/audio/video travel as ``binary`` columns with a metadata struct; all
transforms are ``mapInPandas`` stages with real Spark plumbing (schema,
batching, partition behavior).  Decode kernels dispatch through a
PLUGGABLE registry (``register_media_decoder``); the builtins are all
REAL and dependency-free: mini-raster + GeoTIFF (``format/container.py``),
JPEG (``format/jpegcodec.py``, from-scratch baseline+progressive), PNG
(``format/pngcodec.py``, from-scratch), MJPEG-AVI frame extraction
(``format/avi.py``) and PCM WAV (stdlib ``wave``).  Any external codec
can still be injected the same way — swap the kernel, keep the plan.
Rows with no registered decoder become quarantine rows (status column),
not task failures — the same R12 containment policy as the raster decode
kernels.
"""

from __future__ import annotations

import io
import wave
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from rasteret_spark.format import avi as aviformat
from rasteret_spark.format import container, jpegcodec, pngcodec
from rasteret_spark.format import miniraster as mr
from rasteret_spark.operators.decode import _err_status

MEDIA_META_SCHEMA = "mime string, n_bytes bigint, kind string"


def _to_gray(arr: np.ndarray) -> np.ndarray:
    """(h, w[, C]) -> (h, w) float64; BT.601 luma for color, alpha dropped."""
    arr = np.asarray(arr, dtype=np.float64)
    if arr.ndim == 2:
        return arr
    if arr.shape[2] == 2:  # gray + alpha
        return arr[:, :, 0]
    return arr[:, :, 0] * 0.299 + arr[:, :, 1] * 0.587 + arr[:, :, 2] * 0.114


def _decode_jpeg(blob: bytes) -> np.ndarray:
    return _to_gray(jpegcodec.decode(blob))


def _decode_png(blob: bytes) -> np.ndarray:
    arr = pngcodec.decode(blob)
    g = _to_gray(arr)
    if arr.dtype == np.uint16:  # present 16-bit in the common 0..255 scale
        g = g / 257.0
    return g


def _decode_wav(blob: bytes) -> np.ndarray:
    """PCM WAV -> (channels, n_samples) float64 waveform in [-1, 1] — a 2-D
    array like every other kernel, so resize (= crude resample) and the
    feature descriptor work unchanged on audio."""
    with wave.open(io.BytesIO(bytes(blob))) as f:
        nch, sw, _, nfr = f.getnchannels(), f.getsampwidth(), f.getframerate(), f.getnframes()
        raw = f.readframes(nfr)
    if sw == 2:
        x = np.frombuffer(raw, "<i2").astype(np.float64) / 32768.0
    elif sw == 1:  # 8-bit WAV is unsigned
        x = (np.frombuffer(raw, np.uint8).astype(np.float64) - 128.0) / 128.0
    elif sw == 4:
        x = np.frombuffer(raw, "<i4").astype(np.float64) / 2147483648.0
    else:
        raise ValueError(f"unsupported WAV sample width {sw}")
    return x.reshape(-1, nch).T


def _decode_avi_poster(blob: bytes) -> np.ndarray:
    """Video kind in an IMAGE pipeline decodes to its first (poster) frame;
    per-frame work goes through ``frame_sample``."""
    for frame in aviformat.iter_frames(blob):
        return _to_gray(jpegcodec.decode(frame))
    raise ValueError("AVI stream has no frames")


# blob -> 2-D float array; keyed by sniffed media kind.  The registry
# snapshot ships to executors by closure capture at plan-build time.
_DECODERS: dict[str, Callable[[bytes], np.ndarray]] = {
    "miniraster": lambda blob: mr.decode_full(blob, band=0),
    "tiff": lambda blob: container.decode_full_any(bytes(blob), band=0),
    "jpeg": _decode_jpeg,
    "png": _decode_png,
    "audio-wav": _decode_wav,
    "video-avi": _decode_avi_poster,
}


def register_media_decoder(kind: str, fn: Callable[[bytes], np.ndarray]) -> None:
    """Inject/override the decode kernel for a sniffed media kind (e.g.
    "jpeg").  The callable must be picklable — it runs on executors."""
    _DECODERS[kind] = fn


# SINGLE source of truth for magic-byte -> media kind: both the Python
# ``sniff_kind`` (used by the decode kernels) and the native ``classify_media``
# when-chain are generated from this table, so a new kind registered here is
# seen consistently by both, and prefix edits cannot drift between them.
# A pattern is either a leading-prefix ``bytes`` or a tuple of
# ``(offset, bytes)`` probes ANDed together (RIFF containers put the real
# type at offset 8).  Order matters: first match wins.
MagicPattern = "bytes | tuple[tuple[int, bytes], ...]"
MEDIA_MAGIC: tuple[tuple[object, str], ...] = (
    (b"\x89PNG\r\n\x1a\n", "png"),
    (mr.MAGIC, "miniraster"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"II*\x00", "tiff"),
    (b"MM\x00*", "tiff"),
    (b"II+\x00", "tiff"),  # BigTIFF
    (b"MM\x00+", "tiff"),
    (((0, b"RIFF"), (8, b"AVI ")), "video-avi"),
    (((0, b"RIFF"), (8, b"WAVE")), "audio-wav"),
    (b"ID3", "audio"),
)


def register_media_magic(prefix, kind: str) -> None:
    """Register a magic pattern for a media kind — extends BOTH
    ``sniff_kind`` and future ``classify_media`` plans (existing built
    plans captured the table at build time).  ``prefix`` is leading bytes
    or a tuple of (offset, bytes) probes."""
    global MEDIA_MAGIC
    pat = tuple(prefix) if isinstance(prefix, tuple) else bytes(prefix)
    MEDIA_MAGIC = ((pat, kind), *MEDIA_MAGIC)


def _probes(pattern) -> tuple[tuple[int, bytes], ...]:
    if isinstance(pattern, (bytes, bytearray)):
        return ((0, bytes(pattern)),)
    return tuple((int(o), bytes(p)) for o, p in pattern)


def _sniff(blob: bytes, magic) -> str:
    for pattern, kind in magic:
        if all(blob[o : o + len(p)] == p for o, p in _probes(pattern)):
            return kind
    return "unknown"


def sniff_kind(blob: bytes) -> str:
    return _sniff(blob, MEDIA_MAGIC)


def classify_media(df: DataFrame) -> DataFrame:
    """Cheap magic-byte sniffing -> media metadata struct (native exprs).

    Prefixes are compared on the BINARY column directly — casting the blob
    to string first would let invalid-UTF8 payload bytes mangle the prefix
    before ``substring`` sees it.  The when-chain is GENERATED from the same
    ``MEDIA_MAGIC`` table ``sniff_kind`` consults, in the same order — the
    two classifiers cannot drift.

    The module table is snapshotted AT BUILD TIME: a registration after the
    plan is built never silently alters it."""
    expr = None
    for pattern, kind in MEDIA_MAGIC:
        cond = None
        for off, probe in _probes(pattern):
            # substring is 1-based; compares run on the BINARY column
            c = F.substring(F.col("bytes"), off + 1, len(probe)) == F.lit(probe)
            cond = c if cond is None else cond & c
        expr = F.when(cond, F.lit(kind)) if expr is None else expr.when(cond, F.lit(kind))
    expr = F.lit("unknown") if expr is None else expr.otherwise(F.lit("unknown"))
    return df.withColumn("media_kind", expr).withColumn(
        "media_bytes", F.length(F.col("bytes"))
    )


def decode_resize(
    df: DataFrame, out_h: int, out_w: int,
    decoders: dict[str, Callable[[bytes], np.ndarray]] | None = None,
    magic: tuple[tuple[bytes, str], ...] | None = None,
) -> DataFrame:
    """Decode + nearest-neighbour resize to (out_h, out_w); emits the resized
    pixels as array<double> plus shape metadata and a status column.  Decode
    dispatches through the registry; a kind with no registered decoder (or a
    kernel failure) yields a quarantine row — never a task failure."""
    schema = "image_id string, out_h int, out_w int, pixels array<double>, status string"
    # explicit snapshots beat module globals: both registries are pinned
    # into the plan AT BUILD TIME (late registrations cannot retroactively
    # change a built plan; inject updated snapshots to opt in)
    decoders = dict(_DECODERS) if decoders is None else dict(decoders)
    magic = MEDIA_MAGIC if magic is None else tuple(magic)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, blob in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    blob = bytes(blob)
                    kind = _sniff(blob, magic)
                    fn = decoders.get(kind)
                    if fn is None:
                        raise NotImplementedError(
                            f"no decoder registered for {kind!r} — external "
                            "formats need an image codec library (register "
                            "one via register_media_decoder)"
                        )
                    arr = np.asarray(fn(blob), dtype=np.float64)
                    ys = (np.arange(out_h) * arr.shape[0] / out_h).astype(int)
                    xs = (np.arange(out_w) * arr.shape[1] / out_w).astype(int)
                    out.append(
                        {
                            "image_id": rid,
                            "out_h": out_h,
                            "out_w": out_w,
                            "pixels": arr[np.ix_(ys, xs)].ravel().tolist(),
                            "status": "ok",
                        }
                    )
                except Exception as e:  # quarantine row, not a task failure
                    out.append(
                        {
                            "image_id": rid, "out_h": out_h, "out_w": out_w,
                            "pixels": None, "status": _err_status(e),
                        }
                    )
            yield pd.DataFrame(out)

    return df.select("image_id", "bytes").mapInPandas(run, schema=schema)


FEATURE_DIM = 22  # 6 z-space stats + 4x4 coarse z-mean grid


def extract_features(df: DataFrame) -> DataFrame:
    """Deterministic fixed-dim feature vector per media row — the
    feature-extract stage of a training-data pipeline (decode -> descriptor
    -> ANN/dedup over the descriptor).  Decode dispatches through the same
    pluggable registry as ``decode_resize``; failures quarantine.

    Descriptor (FEATURE_DIM=22): z-scored quantiles [p10,p25,p50,p75,p90],
    gradient energy, and a 4x4 coarse grid of z-means — every component is
    O(1) magnitude in z-space so no single term dominates the cosine, and
    raw mean/std are deliberately excluded (they'd make unrelated images
    near-parallel).  Rotation-variant by design: dedup wants exact layout
    similarity, not invariance."""
    schema = "image_id string, features array<double>, status string"
    # both registries are snapshotted into the plan AT BUILD TIME
    decoders, magic = dict(_DECODERS), MEDIA_MAGIC

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, blob in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    blob = bytes(blob)
                    kind = _sniff(blob, magic)
                    fn = decoders.get(kind)
                    if fn is None:
                        raise NotImplementedError(
                            f"no decoder registered for {kind!r}"
                        )
                    arr = np.asarray(fn(blob), dtype=np.float64)
                    mu = float(arr.mean())
                    sd = float(arr.std()) or 1.0
                    z = (arr - mu) / sd
                    q = np.percentile(z, [10, 25, 50, 75, 90])
                    # single-row/column arrays (e.g. a mono waveform) have an
                    # empty diff along one axis — an empty mean is NaN, which
                    # would poison the descriptor while reading status='ok'
                    dy = float(np.abs(np.diff(z, axis=0)).mean()) if z.shape[0] > 1 else 0.0
                    dx = float(np.abs(np.diff(z, axis=1)).mean()) if z.shape[1] > 1 else 0.0
                    grad = dy + dx
                    h, w = arr.shape
                    ys = (np.arange(4 + 1) * h) // 4
                    xs = (np.arange(4 + 1) * w) // 4
                    # images thinner than the 4x4 grid produce empty slices;
                    # an empty mean is NaN, which would poison every cosine
                    # downstream while still reading status='ok' — use 0.0
                    # (the z-space global mean) for degenerate cells
                    cells = [
                        float(c.mean()) if c.size else 0.0
                        for i in range(4) for j in range(4)
                        for c in [z[ys[i]:ys[i + 1], xs[j]:xs[j + 1]]]
                    ]
                    feats = [*q.tolist(), grad, *cells]
                    out.append({"image_id": rid, "features": feats, "status": "ok"})
                except Exception as e:
                    out.append({"image_id": rid, "features": None,
                                "status": _err_status(e)})
            yield pd.DataFrame(out)

    return df.select("image_id", "bytes").mapInPandas(run, schema=schema)


def frame_sample(df: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling: one output row per sampled frame.

    REAL for MJPEG-AVI blobs — the RIFF ``movi`` walk yields JPEG streams
    decoded by the repo's own codec (``format/avi.py`` +
    ``format/jpegcodec.py``); every ``every_n``-th frame emits its index
    and mean intensity.  Raster blobs (mini-raster/TIFF) are treated as a
    one-"frame"-per-tile-row proxy stream, so the same plan shape covers
    tables mixing media kinds; undecodable rows quarantine with
    frame_no = -1 rather than failing the task."""
    schema = "image_id string, frame_no int, frame_mean double, status string"
    magic = MEDIA_MAGIC  # snapshotted AT BUILD TIME

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, blob in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    blob = bytes(blob)
                    kind = _sniff(blob, magic)
                    if kind == "video-avi":
                        for fno, frame in enumerate(aviformat.iter_frames(blob)):
                            if fno % every_n:
                                continue
                            g = _to_gray(jpegcodec.decode(frame))
                            out.append({"image_id": rid, "frame_no": fno,
                                        "frame_mean": float(g.mean()),
                                        "status": "ok"})
                    else:  # raster proxy: one "frame" per tile row
                        meta = container.parse_any(blob)
                        for fno in range(0, meta.tiles_y, every_n) or [0]:
                            strip = mr.read_window(
                                blob, meta, 0, fno * meta.tile_h,
                                meta.width, meta.tile_h,
                            )
                            out.append({"image_id": rid, "frame_no": fno,
                                        "frame_mean": float(strip.mean()),
                                        "status": "ok"})
                except Exception as e:  # quarantine, not a task failure
                    out.append({"image_id": rid, "frame_no": -1,
                                "frame_mean": None, "status": _err_status(e)})
            yield pd.DataFrame(out)

    return df.select("image_id", "bytes").mapInPandas(run, schema=schema)

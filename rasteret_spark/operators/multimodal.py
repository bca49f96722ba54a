"""Multimodal column plumbing: opaque binary media + typed metadata.

Images/audio/video travel as ``binary`` columns; ``extract_features`` is a
``mapInPandas`` stage with real Spark plumbing (schema, batching, partition
behavior).  Decode kernels are keyed by the media kind sniffed from magic
bytes; the builtins are all REAL and dependency-free: mini-raster + GeoTIFF
(``format/container.py``), JPEG (``format/jpegcodec.py``, from-scratch
baseline+progressive), PNG (``format/pngcodec.py``, from-scratch), the
poster frame of an MJPEG-AVI (``format/avi.py``) and PCM WAV (stdlib
``wave``).  Rows with no decoder become quarantine rows (status column),
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

from rasteret_spark.format import avi as aviformat
from rasteret_spark.format import container, jpegcodec, pngcodec
from rasteret_spark.format import miniraster as mr
from rasteret_spark.operators.decode import _err_status

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
    """Video kind in an IMAGE pipeline decodes to its first (poster) frame."""
    for frame in aviformat.iter_frames(blob):
        return _to_gray(jpegcodec.decode(frame))
    raise ValueError("AVI stream has no frames")


def _decode_raster(blob: bytes) -> np.ndarray:
    return container.decode_full(bytes(blob), band=0)


# blob -> 2-D float array; keyed by sniffed media kind
_DECODERS: dict[str, Callable[[bytes], np.ndarray]] = {
    "miniraster": _decode_raster,
    "tiff": _decode_raster,
    "jpeg": _decode_jpeg,
    "png": _decode_png,
    "audio-wav": _decode_wav,
    "video-avi": _decode_avi_poster,
}


# magic-byte -> media kind.  A pattern is either a leading-prefix ``bytes``
# or a tuple of ``(offset, bytes)`` probes ANDed together (RIFF containers
# put the real type at offset 8).  Order matters: first match wins.
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


def _probes(pattern) -> tuple[tuple[int, bytes], ...]:
    if isinstance(pattern, (bytes, bytearray)):
        return ((0, bytes(pattern)),)
    return tuple((int(o), bytes(p)) for o, p in pattern)


def _sniff(blob: bytes) -> str:
    for pattern, kind in MEDIA_MAGIC:
        if all(blob[o : o + len(p)] == p for o, p in _probes(pattern)):
            return kind
    return "unknown"


FEATURE_DIM = 22  # 6 z-space stats + 4x4 coarse z-mean grid


def extract_features(df: DataFrame) -> DataFrame:
    """Deterministic fixed-dim feature vector per media row — the
    feature-extract stage of a training-data pipeline (decode -> descriptor
    -> ANN/dedup over the descriptor).  Decode dispatches on the sniffed
    media kind; failures quarantine.

    Descriptor (FEATURE_DIM=22): z-scored quantiles [p10,p25,p50,p75,p90],
    gradient energy, and a 4x4 coarse grid of z-means — every component is
    O(1) magnitude in z-space so no single term dominates the cosine, and
    raw mean/std are deliberately excluded (they'd make unrelated images
    near-parallel).  Rotation-variant by design: dedup wants exact layout
    similarity, not invariance."""
    schema = "image_id string, features array<double>, status string"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for rid, blob in zip(pdf["image_id"], pdf["bytes"]):
                try:
                    blob = bytes(blob)
                    kind = _sniff(blob)
                    fn = _DECODERS.get(kind)
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

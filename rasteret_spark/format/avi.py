"""Minimal RIFF/AVI reader for Motion-JPEG video — stdlib only.

Gives ``operators.multimodal`` a REAL video path, the poster frame of an
MJPEG-AVI (the reference leans on external video tooling; this container
has no codec libraries, so the MJPEG route is built from the repo's own
from-scratch JPEG codec in ``format/jpegcodec.py``): each ``00dc`` chunk in
the ``movi`` list is one complete baseline-JFIF stream.

The reader walks the RIFF tree and never trusts ``idx1`` (truncated-file
tolerant, like real players).
"""

from __future__ import annotations

import struct


class AviError(ValueError):
    pass


def _walk(buf: bytes, pos: int, end: int):
    """Yield (fourcc, list_type|None, payload_start, payload_len)."""
    while pos + 8 <= end:
        fourcc = buf[pos : pos + 4]
        (size,) = struct.unpack_from("<I", buf, pos + 4)
        start = pos + 8
        if start + size > end:
            raise AviError(f"truncated chunk {fourcc!r}")
        if fourcc in (b"LIST", b"RIFF"):
            yield fourcc, buf[start : start + 4], start + 4, size - 4
        else:
            yield fourcc, None, start, size
        pos = start + size + (size & 1)


def iter_frames(buf: bytes):
    """Yield raw video-frame payloads (``..dc``/``..db`` chunks) in stream
    order, straight from the ``movi`` walk — ``idx1`` is ignored."""
    buf = bytes(buf)
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise AviError("not an AVI")
    for fourcc, ltype, start, size in _walk(buf, 12, len(buf)):
        if ltype == b"movi":
            for f2, l2, s2, z2 in _walk(buf, start, start + size):
                if f2[2:4] in (b"dc", b"db"):
                    yield buf[s2 : s2 + z2]

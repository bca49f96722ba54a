"""Pluggable blob-fetch backends: scheme -> callable registry + a distributed
href-resolving stage.

Spark re-expression of the reference's StorageBackend protocol (rasteret
wires obstore/asyncio fetchers behind `src/rasteret/fetch/__init__.py` and
`core/collection.py`'s backend injection): the engine never hard-codes where
blobs live — a record table carries hrefs, and ``fetch_blobs`` resolves them
to a ``bytes`` column executor-side through whatever fetchers are registered
(file://, s3://, http://, in-memory test fakes, ...).

Scale + containment shape:

  * the fetch runs inside ``mapInPandas`` batches — per-executor connections,
    no driver I/O, and the registered callables ship to executors by closure
    capture at plan-build time (late registrations on the driver do not
    retroactively change a built plan);
  * per-row try/except: a missing object yields a quarantine row
    (``fetch_status`` column) instead of a task failure — same R12 policy as
    the decode kernels;
  * TRANSIENT failures retry with bounded exponential backoff before
    quarantining (the reference's transport resilience,
    `src/rasteret/fetch/cog.py:63-74, 499-657`: x3/x5 retries with backoff on
    range-read failures) — at 100 TB over real object storage a routine 503
    burst must cost milliseconds of backoff, not thousands of permanently
    quarantined rows.  Permanent errors (404, bad scheme, auth) fail fast on
    the first attempt.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator
from urllib.parse import urlparse

import pandas as pd
from pyspark.sql import DataFrame


class TransientFetchError(Exception):
    """Raise from a registered fetcher to mark a failure as retryable (e.g.
    an HTTP 503/429 surfaced by a backend whose exception types the engine
    does not know)."""


# exception classes the engine always treats as transient: network-ish
# interruptions every storage backend can emit.  ConnectionError covers
# ConnectionReset/Refused/Aborted + BrokenPipe; TimeoutError covers
# socket.timeout (an alias since 3.10).  FileNotFoundError / PermissionError /
# ValueError are NOT here — retrying a 404 or a bad scheme only adds latency.
_TRANSIENT_TYPES: tuple[type[BaseException], ...] = (
    TransientFetchError,
    ConnectionError,
    TimeoutError,
    InterruptedError,
)

_TRANSIENT_HTTP_CODES = {408, 429, 500, 502, 503, 504}


def is_transient(exc: BaseException) -> bool:
    """True when a fetch failure is worth retrying.  isinstance against the
    transient classes, plus urllib HTTPError status codes in the retryable
    set (408/429/500/502/503/504)."""
    if isinstance(exc, _TRANSIENT_TYPES):
        return True
    code = getattr(exc, "code", None)  # urllib.error.HTTPError and friends
    return isinstance(code, int) and code in _TRANSIENT_HTTP_CODES


def _fetch_file(url: str) -> bytes:
    p = urlparse(url)
    with open(p.path, "rb") as f:
        return f.read()


class HTTPStatusError(Exception):
    """Non-2xx HTTP response.  Carries ``code`` so ``is_transient`` routes
    408/429/5xx to the retry path and 4xx to fast quarantine."""

    def __init__(self, code: int, url: str):
        super().__init__(f"HTTP {code} for {url}")
        self.code = code


# one persistent connection per (scheme, host, port) per PROCESS — in Spark
# that is per Python worker, i.e. the per-executor connection reuse the
# reference gets from its per-origin pooled clients
# (`src/rasteret/fetch/cog.py:200-333`).  Python workers are single-threaded,
# so no locking; a stale keep-alive connection is dropped and replaced once
# before the failure escalates to the transport retry layer.
_HTTP_POOL: dict = {}
_HTTP_TIMEOUT_S = 20.0
_HTTP_MAX_REDIRECTS = 3


def _pooled_conn(scheme: str, host: str, port: int | None):
    import http.client

    key = (scheme, host, port)
    conn = _HTTP_POOL.get(key)
    if conn is None:
        cls = (
            http.client.HTTPSConnection
            if scheme == "https"
            else http.client.HTTPConnection
        )
        conn = cls(host, port, timeout=_HTTP_TIMEOUT_S)
        _HTTP_POOL[key] = conn
    return key, conn


def _drop_conn(key) -> None:
    conn = _HTTP_POOL.pop(key, None)
    if conn is not None:
        try:
            conn.close()
        except Exception:
            pass


def http_request(
    url: str, headers: dict[str, str] | None = None, _redirects: int = 0
) -> tuple[int, bytes]:
    """One GET over the pooled per-origin connection.  Returns (status,
    body) for 2xx; follows up to 3 redirects; raises ``HTTPStatusError``
    otherwise.  A dropped keep-alive connection is re-dialed once
    transparently (normal server behavior, not a failure); a second
    connection-level error raises ``ConnectionError`` into the transient
    retry path."""
    import http.client

    p = urlparse(url)
    port = p.port
    path = p.path or "/"
    if p.query:
        path += "?" + p.query
    key, conn = _pooled_conn(p.scheme, p.hostname, port)
    for dial in range(2):
        try:
            conn.request("GET", path, headers=headers or {})
            resp = conn.getresponse()
            body = resp.read()  # always drain: required for reuse
            break
        except (http.client.HTTPException, ConnectionError, OSError) as e:
            _drop_conn(key)
            if dial == 1:
                raise ConnectionError(f"connection to {p.netloc} failed: {e}") from e
            key, conn = _pooled_conn(p.scheme, p.hostname, port)
    status = resp.status
    if status in (301, 302, 303, 307, 308):
        loc = resp.getheader("Location")
        if loc and _redirects < _HTTP_MAX_REDIRECTS:
            from urllib.parse import urljoin

            return http_request(urljoin(url, loc), headers, _redirects + 1)
    if not (200 <= status < 300):
        raise HTTPStatusError(status, url)
    return status, body


def _fetch_http(url: str) -> bytes:
    return http_request(url)[1]


def http_range(url: str, offset: int, size: int) -> bytes:
    """Ranged GET (``Range: bytes=offset-``) over the pooled connection —
    the transport primitive behind remote COG header parsing and tile
    reads.  Servers that ignore Range (status 200) are handled by
    slicing."""
    status, body = http_request(
        url, headers={"Range": f"bytes={offset}-{offset + size - 1}"}
    )
    if status == 206:
        return body
    return body[offset : offset + size]  # Range-oblivious server


def http_ranged_reader(url: str) -> Callable[[int, int], bytes]:
    """A ``read(offset, size)`` callable over ranged GETs — plugs straight
    into ``format.tiff.parse_tiff`` so remote COG headers parse for KBs of
    transfer, never a full download (the reference's core transport design,
    `src/rasteret/fetch/header_parser.py:239-300`)."""

    def read(offset: int, size: int) -> bytes:
        return http_range(url, offset, size)

    return read


_FETCHERS: dict[str, Callable[[str], bytes]] = {
    "file": _fetch_file,
    "http": _fetch_http,
    "https": _fetch_http,
}


# --- ranged reads: the no-full-download transport ----------------------------
def _file_ranged_reader(url: str) -> Callable[[int, int], bytes]:
    """Ranged reads of a local file (``file://`` URL or plain path) — one
    open per call keeps the callable picklable for use inside executors."""
    path = urlparse(url).path

    def read(offset: int, size: int) -> bytes:
        with open(path, "rb") as f:
            f.seek(offset)
            return f.read(size)

    return read


_RANGED_READERS: dict[str, Callable[[str], Callable[[int, int], bytes]]] = {
    "file": _file_ranged_reader,
    "http": http_ranged_reader,
    "https": http_ranged_reader,
}


def ranged_reader(
    url: str,
    readers: dict[str, Callable[[str], Callable[[int, int], bytes]]] | None = None,
) -> Callable[[int, int], bytes]:
    """``readers`` is a registry SNAPSHOT (plan builders capture
    ``dict(_RANGED_READERS)`` at build time and ship it by closure, like the
    ``dict(_FETCHERS)`` snapshot ``fetch_blobs`` takes) — without it, a
    custom scheme registered on the driver would be missing on executors,
    where this module imports fresh."""
    reg = _RANGED_READERS if readers is None else readers
    scheme = urlparse(url).scheme.lower() or "file"
    fac = reg.get(scheme)
    if fac is None:
        raise ValueError(f"no ranged reader registered for scheme {scheme!r} ({url})")
    return fac(url)


class RangedBlob:
    """bytes-like facade over ranged reads: ``blob[a:b]`` performs ONE
    ranged fetch of exactly (b - a) bytes.

    Every blob-consuming decode path in the engine accesses payloads
    exclusively through contiguous slices (header prefix, coalesced tile
    ranges), so handing this object to ``CachedReader`` yields the
    reference's no-full-download COG access pattern
    (`src/rasteret/fetch/cog.py:744-826`) over any registered transport —
    each slice is a ranged GET, nothing else ever transfers.

    TRANSIENT failures (503/429/timeouts/dropped connections) retry with
    the same bounded deterministic backoff as ``fetch_with_retry`` — a
    routine object-store hiccup mid-tile-read must cost milliseconds, not a
    permanently quarantined AOI.  Permanent errors (404, bad scheme) raise
    on the first attempt."""

    def __init__(
        self,
        url: str,
        readers: dict | None = None,
        attempts: int = 3,
        base_delay: float = 0.2,
        sleep: Callable[[float], None] = time.sleep,
    ):
        self.url = url
        self._read = ranged_reader(url, readers)
        self._attempts = int(attempts)
        self._base_delay = float(base_delay)
        self._sleep = sleep

    def __getitem__(self, sl: slice) -> bytes:
        if not isinstance(sl, slice) or sl.step not in (None, 1):
            raise TypeError("RangedBlob supports contiguous slices only")
        start = int(sl.start or 0)
        if sl.stop is None:
            raise ValueError("RangedBlob slice needs an explicit stop")
        size = int(sl.stop) - start
        return _with_retry(
            lambda: self._read(start, size), f"{self.url}#{start}",
            self._attempts, self._base_delay, self._sleep,
        )[0]


def register_fetcher(scheme: str, fn: Callable[[str], bytes]) -> None:
    """Register/override the fetcher for a URL scheme (e.g. "s3", "http").
    The callable must be picklable (plain function or cloudpickle-able
    closure) — it executes on executors."""
    _FETCHERS[scheme.lower()] = fn


def fetch(url: str, fetchers: dict[str, Callable[[str], bytes]] | None = None) -> bytes:
    reg = _FETCHERS if fetchers is None else fetchers
    scheme = urlparse(url).scheme.lower() or "file"
    fn = reg.get(scheme)
    if fn is None:
        raise ValueError(f"no fetcher registered for scheme {scheme!r} ({url})")
    return fn(url)


# --- writers: the outbound transport (sinks) ---------------------------------
def _put_file(url: str, data: bytes) -> None:
    """Atomic local write: temp file in the target directory, fsync, rename —
    a reader (or a re-run after a crash) never observes a half-written blob."""
    import os

    path = urlparse(url).path if "://" in url else url
    d = os.path.dirname(path) or "."
    os.makedirs(d, exist_ok=True)
    tmp = os.path.join(d, f".{os.path.basename(path)}.tmp-{os.getpid()}")
    with open(tmp, "wb") as f:
        f.write(data)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    # durability of the RENAME itself: fsync the directory entry so a power
    # loss after the atomic swap cannot roll the name back (best-effort —
    # some platforms/filesystems refuse O_RDONLY dir fsync)
    try:
        dfd = os.open(d, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)
    except OSError:
        pass


_WRITERS: dict[str, Callable[[str, bytes], None]] = {
    "file": _put_file,
}


def put(
    url: str,
    data: bytes,
    writers: dict[str, Callable[[str, bytes], None]] | None = None,
) -> None:
    reg = _WRITERS if writers is None else writers
    scheme = urlparse(url).scheme.lower() if "://" in url else "file"
    fn = reg.get(scheme)
    if fn is None:
        raise ValueError(f"no writer registered for scheme {scheme!r} ({url})")
    fn(url, data)


def _backoff_s(url: str, attempt: int, base_delay: float) -> float:
    """Exponential backoff with DETERMINISTIC per-(url, attempt) jitter in
    [0, 25%] — decorrelates a thundering herd of executors retrying the same
    503 burst without making test runs nondeterministic.  (md5, not
    ``hash()``: Python string hashing is salted per-process.)"""
    import hashlib

    digest = hashlib.md5(f"{url}|{attempt}".encode()).digest()
    frac = int.from_bytes(digest[:2], "big") / 0xFFFF
    return base_delay * (2.0**attempt) * (1.0 + 0.25 * frac)


def _with_retry(call, key: str, attempts: int, base_delay: float, sleep):
    """``call()`` with bounded retry on TRANSIENT errors only: up to
    ``attempts`` tries, exponential backoff (base * 2^i + jitter, keyed on
    ``key``) between them.  Returns (result, attempts_used).  Permanent
    errors raise immediately; a transient error that survives all attempts
    raises the last exception."""
    for i in range(attempts):
        try:
            return call(), i + 1
        except Exception as e:
            if not is_transient(e) or i == attempts - 1:
                # attach the TRUE attempt count (a permanent error can land
                # on attempt >1 after transient retries) for callers' audit
                # columns
                e._fetch_attempts = i + 1  # type: ignore[attr-defined]
                raise
            sleep(_backoff_s(key, i, base_delay))
    raise ValueError(f"attempts must be >= 1, got {attempts}")


def fetch_with_retry(
    url: str,
    fetchers: dict[str, Callable[[str], bytes]],
    attempts: int = 3,
    base_delay: float = 0.2,
    sleep: Callable[[float], None] = time.sleep,
) -> tuple[bytes, int]:
    """``fetch`` under ``_with_retry``: (blob, attempts_used)."""
    return _with_retry(lambda: fetch(url, fetchers), url, attempts, base_delay, sleep)


def fetch_blobs(
    df: DataFrame,
    url_col: str = "href",
    attempts: int = 3,
    base_delay: float = 0.2,
) -> DataFrame:
    """Resolve ``url_col`` hrefs to a binary ``bytes`` column executor-side.

    All input columns pass through; adds ``bytes`` (binary, null on
    failure), ``fetch_status`` (string, 'ok' or the error — quarantine
    errors carry the attempt count) and ``fetch_attempts`` (int, how many
    tries the row took; >1 flags rows that recovered through retry).
    Transient failures retry up to ``attempts`` times with exponential
    backoff (``base_delay`` seconds base); permanent failures quarantine on
    the first attempt.  Repartitions by the url column so fetch work spreads
    across executors even when the upstream is a few big parquet row
    groups."""
    from rasteret_spark.operators.decode import _decode_parallelism, _err_status

    from pyspark.sql import types as T  # noqa: N812

    fetchers = dict(_FETCHERS)  # snapshot: travels to executors via closure
    # NEVER df.schema.add(...): StructType.add mutates in place and df.schema
    # is cached on the DataFrame — it would permanently grow the CALLER's
    # schema with phantom columns.  Build a fresh StructType instead.
    schema = T.StructType(
        list(df.schema.fields)
        + [
            T.StructField("bytes", T.BinaryType()),
            T.StructField("fetch_status", T.StringType()),
            T.StructField("fetch_attempts", T.IntegerType()),
        ]
    )
    df = df.repartition(_decode_parallelism(df), url_col)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            blobs, status, tries = [], [], []
            for url in pdf[url_col]:
                try:
                    blob, used = fetch_with_retry(
                        str(url), fetchers, attempts=attempts, base_delay=base_delay
                    )
                    blobs.append(bytearray(blob))
                    status.append("ok")
                    tries.append(used)
                except Exception as e:  # quarantine row, not a task failure
                    used = getattr(e, "_fetch_attempts", 1)
                    blobs.append(None)
                    status.append(f"{_err_status(e)} (after {used} attempts)")
                    tries.append(used)
            out = pdf.copy()
            out["bytes"] = blobs
            out["fetch_status"] = status
            out["fetch_attempts"] = tries
            yield out

    return df.mapInPandas(run, schema=schema)

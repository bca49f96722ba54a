"""Truth side of the driver's DuckDB oracles, kept outside the library.

``oracle_sql()`` in ``__spark_entry__.py`` is the only importer, and only
inside that function; the package is never shipped with ``--py-files``.
``truth.py`` holds one builder per truth frame (a pandas DataFrame from the
generator's pre-encode arrays); ``truth_parquet(builder_name, **params)``
writes ``truth.<builder_name>(**params)`` once to a parquet under
``ORACLE_DIR`` and returns its path, which the SQL text reads.

The path is the builder name, a digest of the sorted params and a digest of
the truth-side sources: this package and ``sources/synthetic.py``.  An edit
to either, or to a param, writes a new parquet; an edit anywhere else leaves
every path, and so the ``oracle_sql()`` text, unchanged.  That holds for the
whole format layer (codecs, containers, writers), which the truth frames
never touch, and for the kernels they share with the engine: ``crs``,
``geom``, ``decode.window_from_bbox`` / ``pixel_*_lonlat``, ``zstd.xxh64``
and the JPEG codec behind q62's jpeg rows.  After an edit there a stale
parquet still holds the old kernel's answer, so the engine's fresh output
shows up as a mismatch and never hides one; delete ``ORACLE_DIR`` to
rebuild.

Writing a parquet deletes the entries for the same builder and params that
are keyed on another sources digest, unless one was touched (written or
returned by ``truth_parquet``) in the last ``KEEP_OTHER_DIGEST_S``: a
checkout at another commit that is still in use keeps its truths.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import time
from pathlib import Path

ORACLE_DIR = "/tmp/rasteret_spark_oracle"
KEEP_OTHER_DIGEST_S = 3600.0


def _sources_digest() -> str:
    from rasteret_spark.sources import synthetic

    h = hashlib.md5()
    for p in sorted(Path(__file__).parent.glob("*.py")) + [Path(synthetic.__file__)]:
        h.update(p.name.encode() + b"\0" + p.read_bytes())
    return h.hexdigest()[:10]


def truth_path(builder_name: str, **params) -> str:
    """Parquet path of ``truth.<builder_name>(**params)``; builds nothing."""
    pkey = hashlib.md5(repr(sorted(params.items())).encode()).hexdigest()[:8]
    return f"{ORACLE_DIR}/{builder_name}_{pkey}_{_sources_digest()}.parquet"


def truth_parquet(builder_name: str, **params) -> str:
    """``truth_path``, building the parquet first if it is missing (written
    to a temp file and renamed, so concurrent callers never read a partial
    file).  Float columns write NaN as NULL to match Spark's nullable
    doubles."""
    path = truth_path(builder_name, **params)
    if os.path.exists(path):
        with contextlib.suppress(OSError):  # another user's file keeps its time
            os.utime(path)
    else:
        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as pq

        from oracles import truth

        pdf = getattr(truth, builder_name)(**params)
        cols = []
        for c in pdf.columns:
            s = pdf[c]
            if s.dtype.kind == "f":
                cols.append(pa.array([None if pd.isna(x) else float(x) for x in s],
                                     type=pa.float64()))
            else:
                cols.append(pa.Array.from_pandas(s))
        os.makedirs(ORACLE_DIR, exist_ok=True)
        tmp = f"{path}.tmp.{os.getpid()}"
        pq.write_table(pa.Table.from_arrays(cols, names=list(pdf.columns)), tmp)
        os.replace(tmp, path)
        _prune_other_digests(path)
    return path


def _prune_other_digests(path: str) -> None:
    """Delete ``path``'s siblings for the same builder and params keyed on
    another sources digest and untouched for ``KEEP_OTHER_DIGEST_S``."""
    d, name = os.path.split(path)
    prefix, digest = name[: -len(".parquet")].rsplit("_", 1)
    cutoff = time.time() - KEEP_OTHER_DIGEST_S
    for entry in os.scandir(d):
        head, _, other = entry.name.removesuffix(".parquet").rpartition("_")
        if (
            entry.name.endswith(".parquet") and head == prefix
            and other != digest and len(other) == len(digest)
        ):
            # gone already (a concurrent writer pruned it) or not ours
            with contextlib.suppress(OSError):
                if entry.stat().st_mtime < cutoff:
                    os.remove(entry.path)

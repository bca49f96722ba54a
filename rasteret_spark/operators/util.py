"""Small shared plan helpers for operator modules."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# an Exchange node (shuffle or broadcast) in a physical plan's text
_EXCHANGE = re.compile(r"^[\s:+|*()\d-]*(Broadcast|Shuffle)?Exchange\b", re.M)


def spread_compute(df: DataFrame) -> DataFrame:
    """Explicit compute repartition before a CPU-heavy stage — but ONLY when
    the input is under-split.

    Byte-based split sizing (and AQE coalescing) hands a byte-small input —
    one parquet split of documents or embeddings — to one core, pinning the
    whole tokenize/hash/score stage there; CPU stages should be sized by
    compute (matches the decode path's policy, `operators/decode.py`).  The
    repartition is CONDITIONAL: a big table already split across >= cores
    partitions passes through untouched, so at real scale this never adds a
    full-table shuffle just to rearrange work that is already parallel.

    No job runs: the split count is read from ``df.rdd`` only when the
    physical plan has no Exchange, where that is planning-only.  Under AQE,
    ``df.rdd`` on a plan with an Exchange (a shuffle or broadcast join)
    executes its stages, so such an input passes through untouched —
    spread its scan before the join instead."""
    n = df.sparkSession.sparkContext.defaultParallelism
    try:
        if _EXCHANGE.search(df._jdf.queryExecution().executedPlan().toString()):
            return df
        cur = df.rdd.getNumPartitions()
    except Exception:
        cur = 1
    return df.repartition(n) if cur < n else df


def nanlist(arr) -> list:
    """float ndarray -> Python list with NaN -> None, at C speed.

    ``tolist()`` converts the whole array in C, then only the NaN slots are
    patched in Python — ~14x faster than a per-pixel conditional
    comprehension, byte-identical output (this is the hot conversion on
    every kernel that emits ``values array<double>`` rows)."""
    import numpy as np

    lst = arr.tolist()
    for i in np.flatnonzero(np.isnan(arr)):
        lst[i] = None
    return lst

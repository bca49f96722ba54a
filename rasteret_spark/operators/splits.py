"""Deterministic train/val/test split assignment for training-chip tables.

The last step before chips leave the engine for a trainer is the dataset
split.  Random splits are a reproducibility bug at 100 TB — a re-run (or a
resumed job, or a different partitioning) must assign every chip to the
SAME split, with no coordination and no driver-side state.  The standard
fix is hash-bucketing: ``split(key) = f(xxhash64(key || salt))``, a pure
projection that is stable across runs, executors, partitionings and
appends (new chips never move old chips between splits, unlike
``randomSplit`` or row-number modulo).

The reference leaves splitting to torchgeo samplers driver-side
(`src/rasteret/integrations/torchgeo.py`); here it is a Catalyst
expression — zero shuffles, zero Python — and the hash is Spark's builtin
``xxhash64`` (seed 42), mirrored bit-exactly in ``oracles/truth.py`` for
the oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F  # noqa: N812

# granularity of the unit-interval quantization: fractions are honored to
# 1e-6, and the mirror does the same integer arithmetic (no float division
# disagreements across platforms)
SPLIT_BUCKETS = 1_000_000


def split_expr(
    key: Column,
    fractions: tuple[float, ...] = (0.8, 0.1, 0.1),
    names: tuple[str, ...] = ("train", "val", "test"),
    salt: str = "",
) -> Column:
    """The split label for a STRING key column, as a pure expression.

    ``u = pmod(xxhash64(key || salt), 1e6)`` picks a stable bucket; the
    cumulative ``fractions`` carve the bucket range into ``names``.  A salt
    re-deals the whole assignment (e.g. per experiment) without touching
    the key column."""
    if len(fractions) != len(names):
        raise ValueError(
            f"{len(fractions)} fractions vs {len(names)} names"
        )
    if len(names) < 2:
        raise ValueError("need at least two splits")
    if any(f < 0 for f in fractions):
        raise ValueError(f"negative fraction in {fractions}")
    total = sum(fractions)
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions sum to {total}, expected 1.0")
    hashed = F.xxhash64(F.concat(key, F.lit(salt)) if salt else key)
    u = F.pmod(hashed, F.lit(SPLIT_BUCKETS))
    expr = None
    cum = 0.0
    for frac, name in zip(fractions[:-1], names[:-1]):
        cum += frac
        bound = F.lit(int(round(cum * SPLIT_BUCKETS)))
        expr = (
            F.when(u < bound, F.lit(name))
            if expr is None
            else expr.when(u < bound, F.lit(name))
        )
    return expr.otherwise(F.lit(names[-1]))


def assign_split(
    df: DataFrame,
    key_col: str = "chip_id",
    fractions: tuple[float, ...] = (0.8, 0.1, 0.1),
    names: tuple[str, ...] = ("train", "val", "test"),
    salt: str = "",
) -> DataFrame:
    """Add a deterministic ``split`` column keyed on ``key_col``.

    Zero shuffles — the label is a projection, so the pass pipelines into
    whatever produced the rows; every row with the same key lands in the
    same split regardless of partitioning, run or cluster size."""
    if key_col not in df.columns:
        raise ValueError(f"assign_split needs column {key_col!r}")
    return df.select(
        "*",
        split_expr(
            F.col(key_col).cast("string"),
            fractions=fractions,
            names=names,
            salt=salt,
        ).alias("split"),
    )

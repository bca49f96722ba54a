"""Deduplication operators for document tables at training-data scale.

Four families, each shaped for a 1000-executor cluster:

  * exact           — hash-groupBy, one shuffle on the content hash
  * minhash + LSH   — shingle -> seeded-hash min-signature -> banded bucket
                      join; candidate pairs verified with exact Jaccard.
                      All signature math is native (explode + xxhash64 +
                      groupBy min) so codegen applies; no Python.
  * simhash         — 64-bit bit-majority of token hashes (Arrow-batched
                      pandas UDF; numpy bit ops), near-dup = hamming <= d
  * embedding cosine near-dup lives in ``similarity.py``

The ``phash`` column of the image table plays the same role for imagery
(rasteret dedupes per-URL work the same way, `src/rasteret/ingest/
enrich.py:274-292`); ``exact_dedup`` on ``phash`` is the image-dedup path.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F  # noqa: N812

from rasteret_spark.operators.util import spread_compute as _spread

def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id row per exact content hash (deterministic winner)."""
    h = F.md5(F.col(content_col).cast("string")).alias("_h")
    w = Window.partitionBy("_h").orderBy(F.col(id_col).asc())
    return (
        df.withColumn("_h", h)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_h", "_rn")
    )


SHINGLE_N = 3  # words per shingle


def _shingles(text_col: str) -> F.Column:
    """Word ``SHINGLE_N``-gram shingles as an array column (native)."""
    # explicit whitespace class: Java \s includes \x0B, RE2 (the DuckDB
    # oracles) does not — keep both engines byte-identical on any input
    toks = F.split(
        F.trim(F.lower(F.regexp_replace(F.col(text_col), r"[ \t\n\x0B\f\r]+", " "))),
        " ",
    )
    n = SHINGLE_N
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    return F.when(F.size(toks) < n, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)))
    )


def minhash_signatures(
    df: DataFrame, text_col: str, id_col: str, num_perm: int = 16
) -> DataFrame:
    """(id, signature array<long>) — entirely JVM-native.

    Each shingle STRING is hashed once (``xxhash64``); the ``num_perm``
    permutation hashes derive from that 8-byte base via a second
    ``xxhash64(base, perm)`` over the int — so the plan explodes shingles
    exactly once (no shingle x permutation row blow-up) and takes all
    per-permutation mins in ONE ``groupBy(id)`` whose min aggregates
    partial-combine map-side: the shuffle carries ~n_docs rows per
    partition, not n_docs x n_shingles x num_perm."""
    ex = _spread(df).select(
        F.col(id_col).alias("_id"), F.explode(_shingles(text_col)).alias("_sh")
    ).withColumn("_h", F.xxhash64(F.col("_sh")))
    mins = ex.groupBy("_id").agg(
        *[
            F.min(F.xxhash64(F.col("_h"), F.lit(p))).alias(f"_mh{p}")
            for p in range(num_perm)
        ]
    )
    return mins.select(
        F.col("_id").alias(id_col),
        F.array(*[F.col(f"_mh{p}") for p in range(num_perm)]).alias("signature"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Candidate near-dup pairs via banded LSH, verified with exact shingle
    Jaccard.  Returns (id_a, id_b, jaccard) with id_a < id_b.

    Plan shape: signatures (1 shuffle) -> band explode -> bucket equi-join
    (self-join on band hash; AQE handles bucket skew) -> exact verify on the
    pair's shingle sets (array_intersect/array_union — native)."""
    rows_per_band = num_perm // bands
    sig = minhash_signatures(df, text_col, id_col, num_perm)
    banded = sig.withColumn("band", F.explode(F.sequence(F.lit(0), F.lit(bands - 1)))).select(
        F.col(id_col),
        "band",
        F.xxhash64(
            F.col("band"), F.slice(F.col("signature"), F.col("band") * rows_per_band + 1, rows_per_band)
        ).alias("bucket"),
    )
    a = banded.alias("a")
    b = banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )
    # exact verify only touches documents that appear in a candidate pair —
    # semi-join-filter the corpus BEFORE tokenizing: the shingle table is
    # built for candidates only (the full-corpus shingle build dominated the
    # verify cost otherwise)
    need = (
        cand.select(F.col("id_a").alias(id_col))
        .union(cand.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = _spread(df).join(need, id_col, "left_semi").select(
        F.col(id_col), F.array_distinct(_shingles(text_col)).alias("sh")
    )
    pairs = (
        cand.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), "id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return pairs


# --- simhash -------------------------------------------------------------------
def simhash_udf():
    """64-bit simhash of whitespace tokens (Arrow batched, numpy-vectorized).

    The FNV-1a token hash is computed for ALL tokens of the batch at once:
    tokens are padded into one byte matrix and the FNV recurrence loops over
    BYTE POSITIONS (bounded by the longest token), each step a vectorized
    uint64 xor/multiply across every token — no per-token Python.  Bit
    matrices and the per-document majority vote are a single ``reduceat``
    over document boundaries.  Output is bit-identical to a scalar FNV-1a
    per token (pinned by the pigeonhole-exact test)."""

    @F.pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        n = len(texts)
        out = np.zeros(n, dtype=np.int64)
        tok_lists = [(t or "").lower().split() for t in texts]
        counts = np.array([len(tl) for tl in tok_lists], dtype=np.int64)
        toks = [w.encode("utf-8") for tl in tok_lists for w in tl]
        if not toks:
            return pd.Series(out)
        lens = np.array([len(b) for b in toks], dtype=np.int64)
        maxlen = int(lens.max())
        m = np.zeros((len(toks), maxlen), dtype=np.uint64)
        for i, b in enumerate(toks):
            m[i, : len(b)] = np.frombuffer(b, dtype=np.uint8)
        h = np.full(len(toks), 0xCBF29CE484222325, dtype=np.uint64)
        prime = np.uint64(0x100000001B3)
        for j in range(maxlen):  # loop bound = longest token, not token count
            active = lens > j
            h[active] = (h[active] ^ m[active, j]) * prime  # uint64 wraps
        bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(
            np.int64
        )
        votes_tok = 2 * bits - 1
        starts = np.zeros(n, dtype=np.int64)
        np.cumsum(counts[:-1], out=starts[1:])
        nonempty = counts > 0
        doc_votes = np.add.reduceat(votes_tok, starts[nonempty], axis=0)
        weights = np.left_shift(np.uint64(1), np.arange(64, dtype=np.uint64))
        vals = ((doc_votes > 0).astype(np.uint64) * weights).sum(
            axis=1, dtype=np.uint64
        )
        out[nonempty] = vals.view(np.int64)
        return pd.Series(out)

    return _simhash


def simhash_near_dups(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance <= max_hamming.

    Scale path: block on 4 x 16-bit bands (a pair within hamming<=3 must agree
    on at least one band — pigeonhole), equi-join per band, verify hamming via
    bit_count(xor).  Native join + bit ops; only the signature is a UDF."""
    sh = _spread(df).select(F.col(id_col), simhash_udf()(F.col(text_col)).alias("sim"))
    banded = sh.withColumn("band", F.explode(F.sequence(F.lit(0), F.lit(3)))).withColumn(
        "key", F.expr("shiftright(sim, band * 16) & 65535")
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )

"""Training-data pipeline operators: dedup, similarity, text, multimodal.

Oracles are independent pandas/numpy implementations over the same inputs
(driver testdata at sf0.001 plus planted near-duplicates).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from rasteret_spark.operators import dedup, similarity, text

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    df = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    df.persist()
    df.count()
    return df


@pytest.fixture(scope="module")
def docs_with_dups(spark, docs):
    """documents + planted near-duplicates (a few word edits) + exact dups."""
    base = docs.limit(30).toPandas()
    rows = []
    for i, (_, r) in enumerate(base.iterrows()):
        words = r["text"].split()
        if i % 3 == 0:  # exact duplicate
            t = r["text"]
        else:  # near duplicate: perturb ~5% of words
            for j in range(0, max(1, len(words) // 20)):
                words[(j * 7) % len(words)] = "zzz"
            t = " ".join(words)
        rows.append({"doc_id": 10_000 + int(r["doc_id"]), "text": t,
                     "lang": r["lang"], "source": "dup", "n_chars": len(t)})
    dup_df = spark.createDataFrame(pd.DataFrame(rows))
    out = docs.unionByName(dup_df)
    out.persist()
    out.count()
    return out


def test_exact_dedup(spark, docs_with_dups):
    got = dedup.exact_dedup(docs_with_dups, "text", "doc_id").toPandas()
    pdf = docs_with_dups.toPandas()
    want = pdf.sort_values("doc_id").drop_duplicates("text", keep="first")
    assert sorted(got["doc_id"]) == sorted(want["doc_id"])


def _jaccard_oracle(pdf, n=3):
    def shingles(t):
        toks = " ".join(t.lower().split()).split(" ")
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    sh = {r["doc_id"]: shingles(r["text"]) for _, r in pdf.iterrows()}
    out = {}
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            if inter:
                out[(a, b)] = inter / len(sh[a] | sh[b])
    return out


def test_minhash_lsh_finds_near_dups(spark, docs_with_dups):
    got = dedup.minhash_lsh_pairs(
        docs_with_dups, "text", "doc_id", num_perm=16, bands=4, jaccard_threshold=0.5
    ).toPandas()
    oracle = _jaccard_oracle(docs_with_dups.toPandas())
    # precision: every reported pair really has jaccard >= 0.5 (exact verify)
    for a, b, j in got.itertuples(index=False):
        assert oracle[(a, b)] >= 0.5
        assert abs(oracle[(a, b)] - j) < 1e-9
    # recall on strong dups (j >= 0.9): banding theory gives ~1-(1-0.9^4)^4 ≈ 0.98
    strong = {k for k, v in oracle.items() if v >= 0.9}
    found = set(map(tuple, got[["id_a", "id_b"]].itertuples(index=False)))
    assert strong, "fixture must plant strong near-dups"
    assert len(strong & found) / len(strong) >= 0.8


def hash64_str(s: str) -> int:
    """Deterministic 64-bit FNV-1a (stable across processes, unlike hash())."""
    h = 0xCBF29CE484222325
    for ch in s.encode("utf-8"):
        h = ((h ^ ch) * 0x100000001B3) & 0xFFFFFFFFFFFFFFFF
    return h - (1 << 64) if h >= (1 << 63) else h


def test_simhash_exact_vs_bruteforce(spark, docs_with_dups):
    got = dedup.simhash_near_dups(docs_with_dups, "text", "doc_id", max_hamming=3).toPandas()
    pdf = docs_with_dups.toPandas()
    sims = {}
    for _, r in pdf.iterrows():
        toks = [w for w in r["text"].lower().split() if w]
        hs = np.array([hash64_str(w) for w in toks], dtype=np.int64).astype(np.uint64)
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(int)
        votes = (2 * bits - 1).sum(axis=0)
        v = np.uint64(0)
        for bpos in np.nonzero(votes > 0)[0]:
            v |= np.uint64(1) << np.uint64(bpos)
        sims[r["doc_id"]] = int(v.astype(np.int64))
    ids = sorted(sims)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if bin((sims[a] ^ sims[b]) & ((1 << 64) - 1)).count("1") <= 3:
                want.add((a, b))
    got_pairs = set(map(tuple, got[["id_a", "id_b"]].itertuples(index=False)))
    # 4x16-bit banding + hamming<=3 is pigeonhole-exact
    assert got_pairs == want


def test_cosine_topk_matches_numpy(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    got = (
        similarity.cosine_topk(emb, probes, k=4)
        .toPandas()
        .sort_values(["probe_id", "rank"])
        .reset_index(drop=True)
    )
    pdf = emb.toPandas()
    M = np.stack(pdf["embedding"].map(np.asarray)).astype(np.float64)
    ids = pdf["vec_id"].to_numpy()
    norms = np.linalg.norm(M, axis=1)
    for pid in range(5):
        pi = np.nonzero(ids == pid)[0][0]
        cos = (M @ M[pi]) / (norms * norms[pi])
        order = sorted(
            [(float(-c), int(i)) for c, i in zip(cos, ids) if i != pid]
        )[:4]
        want_ids = [i for _, i in order]
        sub = got[got["probe_id"] == pid]
        assert list(sub["vec_id"]) == want_ids
        np.testing.assert_allclose(sub["cosine"].to_numpy(), [-c for c, _ in order], rtol=1e-9)


def test_lsh_topk_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    exact = similarity.cosine_topk(emb, probes, k=5).toPandas()
    approx = similarity.lsh_topk(emb, probes, k=5, dim=64, n_bits=4, n_tables=8).toPandas()
    e = {(r.probe_id, r.vec_id) for r in exact.itertuples(index=False)}
    a = {(r.probe_id, r.vec_id) for r in approx.itertuples(index=False)}
    recall = len(e & a) / len(e)
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_text_functions_oracle(spark):
    rows = [
        ("a", "The quick brown fox and the dog of war."),
        ("b", ""),
        ("c", "der und die der und"),
        ("d", "le les des 123 !!!"),
        ("e", "   spaced   out   tokens  "),
        ("f", "湖 δέλτα unicode text the and of"),
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    got = (
        df.select(
            "id",
            text.token_count(F.col("t")).alias("tc"),
            text.punct_ratio(F.col("t")).alias("pr"),
            text.lang_id(F.col("t")).alias("lang"),
            text.quality_score(F.col("t")).alias("q"),
            text.fingerprint(F.col("t")).alias("fp"),
        )
        .toPandas()
        .set_index("id")
    )
    assert got.loc["a", "tc"] == 9
    assert got.loc["b", "tc"] == 0
    assert got.loc["e", "tc"] == 3
    assert got.loc["a", "lang"] == "en"
    assert got.loc["c", "lang"] == "de"
    assert got.loc["d", "lang"] == "fr"
    assert got.loc["b", "lang"] == "und"
    assert got.loc["f", "lang"] == "en"
    assert abs(got.loc["a", "pr"] - 1 / len(rows[0][1])) < 1e-9
    assert 0.0 <= got.loc["b", "q"] <= 1.0
    import hashlib

    want_fp = hashlib.md5("the quick brown fox and the dog of war."[:64].encode()).hexdigest()
    assert got.loc["a", "fp"] == want_fp


def test_ivf_topk_recall_and_determinism(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    probes = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("probe_id"), "embedding"
    )
    cent1 = similarity.train_ivf_centroids(emb, n_clusters=16)
    cent2 = similarity.train_ivf_centroids(emb, n_clusters=16)
    np.testing.assert_array_equal(cent1, cent2)  # deterministic quantizer
    exact = similarity.cosine_topk(emb, probes, k=5).toPandas()
    approx = similarity.ivf_topk(emb, probes, k=5, centroids=cent1, nprobe=6).toPandas()
    e = {(r.probe_id, r.vec_id) for r in exact.itertuples(index=False)}
    a = {(r.probe_id, r.vec_id) for r in approx.itertuples(index=False)}
    recall = len(e & a) / len(e)
    assert recall >= 0.6, f"IVF recall too low: {recall}"
    # nprobe=ALL lists == exact (the rerank is exact cosine)
    full = similarity.ivf_topk(emb, probes, k=5, centroids=cent1, nprobe=16).toPandas()
    f = {(r.probe_id, r.vec_id) for r in full.itertuples(index=False)}
    assert f == e


def test_feature_extract_finds_planted_image_dups(spark, images_df, images_pdf):
    """Identical planted images (equal phash) must collide at cosine ~1 in
    the descriptor space; a corrupt blob quarantines."""
    from rasteret_spark.operators import multimodal, similarity

    feats = multimodal.extract_features(images_df).toPandas()
    assert (feats["status"] == "ok").all()
    assert all(len(f) == multimodal.FEATURE_DIM for f in feats["features"])
    got = similarity.cosine_near_dup_pairs(
        multimodal.extract_features(images_df),
        threshold=0.9999, dim=multimodal.FEATURE_DIM,
        n_bits=6, n_tables=6, id_col="image_id", vec_col="features",
    ).toPandas()
    pairs = set(map(tuple, got[["id_a", "id_b"]].itertuples(index=False)))
    by_hash = images_pdf.groupby("phash")["image_id"].apply(list)
    planted = {
        (a, b)
        for ids in by_hash if len(ids) > 1
        for i, a in enumerate(sorted(ids)) for b in sorted(ids)[i + 1 :]
    }
    assert planted, "fixture must plant duplicate images"
    assert planted <= pairs, "every exact duplicate pair must be found"
    # corrupt blob -> quarantine row, not a task failure
    bad = spark.createDataFrame(
        pd.DataFrame([{"image_id": "bad", "bytes": b"MRST" + b"\x01" * 40}])
    )
    q = multimodal.extract_features(bad).toPandas().iloc[0]
    assert q["features"] is None and q["status"] != "ok"

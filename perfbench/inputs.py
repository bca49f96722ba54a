"""Seeded benchmark inputs and their numpy reference answers.

Inputs come only from ``rasteret_spark.sources.synthetic``: the image table
(written as parquet by a process pool), the AOIs and
the sample points.  The cache key is ``(seed, n_images,
generator_fingerprint())``, so a codec or generator edit regenerates instead
of benchmarking stale blobs.
"""

from __future__ import annotations

import os
import shutil
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

KEEP_CACHED = 16  # input sets kept on disk (each is ~0.1 MB per image)


@dataclass(frozen=True)
class Scale:
    images: int
    aois: int = 200
    points: int = 16000


def _write_part(args) -> None:
    """One parquet file of the image table (pool worker)."""
    from rasteret_spark.sources import synthetic as syn

    path, seed, start, n = args
    t = syn.images_table(n, seed, start)
    # session time zone is UTC: a tz-aware column reads back as Spark's
    # TimestampType, the type the engine's own generator produces
    idx = t.schema.get_field_index("datetime")
    t = t.set_column(idx, "datetime", t.column(idx).cast(pa.timestamp("us", tz="UTC")))
    pq.write_table(t, path)


class Inputs:
    """Locates (and on first use generates) one seeded input set."""

    def __init__(self, work: str, seed: int, scale: Scale, nproc: int):
        from rasteret_spark.sources.synthetic import generator_fingerprint

        self.seed, self.scale, self.nproc = seed, scale, nproc
        self.key = f"s{seed}-n{scale.images}-{generator_fingerprint()}"
        self.root = os.path.join(work, "inputs")
        self.dir = os.path.join(self.root, self.key)
        self.images_dir = os.path.join(self.dir, "images")
        self.gen_s = 0.0
        self.cached = os.path.exists(os.path.join(self.dir, "_DONE"))

    def prepare(self) -> None:
        """Generate the set unless it is cached; commit it atomically.

        Call before the process starts any thread or the JVM: the pool forks
        (a spawned pool would also leave a resource-tracker process behind)."""
        import multiprocessing as mp
        import time

        from rasteret_spark.sources import synthetic as syn

        if self.cached:
            os.utime(self.dir)  # most recently used: kept by _evict
            return
        t0 = time.perf_counter()
        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "images"))
        n_files = 2 * self.nproc
        bounds = np.linspace(0, self.scale.images, n_files + 1).astype(int)
        jobs = [
            (os.path.join(tmp, "images", f"part-{k:05d}.parquet"),
             self.seed, int(bounds[k]), int(bounds[k + 1] - bounds[k]))
            for k in range(n_files) if bounds[k + 1] > bounds[k]
        ]
        with mp.get_context("fork").Pool(self.nproc) as pool:
            pool.map(_write_part, jobs, chunksize=1)
        pq.write_table(syn.aois_table(self.scale.aois, self.seed), os.path.join(tmp, "aois.parquet"))
        pq.write_table(syn.points_table(self.scale.points, self.seed), os.path.join(tmp, "points.parquet"))
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(self.dir, ignore_errors=True)
        os.replace(tmp, self.dir)
        self.gen_s = time.perf_counter() - t0
        self._evict()

    def _evict(self) -> None:
        sets = [
            os.path.join(self.root, d) for d in os.listdir(self.root)
            if os.path.exists(os.path.join(self.root, d, "_DONE"))
        ]
        sets.sort(key=os.path.getmtime, reverse=True)
        for old in sets[KEEP_CACHED:]:
            if old != self.dir:
                shutil.rmtree(old, ignore_errors=True)

    # -- readers ------------------------------------------------------------
    def table(self, name: str) -> pa.Table:
        return pq.read_table(os.path.join(self.dir, f"{name}.parquet"))

    def image_meta(self) -> pa.Table:
        return pq.read_table(
            self.images_dir,
            columns=["image_id", "xmin", "ymin", "xmax", "ymax", "datetime", "epsg"],
        )

    def image_rows(self, ids: list[str]) -> dict[str, dict]:
        t = pq.read_table(self.images_dir, filters=[("image_id", "in", ids)])
        return {r["image_id"]: r for r in t.to_pylist()}


# --- reference answers (plain numpy, no Spark) -------------------------------------
def pair_digest(a, b) -> int:
    """Order-independent digest of a pair multiset; the Spark side computes
    ``sum(crc32(concat_ws('|', a, b)))`` over the same pairs."""
    return sum(zlib.crc32(f"{x}|{y}".encode()) for x, y in zip(a, b))


def zonal_pairs(meta: pa.Table, aois: pa.Table) -> list[tuple[str, str]]:
    """Brute force over every image x AOI pair: bbox overlap, then the exact
    rectangle-polygon test."""
    from rasteret_spark import geom

    ids = meta.column("image_id").to_pylist()
    x0, y0, x1, y1 = (meta.column(c).to_numpy() for c in ("xmin", "ymin", "xmax", "ymax"))
    out = []
    for a in aois.to_pylist():
        m = (x1 >= a["xmin"]) & (x0 <= a["xmax"]) & (y1 >= a["ymin"]) & (y0 <= a["ymax"])
        idx = np.nonzero(m)[0]
        if idx.size:
            keep = geom.rects_intersect_polygon(x0[idx], y0[idx], x1[idx], y1[idx], a["geometry"])
            out.extend((ids[i], a["aoi_id"]) for i in idx[np.asarray(keep, bool)])
    return out


def point_pairs(meta: pa.Table, points: pa.Table) -> list[tuple[int, str]]:
    """Brute force point-in-bbox containment over every point x image."""
    ids = meta.column("image_id").to_pylist()
    x0, y0, x1, y1 = (meta.column(c).to_numpy() for c in ("xmin", "ymin", "xmax", "ymax"))
    px = points.column("x").to_numpy()
    py = points.column("y").to_numpy()
    pk = points.column("point_index").to_pylist()
    out = []
    for j in range(len(ids)):
        hit = np.nonzero((px >= x0[j]) & (px <= x1[j]) & (py >= y0[j]) & (py <= y1[j]))[0]
        out.extend((pk[i], ids[j]) for i in hit)
    return out

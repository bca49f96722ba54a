"""User-facing Collection facade — the reference's flagship API surface
re-expressed over the Spark operators.

Mirrors rasteret's ``Collection`` public methods (`/root/reference/src/
rasteret/core/collection.py`: ``from_parquet`` 905, ``from_arrow`` 2094,
``subset`` 1013, ``where`` 1408, ``head`` 1443, ``bands`` 2117, ``bounds``
2129, ``epsg`` 2200, ``describe`` 2257, ``export`` 1552, ``get_gdf`` 2721,
``get_xarray`` 2635, ``sample_points`` 2872, ``to_torchgeo_dataset`` 2479)
as a thin veneer: every method delegates to the distributed operators, so a
reference user keeps their workflow — build/load a collection, narrow it by
bbox/date/filter, then extract zonal tables, point samples, mosaics, or
DataLoader-ready chip batches — while the plans stay the engine's
(cell-cover joins, one-blob-shuffle decode, lineage-checkpointable).

Everything is lazy: the facade holds a records DataFrame; nothing executes
until a Spark action runs (or a driver-side iterator like
``chip_batches`` is consumed).  The one exception: building a zonal, sample,
mosaic or chip plan runs its candidate join once, to size and checkpoint the
grouped side (``decode.grouped_side_choice``).

Zonal and point-sample methods hand the stored records straight to
``decode.zonal_join`` / ``sampling.sample_join``, mosaic and chip methods
to ``raster_mosaic.chip_candidates`` / ``chips.chip_serve``; each owns
candidate generation and the bytes-or-href payload choice, so blob and
remote (href-only) collections take the same paths.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812


class Collection:
    """A queryable image collection: records DataFrame + the operator suite."""

    def __init__(self, spark: SparkSession, records: DataFrame):
        self.spark = spark
        self.records = records

    # --- constructors ----------------------------------------------------------
    @classmethod
    def from_parquet(
        cls, spark: SparkSession, path: str, column_map: dict | None = None
    ) -> "Collection":
        from rasteret_spark.sources import catalog

        return cls(spark, catalog.load_images(spark, path, column_map=column_map))

    @classmethod
    def from_arrow(cls, spark: SparkSession, table) -> "Collection":
        # Spark 4 ingests pyarrow Tables natively (Arrow IPC, no pandas hop)
        return cls(spark, spark.createDataFrame(table))

    @classmethod
    def from_hrefs(
        cls, spark: SparkSession, refs: DataFrame, url_col: str = "href",
        materialize: bool = True,
    ) -> "Collection":
        """Records whose blobs live behind hrefs.

        ``materialize=True`` resolves every blob executor-side through the
        pluggable fetch registry (``sources.fetch``) into a ``bytes``
        column; failed rows carry ``fetch_status`` != 'ok' and NULL bytes.
        ``materialize=False`` keeps the collection REMOTE: no blob column
        ever exists, and decode-bearing operators (``zonal``) read each
        window through ranged fetches against the href — the COG access
        model, nothing downloads whole."""
        from rasteret_spark.sources.fetch import fetch_blobs

        if not materialize:
            return cls(spark, refs.withColumnRenamed(url_col, "href")
                       if url_col != "href" else refs)
        return cls(spark, fetch_blobs(refs, url_col=url_col))

    @classmethod
    def from_stac_items(cls, spark: SparkSession, items) -> "Collection":
        """STAC Item dicts (one API search page or many) as a records
        collection (``sources.stac.records_df``); narrow it with ``subset``
        (bbox, date range) and ``where`` (e.g. cloud cover)."""
        from rasteret_spark.sources import stac

        return cls(spark, stac.records_df(spark, items))

    # --- narrowing (all lazy, all pushdown-friendly) ---------------------------
    def subset(
        self,
        bbox: tuple[float, float, float, float] | None = None,
        date_range: tuple | None = None,
    ) -> "Collection":
        df = self.records
        if bbox is not None:
            xmin, ymin, xmax, ymax = bbox
            df = df.filter(
                (F.col("xmin") <= float(xmax)) & (F.col("xmax") >= float(xmin))
                & (F.col("ymin") <= float(ymax)) & (F.col("ymax") >= float(ymin))
            )
        if date_range is not None:
            t0, t1 = (
                v if isinstance(v, dt.datetime) or v is None else dt.datetime.fromisoformat(str(v))
                for v in date_range
            )
            if t0 is not None:
                df = df.filter(F.col("datetime") >= F.lit(t0))
            if t1 is not None:
                df = df.filter(F.col("datetime") <= F.lit(t1))
        return Collection(self.spark, df)

    def where(self, expr: str) -> "Collection":
        return Collection(self.spark, self.records.filter(F.expr(expr)))

    def enrich(self) -> "Collection":
        """Header-cache enrichment: adds the parsed ``meta`` struct column.
        Blob collections parse from a JVM-side prefix; remote (href-only)
        collections parse through ranged fetches — either way, every later
        decode plans byte ranges from the cached struct and never re-touches
        a header."""
        from rasteret_spark.operators import enrich as en

        if "bytes" in self.records.columns:
            return Collection(self.spark, en.enrich_headers(self.records))
        if "href" in self.records.columns:
            return Collection(self.spark, en.enrich_headers_remote(self.records))
        raise ValueError("enrich needs a 'bytes' or 'href' column")

    def head(self, n: int = 5, columns: list[str] | None = None):
        df = self.records.select(*columns) if columns else self.records
        return df.limit(n).toPandas()

    def count(self) -> int:
        return self.records.count()

    # --- introspection ---------------------------------------------------------
    def bands(self) -> int:
        """Max band count across records (the synthetic analogue of the
        reference's named-band list)."""
        if "n_bands" not in self.records.columns:
            return 1
        return int(self.records.agg(F.max("n_bands")).first()[0] or 1)

    def bounds(self) -> tuple[float, float, float, float] | None:
        r = self.records.agg(
            F.min("xmin"), F.min("ymin"), F.max("xmax"), F.max("ymax")
        ).first()
        if r[0] is None:  # empty collection: no extent, not a TypeError
            return None
        return tuple(float(v) for v in r)

    def epsg(self) -> list[int]:
        return sorted(
            int(r[0])
            for r in self.records.select("epsg").distinct().collect()
            if r[0] is not None
        )

    def __repr__(self) -> str:
        # LAZY on purpose: a repr that triggers Spark jobs turns every
        # notebook echo into a cluster scan.  `describe()` is the eager
        # summary (the reference's rich display, `core/display.py`).
        cols = ", ".join(self.records.columns[:8])
        more = "" if len(self.records.columns) <= 8 else ", ..."
        return f"Collection(lazy; columns=[{cols}{more}])"

    def describe(self):
        """Eager one-job summary, rendered richly.

        Returns a ``display.DescribeResult`` — a Mapping (``d["records"]``,
        ``dict(d)``, ``**d`` all work) that renders as an aligned table in
        terminals and styled HTML in notebooks (the reference's
        ``describe()`` surface, `core/display.py:153-246`).  Every
        property — count, band max, spatial extent, CRS set, date range —
        comes from a SINGLE aggregation pass over the light columns, not
        one Spark job per property."""
        from rasteret_spark.display import DescribeResult

        cols = set(self.records.columns)
        aggs = [F.count(F.lit(1)).alias("records")]
        if "n_bands" in cols:
            aggs.append(F.max("n_bands").alias("bands"))
        if {"xmin", "ymin", "xmax", "ymax"} <= cols:
            aggs += [F.min("xmin").alias("bxmin"), F.min("ymin").alias("bymin"),
                     F.max("xmax").alias("bxmax"), F.max("ymax").alias("bymax")]
        if "epsg" in cols:
            aggs.append(F.collect_set("epsg").alias("epsg_set"))
        if "datetime" in cols:
            aggs += [F.min("datetime").alias("dt_min"),
                     F.max("datetime").alias("dt_max")]
        r = self.records.agg(*aggs).first()
        n = int(r["records"])
        d: dict = {"records": n}
        d["bands"] = int(r["bands"]) if "n_bands" in cols and r["bands"] is not None else 1
        if {"xmin", "ymin", "xmax", "ymax"} <= cols and n and r["bxmin"] is not None:
            d["bounds"] = (float(r["bxmin"]), float(r["bymin"]),
                           float(r["bxmax"]), float(r["bymax"]))
        else:
            d["bounds"] = None
        d["epsg"] = (sorted(int(e) for e in r["epsg_set"] if e is not None)
                     if "epsg" in cols else [])
        if "datetime" in cols and r["dt_min"] is not None:
            d["dates"] = (str(r["dt_min"])[:10], str(r["dt_max"])[:10])
        return DescribeResult(d)

    # --- sinks -----------------------------------------------------------------
    def export(self, path: str, geoparquet: bool = False) -> None:
        from rasteret_spark.sources import catalog

        if geoparquet:
            catalog.write_images_geoparquet(self.records, path)
        else:
            catalog.write_images(self.records, path)

    # --- raster access (the get_gdf / get_xarray / sample_points analogues) ----
    def zonal(
        self, aois: DataFrame, bands=(0,), res: int = 7,
        resume_dir: str | None = None,
    ) -> DataFrame:
        """Zonal statistics per (image, AOI, band) — the ``get_gdf`` analogue
        (``decode.zonal_join`` over the records).  ``aois`` needs aoi_id, aoi_geometry (WKB), aoi_xmin/_ymin/_xmax/_ymax.

        ``resume_dir`` switches to the CHECKPOINTED path: per-partition
        lineage is committed under that directory and a killed job resumes
        at partition granularity (``plans.pipelines.resumable_zonal``) — the
        flagship API surface of the engine's resume protocol.  The resumable
        path is band-0 (the pipeline's contract); pass ``bands`` only on the
        direct path."""
        from rasteret_spark.operators import decode

        if resume_dir is not None:
            from rasteret_spark.plans.pipelines import resumable_zonal

            if tuple(bands) != (0,):
                raise ValueError("resume_dir path computes band 0 (pipeline contract)")
            # drop the internal bucket column: the facade contract is the
            # same schema on both the direct and checkpointed paths
            return resumable_zonal(
                self.spark, self.records, aois, resume_dir, res=res
            ).drop("part_id")
        return decode.zonal_join(self.records, aois, res=res, bands=bands)

    def sample_points(
        self, points: DataFrame, bands=(0,), max_ring: int = 0,
        neighborhood: int = 0, res: int = 8, resume_dir: str | None = None,
    ) -> DataFrame:
        """Pixel values at points — ``Collection.sample_points`` analogue
        (``sampling.sample_join`` over the records).  ``points`` needs
        point_index, x, y (lon/lat).  ``resume_dir`` switches to the
        checkpointed path (band 0), mirroring :meth:`zonal`."""
        from rasteret_spark.operators import sampling

        if resume_dir is not None:
            from rasteret_spark.plans.pipelines import resumable_sample

            if tuple(bands) != (0,):
                raise ValueError("resume_dir path computes band 0 (pipeline contract)")
            return resumable_sample(
                self.spark, self.records, points, resume_dir,
                max_ring=max_ring, neighborhood=neighborhood, res=res,
            ).drop("part_id")
        return sampling.sample_join(
            self.records, points, res=res,
            max_ring=max_ring, bands=bands, neighborhood=neighborhood,
        )

    def _resolve_grid(self, bbox, xres, grid_epsg):
        """(lon/lat query bbox, lon/lat-or-None xres, grid_epsg spec) ->
        (grid bbox, grid xres, epsg int).  ``grid_epsg``: None -> lon/lat
        grid (historic behavior); ``"auto"`` -> the most-common native CRS
        of the records (the reference's auto-detection,
        `src/rasteret/core/execution.py:396-456`); an int -> that CRS.  For
        projected grids the query bbox maps through the densified boundary
        and ``xres`` is interpreted in grid units (meters for UTM)."""
        from rasteret_spark import crs as _crs
        from rasteret_spark.operators import raster_mosaic as rmo

        if grid_epsg is None:
            return bbox, xres, 4326
        epsg = (
            rmo.most_common_epsg(self.records)
            if isinstance(grid_epsg, str) and grid_epsg == "auto"
            else int(grid_epsg)
        )
        if epsg == 4326:
            return bbox, xres, 4326
        gx0, gy0, gx1, gy1 = _crs.bbox_from_lonlat(epsg, *bbox)
        return (gx0, gy0, gx1, gy1), xres, epsg

    def mosaic(
        self, bbox, size: int, xres: float, bands=(0,), method: str = "nearest",
        date_range: tuple | None = None, max_images_per_chip: int | None = None,
        grid_epsg: int | str | None = None,
    ) -> DataFrame:
        """First-valid pixel mosaic on a query-derived chip grid — the
        ``get_xarray`` analogue (collect + ``operators.assemble`` upgrades
        rows to georeferenced tensors / xarray).

        ``bbox`` is always lon/lat; ``grid_epsg`` picks the grid CRS
        (None = lon/lat, "auto" = most-common native CRS of the records,
        int = that CRS).  For projected grids ``xres`` is in grid units."""
        from rasteret_spark.operators import chips, raster_mosaic as rmo, spatial_join as sj

        sub = self.subset(bbox=bbox, date_range=date_range)
        # "auto" detects over the SUBSET actually mosaicked (the reference
        # detects on the query result set, execution.py:396-456) — a date
        # range selecting one UTM zone must grid in THAT zone even when the
        # full collection's majority CRS differs
        gbox, gxres, epsg = sub._resolve_grid(bbox, xres, grid_epsg)
        grid = chips.chip_requests(self.spark, gbox, size, gxres, grid_epsg=epsg)
        cap = (
            rmo.DEFAULT_MAX_IMAGES_PER_CHIP
            if max_images_per_chip is None
            else max_images_per_chip
        )
        pairs = rmo.chip_candidates(
            grid, sj.image_light(sub.records), sub.records, max_images_per_chip=cap
        )
        return rmo.first_valid_mosaic_pixels(pairs, bands=bands, method=method)

    def to_cogs(
        self, out_dir: str, bbox, size: int, xres: float, bands=(0,),
        method: str = "nearest", date_range: tuple | None = None,
        grid_epsg: int | str | None = None, **sink_kwargs,
    ) -> DataFrame:
        """Mosaic the query window and export each chip as a tiled,
        overviewed GeoTIFF (COG layout) under ``out_dir`` — the outbound
        leg of the raster pipeline (the reference only READS COGs; this
        engine also materializes them, so its outputs feed back through
        ``Collection.from_hrefs`` / ``ingest_rasters``).  Returns the
        manifest DataFrame (one row per chip: href, sha256, georeferencing,
        status)."""
        from rasteret_spark.operators import raster_sink

        px = self.mosaic(
            bbox, size, xres, bands=bands, method=method,
            date_range=date_range, grid_epsg=grid_epsg,
        )
        return raster_sink.write_cogs(px, out_dir, **sink_kwargs)

    def to_shards(
        self, out_dir: str, bbox, size: int, xres: float, bands=(0,),
        n_shards: int = 8, method: str = "nearest",
        date_range: tuple | None = None,
        grid_epsg: int | str | None = None, **sink_kwargs,
    ) -> DataFrame:
        """Mosaic the query window and export the chips as WebDataset-style
        tar shards (`operators/shard_sink.write_tar_shards`) — the layout a
        DataLoader fleet streams at training time.  Returns the shard
        manifest DataFrame (href, sha256, sample counts, status)."""
        from rasteret_spark.operators import shard_sink

        px = self.mosaic(
            bbox, size, xres, bands=bands, method=method,
            date_range=date_range, grid_epsg=grid_epsg,
        )
        return shard_sink.write_tar_shards(
            px, out_dir, n_shards=n_shards, **sink_kwargs
        )

    def band_stats(
        self, bbox, size: int, xres: float, bands=(0,), method: str = "nearest",
        date_range: tuple | None = None, grid_epsg: int | str | None = None,
        **stats_kwargs,
    ) -> DataFrame:
        """Dataset-wide per-band normalization constants (mean/std/range/
        coverage) over the query window's mosaic pixels
        (`band_math.global_band_stats` — per-row JVM folds, one tiny
        shuffle of partials)."""
        from pyspark.sql import functions as F

        from rasteret_spark.operators import band_math

        px = self.mosaic(
            bbox, size, xres, bands=bands, method=method,
            date_range=date_range, grid_epsg=grid_epsg,
        ).filter(F.col("values").isNotNull())
        return band_math.global_band_stats(px, **stats_kwargs)

    def to_image_shards(
        self, out_dir: str, n_shards: int = 8, *,
        caption_col: str | None = "caption", **sink_kwargs,
    ) -> DataFrame:
        """Export the collection's images (+ captions, byte-for-byte) as
        WebDataset-style tar shards — <id>.npy/<id>.txt/<id>.json samples
        (`operators/shard_sink.write_image_shards`).  Returns the shard
        manifest DataFrame."""
        from rasteret_spark.operators import shard_sink

        # only the implicit default degrades to caption-less export when the
        # column is absent; an explicitly named column must exist (a typo'd
        # caption_col raising beats silently shipping shards without captions)
        if caption_col == "caption" and "caption" not in self.records.columns:
            caption_col = None
        return shard_sink.write_image_shards(
            self.records, out_dir, n_shards=n_shards,
            caption_col=caption_col, **sink_kwargs,
        )

    def chips(
        self, bbox, size: int, xres: float, stride: int | None = None,
        random_n: int | None = None, seed: int = 0, bands=(0,),
        t_start=None, t_end=None, t_step: int = 1, method: str = "nearest",
        grid_epsg: int | str | None = None,
    ) -> DataFrame:
        """[T, C, H, W] chip stacks for a grid or random sampler over the
        query bbox — the ``to_torchgeo_dataset`` analogue.  Pair with
        ``operators.assemble.chip_batches`` for DataLoader-style batches.
        ``grid_epsg`` as in :meth:`mosaic` (None / "auto" / int)."""
        from rasteret_spark.operators import chips as chp, spatial_join as sj

        gbox, gxres, epsg = self._resolve_grid(bbox, xres, grid_epsg)
        reqs = chp.chip_requests(
            self.spark, gbox, size, gxres, stride=stride, random_n=random_n,
            seed=seed, grid_epsg=epsg,
        )
        return chp.chip_serve(
            reqs, sj.image_light(self.records), self.records,
            t_start=t_start, t_end=t_end, t_step=t_step, bands=bands, method=method,
        )

    def band_index(
        self, bbox, size: int, xres: float, band_a: int, band_b: int,
        kind: str = "nd", out_col: str | None = None, **mosaic_kwargs,
    ) -> DataFrame:
        """Mosaic two bands over ``bbox`` and compute a per-pixel band index
        distributed — the quickstart-NDVI flow (the reference assembles an
        xarray first and does ``(B5-B4)/(B5+B4)`` on the driver,
        `examples/landsat_xarray.py:58`; here the arithmetic is Catalyst
        ``zip_with`` on the executors, `operators/band_math.py`).

        ``kind``: ``"nd"`` (normalized difference) or ``"ratio"``.  Extra
        kwargs pass through to :meth:`mosaic` (date_range, method,
        grid_epsg, ...).  Output: one row per chip with the index array,
        grid georeferencing and filled/mean/min/max stats."""
        from rasteret_spark.operators import band_math as bm

        per_band = self.mosaic(
            bbox, size, xres, bands=(band_a, band_b), **mosaic_kwargs
        )
        if kind == "nd":
            return bm.normalized_difference(
                per_band, band_a, band_b, out_col=out_col or "nd"
            )
        if kind == "ratio":
            return bm.band_ratio(
                per_band, band_a, band_b, out_col=out_col or "ratio"
            )
        raise ValueError(f"unknown index kind {kind!r} (want 'nd' or 'ratio')")

    def pixel_series(
        self, points: DataFrame, bands=(0,), max_ring: int = 0,
    ) -> DataFrame:
        """Per-point temporal drill: sample every containing image and fold
        the valid observations into one chronological series row per
        (point, band) — `operators/sampling.point_time_series`."""
        from rasteret_spark.operators import sampling

        samples = sampling.sample_join(
            self.records, points, res=8, max_ring=max_ring, bands=tuple(bands)
        )
        return sampling.point_time_series(
            samples, self.records.select("image_id", "datetime")
        )

    def composite(
        self, bbox, size: int, xres: float, stat: str = "median",
        bands=(0,), **chip_kwargs,
    ) -> DataFrame:
        """Per-pixel temporal composite (median/mean/min/max/count) over the
        chip stacks for ``bbox`` — the cloud-free-composite flow: serve the
        [T, C, H, W] stack rows, then reduce across T with
        ``band_math.temporal_composite`` (one vectorized numpy pass per
        chip band, nulls skipped per pixel).  Extra kwargs pass to
        :meth:`chips` (t_start/t_end/t_step, stride, method, grid_epsg,
        ...)."""
        from rasteret_spark.operators import band_math as bm

        stack = self.chips(bbox, size, xres, bands=bands, **chip_kwargs)
        return bm.temporal_composite(stack, stat=stat)

    def focal(
        self, bbox, size: int, xres: float, stat: str = "mean",
        radius: int = 1, bands=(0,), **mosaic_kwargs,
    ) -> DataFrame:
        """Mosaic ``bands`` over ``bbox`` and run a moving-window statistic
        (focal mean/min/max/sum/count) over every chip — nodata-tolerant
        smoothing / texture features computed where the pixels are
        (`operators/focal.py`: one vectorized numpy pass per chip in one
        ``mapInPandas``, zero added shuffles).  Extra kwargs pass to
        :meth:`mosaic` (date_range, method, grid_epsg, ...)."""
        from rasteret_spark.operators import focal as fo

        per_band = self.mosaic(bbox, size, xres, bands=bands, **mosaic_kwargs)
        return fo.focal_stats(per_band, stat=stat, radius=radius)

    def change(
        self, bbox, size: int, xres: float, split_ts, stat: str = "median",
        threshold: float | None = None, bands=(0,), **chip_kwargs,
    ) -> DataFrame:
        """Two-epoch per-pixel change detection over the chip stacks for
        ``bbox``: composite the scenes before/after ``split_ts`` with the
        same statistic and delta them per pixel (plus changed-pixel counts
        when ``threshold`` is given) — `operators/band_math.change_detect`
        over :meth:`chips` rows, one shuffle, one ``mapInPandas``."""
        from rasteret_spark.operators import band_math as bm

        stack = self.chips(bbox, size, xres, bands=bands, **chip_kwargs)
        return bm.change_detect(
            stack, split_ts, stat=stat, threshold=threshold
        )

    def trend(
        self, bbox, size: int, xres: float, bands=(0,),
        per_seconds: float = 86400.0, **chip_kwargs,
    ) -> DataFrame:
        """Per-pixel least-squares temporal trend (OLS slope/intercept of
        value ~ days) over the chip stacks for ``bbox`` — the
        greening/drift screen, `operators/band_math.temporal_trend` over
        :meth:`chips` rows (one shuffle, deterministic folds)."""
        from rasteret_spark.operators import band_math as bm

        stack = self.chips(bbox, size, xres, bands=bands, **chip_kwargs)
        return bm.temporal_trend(stack, per_seconds=per_seconds)

    def terrain(
        self, bbox, size: int, xres: float,
        outs=("slope", "aspect", "hillshade"), z_factor: float = 1.0,
        altitude: float = 45.0, azimuth: float = 315.0, bands=(0,),
        **mosaic_kwargs,
    ) -> DataFrame:
        """Mosaic ``bands`` over ``bbox`` and derive gdaldem-style terrain
        products (Horn gradients, slope, compass aspect, hillshade) per
        pixel — `operators/focal.terrain`, one ``mapInPandas`` with zero
        added shuffles.  Extra kwargs pass to :meth:`mosaic`."""
        from rasteret_spark.operators import focal as fo

        per_band = self.mosaic(bbox, size, xres, bands=bands, **mosaic_kwargs)
        return fo.terrain(
            per_band, outs=tuple(outs), z_factor=z_factor,
            altitude=altitude, azimuth=azimuth,
        )

    def qa_mask(
        self, bbox, size: int, xres: float, data_band: int = 0,
        qa_band: int = 1, bit: int = 1, **mosaic_kwargs,
    ) -> DataFrame:
        """Mosaic a data band and a QA band over ``bbox`` and null every
        data pixel whose QA pixel has ``bit`` set (or is missing) — the
        Landsat QA_PIXEL / Sentinel SCL cloud-mask flow executed where the
        pixels are (`operators/band_math.qa_mask`: one pivot shuffle, pure
        Catalyst bit math)."""
        from rasteret_spark.operators import band_math as bm

        per_band = self.mosaic(
            bbox, size, xres, bands=(data_band, qa_band), **mosaic_kwargs
        )
        return bm.qa_mask(
            per_band, data_band=data_band, qa_band=qa_band, bit=bit
        )

    def normalize(
        self, bbox, size: int, xres: float, p_lo: float = 0.02,
        p_hi: float = 0.98, bands=(0,), **mosaic_kwargs,
    ) -> DataFrame:
        """Mosaic ``bands`` over ``bbox`` and robust-stretch every chip to
        [0, 1] (clip at the per-chip ``p_lo``/``p_hi`` quantiles) — the
        training-chip normalization pass, `operators/band_math.stretch`,
        zero added shuffles."""
        from rasteret_spark.operators import band_math as bm

        per_band = self.mosaic(bbox, size, xres, bands=bands, **mosaic_kwargs)
        return bm.stretch(per_band, p_lo=p_lo, p_hi=p_hi)

    def histogram(
        self, bbox, size: int, xres: float, lo: float, hi: float,
        n_bins: int = 8, bands=(0,), **mosaic_kwargs,
    ) -> DataFrame:
        """Per-chip fixed-bin pixel histograms over ``bbox`` — the dataset
        balance / domain-shift fingerprint,
        `operators/band_math.chip_histogram`, zero added shuffles."""
        from rasteret_spark.operators import band_math as bm

        per_band = self.mosaic(bbox, size, xres, bands=bands, **mosaic_kwargs)
        return bm.chip_histogram(per_band, lo=lo, hi=hi, n_bins=n_bins)

    def train_split(
        self, df: DataFrame, key_col: str = "chip_id",
        fractions=(0.8, 0.1, 0.1), names=("train", "val", "test"),
        salt: str = "",
    ) -> DataFrame:
        """Deterministic train/val/test assignment for any chip table this
        collection produced: hash-bucket ``key_col`` so every row lands in
        the same split across runs, partitionings and appends —
        `operators/splits.assign_split`, a pure projection."""
        from rasteret_spark.operators import splits as sp

        return sp.assign_split(
            df, key_col=key_col, fractions=tuple(fractions),
            names=tuple(names), salt=salt,
        )

    def gap_fill(self, bbox, size: int, xres: float, bands=(0,), **chip_kwargs):
        """Serve [T, C, H, W] chip stacks with per-pixel temporal gaps
        repaired: interior nulls interpolate linearly in time between their
        nearest valid neighbours, edges copy the nearest valid —
        `operators/timeseries.gap_fill` over :meth:`chips` rows."""
        from pyspark.sql import functions as F  # noqa: N812

        from rasteret_spark.operators.timeseries import gap_fill

        stack = self.chips(bbox, size, xres, bands=bands, **chip_kwargs)
        return gap_fill(stack.filter(F.col("status") == "ok"))

    def label_masks(
        self, bbox, size: int, xres: float, aois: DataFrame,
        class_col: str = "crop", classes=None, stride: int | None = None,
        grid_epsg: int | str | None = None,
    ) -> DataFrame:
        """Segmentation label masks for the ``bbox`` chip grid: each pixel
        takes the class of its first containing AOI polygon (aoi_id order;
        0 = background) — the label side of an (imagery, label) training
        pair on the same grid :meth:`chips` serves imagery for
        (`operators/labels.label_masks`).  ``bbox``/``xres`` are lon/lat and
        resolve through the SAME grid rules as :meth:`chips`
        (``grid_epsg=None`` lon/lat, ``"auto"`` most-common CRS, int that
        CRS) so labels always align with the imagery chips."""
        from rasteret_spark.operators import chips as ch
        from rasteret_spark.operators.labels import label_masks

        gbox, gxres, epsg = self._resolve_grid(bbox, xres, grid_epsg)
        grid = ch.chip_requests(
            self.spark, gbox, size, gxres, stride=stride, grid_epsg=epsg
        )
        return label_masks(grid, aois, class_col=class_col, classes=classes)

    def chip_batches(self, batch_size: int = 8, **chip_kwargs):
        """Stream assembled ([T, C, H, W], attrs) batches to the driver."""
        from rasteret_spark.operators import assemble

        return assemble.chip_batches(self.chips(**chip_kwargs), batch_size=batch_size)

    def to_torch_dataset(self, cache_dir: str, **chip_kwargs):
        """Stage chips to ``cache_dir`` and return a map-style dataset a
        real ``torch.utils.data.DataLoader`` consumes directly (the
        map-style protocol is duck-typed: ``__len__`` + ``__getitem__``) —
        the ``to_torchgeo_dataset`` analogue
        (`src/rasteret/integrations/torchgeo.py:292-299`) without a torch
        dependency.  Reopen later/in workers with
        ``ChipDataset.from_cache(cache_dir)``."""
        from rasteret_spark.compat.torchdata import ChipDataset

        return ChipDataset.stage(self.chips(**chip_kwargs), cache_dir)

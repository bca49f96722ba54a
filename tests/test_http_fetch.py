"""Builtin pooled http(s) fetcher: connection reuse, ranged GETs, retry and
quarantine semantics — against a real in-process HTTP server."""

import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import numpy as np
import pytest

from rasteret_spark.format import tiff
from rasteret_spark.format import tiffwrite as tw
from rasteret_spark.sources import fetch as fx


class _Handler(BaseHTTPRequestHandler):
    protocol_version = "HTTP/1.1"  # keep-alive: one handler per CONNECTION
    server_version = "testsrv/1.0"
    files: dict = {}
    stats: dict = {}

    def setup(self):
        type(self).stats["connections"] = type(self).stats.get("connections", 0) + 1
        super().setup()

    def log_message(self, *a):  # quiet
        pass

    def do_GET(self):  # noqa: N802
        st = type(self).stats
        st["requests"] = st.get("requests", 0) + 1
        path = self.path
        if path.startswith("/flaky/"):
            n = st.setdefault("flaky_hits", {}).setdefault(path, 0)
            st["flaky_hits"][path] += 1
            if n < 2:  # two 503s, then serve
                self.send_response(503)
                self.send_header("Content-Length", "0")
                self.end_headers()
                return
            path = path[len("/flaky") :]
        if path == "/redirect":
            self.send_response(302)
            self.send_header("Location", "/plain")
            self.send_header("Content-Length", "0")
            self.end_headers()
            return
        blob = type(self).files.get(path)
        if blob is None:
            self.send_response(404)
            self.send_header("Content-Length", "0")
            self.end_headers()
            return
        rng = self.headers.get("Range")
        if rng and rng.startswith("bytes="):
            a, b = rng[len("bytes=") :].split("-")
            lo, hi = int(a), min(int(b), len(blob) - 1)
            body = blob[lo : hi + 1]
            st["range_bytes"] = st.get("range_bytes", 0) + len(body)
            self.send_response(206)
            self.send_header("Content-Range", f"bytes {lo}-{hi}/{len(blob)}")
        else:
            body = blob
            self.send_response(200)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)


@pytest.fixture()
def http_server():
    class H(_Handler):
        files = {}
        stats = {}

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    try:
        yield base, H
    finally:
        srv.shutdown()
        srv.server_close()
        fx._HTTP_POOL.clear()  # do not leak sockets into the next test


def test_connection_reuse_across_requests(http_server):
    """The whole point of the pool: N requests to one origin ride ONE
    connection (the reference's per-origin pooled clients,
    `src/rasteret/fetch/cog.py:200-333`)."""
    base, H = http_server
    H.files["/plain"] = b"x" * 1000
    fx._HTTP_POOL.clear()
    for _ in range(10):
        assert fx._fetch_http(f"{base}/plain") == b"x" * 1000
    for off in range(0, 1000, 100):
        assert fx.http_range(f"{base}/plain", off, 50) == b"x" * 50
    assert H.stats["connections"] == 1
    assert H.stats["requests"] == 20


def test_range_requests_return_exact_slices(http_server):
    base, H = http_server
    payload = bytes(range(256)) * 8
    H.files["/blob"] = payload
    assert fx.http_range(f"{base}/blob", 0, 16) == payload[:16]
    assert fx.http_range(f"{base}/blob", 777, 99) == payload[777 : 777 + 99]
    # read off the end clamps like a file read
    tail = fx.http_range(f"{base}/blob", len(payload) - 10, 50)
    assert tail == payload[-10:]


def test_redirect_and_404(http_server):
    base, H = http_server
    H.files["/plain"] = b"hello"
    assert fx._fetch_http(f"{base}/redirect") == b"hello"
    with pytest.raises(fx.HTTPStatusError) as ei:
        fx._fetch_http(f"{base}/missing")
    assert ei.value.code == 404
    assert not fx.is_transient(ei.value)  # permanent: no retry latency


def test_transient_503_retries_then_recovers(http_server):
    base, H = http_server
    H.files["/doc"] = b"payload"
    blob, used = fx.fetch_with_retry(
        f"{base}/flaky/doc", dict(fx._FETCHERS), attempts=4, base_delay=0.0,
        sleep=lambda s: None,
    )
    assert blob == b"payload"
    assert used == 3  # two 503s + success
    assert fx.is_transient(fx.HTTPStatusError(503, "u"))


def test_stale_keepalive_connection_is_redialed(http_server):
    base, H = http_server
    H.files["/plain"] = b"ok"
    assert fx._fetch_http(f"{base}/plain") == b"ok"
    # kill the pooled socket behind the fetcher's back (server idle-closes
    # keep-alive connections all the time in the real world)
    for conn in fx._HTTP_POOL.values():
        conn.close()
    assert fx._fetch_http(f"{base}/plain") == b"ok"  # silent re-dial, no error


def test_remote_tiff_header_parse_is_ranged_not_downloaded(http_server):
    """COG economics end-to-end: parsing a remote TIFF header + reading one
    window must transfer KBs of ranged bytes, never the whole file."""
    base, H = http_server
    rng = np.random.default_rng(5)
    a = rng.integers(0, 60000, size=(512, 512)).astype(np.uint16)
    blob = tw.write_tiff(a, tile=(64, 64), compression="deflate", predictor=2,
                         pixel_scale=(10.0, 10.0), tiepoint=(0.0, 5120.0),
                         epsg=32633)
    H.files["/cog.tif"] = blob
    url = f"{base}/cog.tif"

    m = tiff.parse_tiff(fx.http_ranged_reader(url))
    assert (m.width, m.height) == (512, 512) and m.epsg == 32633
    header_bytes = H.stats.get("range_bytes", 0)
    assert header_bytes < 8192, header_bytes
    assert m.header_bytes_read == header_bytes  # parser accounting is honest

    # window read over the same transport: engine meta + ranged blob
    from rasteret_spark.format import miniraster as mr

    em = tiff.to_engine_meta(m)
    win = mr.CachedReader(fx.RangedBlob(url), em).window(100, 100, 64, 64)
    assert np.array_equal(np.asarray(win, dtype=a.dtype), a[100:164, 100:164])
    total = H.stats["range_bytes"]
    assert total < len(blob) / 4, (total, len(blob))


def test_fetch_blobs_over_http_with_quarantine(spark, http_server):
    """The distributed fetch stage resolves http hrefs executor-side; a 404
    row quarantines with its attempt count instead of failing the task."""
    base, H = http_server
    H.files["/a"] = b"alpha"
    H.files["/b"] = b"beta"
    df = spark.createDataFrame(
        [(f"{base}/a",), (f"{base}/b",), (f"{base}/nope",)], ["href"]
    )
    out = {r["href"].rsplit("/", 1)[1]: r
           for r in fx.fetch_blobs(df, attempts=2, base_delay=0.0).collect()}
    assert bytes(out["a"]["bytes"]) == b"alpha"
    assert bytes(out["b"]["bytes"]) == b"beta"
    assert out["a"]["fetch_status"] == "ok" and out["a"]["fetch_attempts"] == 1
    assert out["nope"]["bytes"] is None
    assert "404" in out["nope"]["fetch_status"]
    assert out["nope"]["fetch_attempts"] == 1  # permanent: failed fast


def test_remote_zonal_pipeline_no_full_downloads(spark, http_server):
    """Full remote raster pipeline: hrefs -> ranged header enrichment ->
    zonal over ranged tile reads.  Results equal the local-bytes pipeline
    row-for-row, and the server-observed transfer stays far below the blob
    total — no image ever downloads whole."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: N812

    from rasteret_spark.operators import decode
    from rasteret_spark.operators import spatial_join as sj
    from rasteret_spark.operators.enrich import enrich_headers_remote
    from rasteret_spark.sources import synthetic as syn

    base, H = http_server
    # mixed containers: mini-raster AND GeoTIFF blobs behind hrefs
    mrst = syn.images_table(6).to_pandas()
    tifs = syn.tiff_images_table(6).to_pandas()
    pdf = pd.concat([mrst, tifs], ignore_index=True)
    total_bytes = 0
    for _, row in pdf.iterrows():
        H.files[f"/{row['image_id']}"] = bytes(row["bytes"])
        total_bytes += len(row["bytes"])
    pdf["href"] = pdf["image_id"].map(lambda i: f"{base}/{i}")

    images_local = spark.createDataFrame(pdf[["image_id", "bytes", "caption"]])
    images_remote = spark.createDataFrame(pdf[["image_id", "href", "caption"]])

    # ranged header enrichment: KBs per image
    enriched = enrich_headers_remote(images_remote).select(
        "image_id", "enrich_status", "meta",
    )
    rows = enriched.collect()
    assert all(r["enrich_status"] == "ok" for r in rows)
    header_bytes = H.stats.get("range_bytes", 0)
    assert 0 < header_bytes < total_bytes / 20, (header_bytes, total_bytes)

    img_light = spark.createDataFrame(
        pdf[["image_id", "xmin", "ymin", "xmax", "ymax"]].rename(
            columns={c: f"img_{c}" for c in ["xmin", "ymin", "xmax", "ymax"]}
        )
    )
    aoi = spark.createDataFrame(syn.aois_table(25).to_pandas()).select(
        "aoi_id", F.col("geometry").alias("aoi_geometry"),
        F.col("xmin").alias("aoi_xmin"), F.col("ymin").alias("aoi_ymin"),
        F.col("xmax").alias("aoi_xmax"), F.col("ymax").alias("aoi_ymax"),
    )
    cands = sj.bbox_join(img_light, aoi, res=7)
    refined = sj.refine_rect_polygon(cands).filter(F.col("intersects")).select(
        "image_id", "aoi_id", "aoi_geometry",
        "aoi_xmin", "aoi_ymin", "aoi_xmax", "aoi_ymax",
    )

    key = ["image_id", "aoi_id", "band"]
    local = decode.zonal_stats(refined, images_local).toPandas().sort_values(
        key).reset_index(drop=True)
    # remote WITH pre-enriched meta: tile ranges only, headers never re-read
    remote = decode.zonal_stats(
        refined,
        images_remote.join(
            enriched.filter(F.col("enrich_status") == "ok").select("image_id", "meta"),
            "image_id",
        ),
    ).toPandas().sort_values(key).reset_index(drop=True)
    assert len(local) > 0 and len(local) == len(remote)
    for col in ["px_count", "valid_count", "v_sum", "v_mean", "status"]:
        pd.testing.assert_series_equal(local[col], remote[col], check_names=False)
    assert (remote["status"] == "ok").any()
    total_fetched = H.stats.get("range_bytes", 0)
    assert total_fetched < total_bytes / 2, (total_fetched, total_bytes)

    # remote WITHOUT meta: headers parse through ranged reads inside zonal
    remote2 = decode.zonal_stats(refined, images_remote).toPandas().sort_values(
        key).reset_index(drop=True)
    for col in ["px_count", "valid_count", "v_sum", "status"]:
        pd.testing.assert_series_equal(local[col], remote2[col], check_names=False)


def test_remote_enrich_quarantines_bad_href(spark, http_server):
    base, H = http_server
    from rasteret_spark.operators.enrich import enrich_headers_remote
    from rasteret_spark.sources import synthetic as syn

    row = syn.make_image_row(0)
    H.files["/good"] = bytes(row["bytes"])
    df = spark.createDataFrame([(f"{base}/good",), (f"{base}/gone",)], ["href"])
    out = {r["href"].rsplit("/", 1)[1]: r for r in enrich_headers_remote(df).collect()}
    assert out["good"]["enrich_status"] == "ok"
    assert out["good"]["meta"]["width"] == row["w"]
    assert out["gone"]["meta"] is None
    assert "404" in out["gone"]["enrich_status"]

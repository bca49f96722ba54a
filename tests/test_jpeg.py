"""Baseline JPEG codec: internal-consistency oracles, real-libjpeg interop
(including a pixel cross-check against Java ImageIO — a fully independent
second implementation), and the JPEG-in-TIFF container matrix.

The reference reaches JPEG tiles through imagecodecs
(`src/rasteret/fetch/cog.py:843-966`); this engine implements the baseline
process (T.81) in pure numpy/stdlib — see format/jpegcodec.py.
"""

import glob
import os

import numpy as np
import pytest

from rasteret_spark.format import codecs, container, jpegcodec as J, miniraster as mr
from rasteret_spark.format import tiff, tiffwrite

SPARK_IMAGES = "/opt/spark-4.1.2-bin-hadoop3/data/mllib/images/origin"


def _gray(h=120, w=200, noise=2.0, seed=42):
    rng = np.random.default_rng(seed)
    y, x = np.mgrid[0:h, 0:w]
    img = 128 + 90 * np.sin(x / 23.0) * np.cos(y / 17.0)
    return (img + rng.normal(0, noise, (h, w))).clip(0, 255).astype(np.uint8)


def decode_coefficients(buf: bytes) -> list[np.ndarray]:
    """Entropy-decode only: per-component (n_blocks, 64) quantized zigzag
    coefficients.  The entropy layer is lossless, so for a stream produced
    by :func:`jpegcodec.encode` these match the encoder's quantized
    coefficients EXACTLY — the internal-consistency oracle below."""
    buf = bytes(buf)
    st = J._ParseState()
    scan_off = J._parse_segments(buf, st)
    if scan_off is None or st.frame is None:
        raise ValueError("JPEG stream has no scan/frame")
    coefs, _, _, _ = J._decode_all_scans(buf, scan_off, st)
    return coefs


def _rgb():
    g = _gray()
    return np.stack([g, g[::-1], np.roll(g, 31, axis=1)], axis=-1)


# --- pure-codec oracles -------------------------------------------------------
class TestCodec:
    def test_coefficients_roundtrip_exact(self):
        """The entropy layer is lossless: decoding recovers the encoder's
        quantized coefficients EXACTLY (loss lives only in quantization)."""
        img = _gray()
        b = J.encode(img, quality=90)
        zz, _, _ = J._quantize_plane(img, J.scaled_qtable(J.QTBL_LUMA, 90))
        (coefs,) = decode_coefficients(b)
        assert np.array_equal(coefs, zz)

    def test_gray_psnr_gate(self):
        img = _gray(noise=1.0)
        out = J.decode(J.encode(img, quality=92))
        assert out.shape == img.shape and out.dtype == np.uint8
        assert codecs.psnr(img, out, peak=255) >= 40.0

    def test_color_roundtrip(self):
        img = _rgb()
        out = J.decode(J.encode(img, quality=95))
        assert out.shape == img.shape
        assert codecs.psnr(img, out, peak=255) >= 40.0

    def test_quality_monotone(self):
        img = _gray(noise=1.0)
        p = [
            codecs.psnr(img, J.decode(J.encode(img, quality=q)), peak=255)
            for q in (30, 60, 90)
        ]
        assert p[0] < p[1] < p[2]
        sizes = [len(J.encode(img, quality=q)) for q in (30, 60, 90)]
        assert sizes[0] < sizes[1] < sizes[2]

    def test_abbreviated_stream_matches_full(self):
        img = _gray()
        full = J.decode(J.encode(img, quality=90))
        tables = J.encode_tables(quality=90, color=False)
        abbrev = J.encode(img, quality=90, include_tables=False)
        assert len(abbrev) < len(J.encode(img, quality=90))
        assert np.array_equal(J.decode(abbrev, tables=tables), full)

    def test_abbreviated_without_tables_fails_clearly(self):
        img = _gray()
        abbrev = J.encode(img, quality=90, include_tables=False)
        with pytest.raises(ValueError, match="tables"):
            J.decode(abbrev)

    def test_odd_dimensions_pad_and_crop(self):
        img = _gray(h=37, w=53)
        out = J.decode(J.encode(img, quality=95))
        assert out.shape == (37, 53)

    def test_non_uint8_rejected(self):
        with pytest.raises(ValueError, match="uint8"):
            J.encode(np.zeros((16, 16), dtype=np.uint16))

    def test_not_a_jpeg_rejected(self):
        with pytest.raises(ValueError, match="SOI"):
            J.decode(b"\x89PNG\r\n" + b"\x00" * 64)


# --- real libjpeg-produced files (Apache Spark distribution data) ------------
@pytest.mark.skipif(
    not os.path.isdir(SPARK_IMAGES), reason="Spark sample images not present"
)
class TestLibjpegInterop:
    def _files(self):
        return sorted(
            p
            for p in glob.glob(f"{SPARK_IMAGES}/**/*.jpg", recursive=True)
            if "grayscale" not in p  # that one is progressive — own tests below
        )

    def test_decodes_real_420_files(self):
        files = self._files()
        assert len(files) >= 4
        for p in files:
            out = J.decode(open(p, "rb").read())
            assert out.ndim == 3 and out.dtype == np.uint8
            assert out.std() > 20  # real photo, not garbage
            # re-encode self-consistency: a correct decode survives a
            # high-quality re-encode nearly unchanged
            out2 = J.decode(J.encode(out, quality=95))
            assert codecs.psnr(out, out2, peak=255) >= 40.0

    def test_progressive_gray_decodes(self):
        """The distribution's one progressive (SOF2) file: 6 scans with DC
        first+refine, AC band first passes, and AC+DC refinement."""
        p = f"{SPARK_IMAGES}/multi-channel/grayscale.jpg"
        out = J.decode(open(p, "rb").read())
        assert out.shape == (215, 300) and out.dtype == np.uint8
        assert out.std() > 20

    def test_progressive_gray_matches_java_imageio(self, spark):
        """Progressive pixels vs javax.imageio's independent decoder: for a
        grayscale file (no chroma-upsampling ambiguity) the two must agree
        to within ±1 at every pixel."""
        p = f"{SPARK_IMAGES}/multi-channel/grayscale.jpg"
        r = (
            spark.read.format("image").load(p)
            .select("image.height", "image.width", "image.nChannels",
                    "image.data")
            .first()
        )
        ref = np.frombuffer(bytes(r.data), dtype=np.uint8).reshape(
            r.height, r.width, r.nChannels
        )[..., 0]
        mine = J.decode(open(p, "rb").read())
        assert int(np.abs(mine.astype(int) - ref.astype(int)).max()) <= 1

    def test_progressive_color_roundtrip_via_imageio_writer(self, spark, tmp_path):
        """Full multi-component progressive coverage: have javax.imageio
        WRITE a progressive color JPEG (interleaved DC scan + per-component
        AC band/refinement scans), then require this decoder to match
        ImageIO's own decode of it to within ±1 per pixel."""
        jvm = spark._jvm
        src = f"{SPARK_IMAGES}/kittens/54893.jpg"
        dst = str(tmp_path / "progressive_color.jpg")
        File = jvm.java.io.File
        ImageIO = jvm.javax.imageio.ImageIO
        img = ImageIO.read(File(src))
        writer = ImageIO.getImageWritersByFormatName("jpeg").next()
        params = writer.getDefaultWriteParam()
        params.setProgressiveMode(jvm.javax.imageio.ImageWriteParam.MODE_DEFAULT)
        ios = ImageIO.createImageOutputStream(File(dst))
        writer.setOutput(ios)
        writer.write(None, jvm.javax.imageio.IIOImage(img, None, None), params)
        ios.close()
        writer.dispose()
        blob = open(dst, "rb").read()
        assert blob.find(b"\xff\xc2") > 0  # really SOF2
        r = (
            spark.read.format("image").load(dst)
            .select("image.height", "image.width", "image.nChannels",
                    "image.data")
            .first()
        )
        ref = np.frombuffer(bytes(r.data), dtype=np.uint8).reshape(
            r.height, r.width, r.nChannels
        )[..., ::-1]  # BGR -> RGB
        mine = J.decode(blob)
        assert mine.shape == ref.shape
        assert int(np.abs(mine.astype(int) - ref.astype(int)).max()) <= 1

    def test_unsupported_sof_rejected_clearly(self):
        # craft an SOF3 (lossless) header: must fail loudly, not garble
        sof3 = bytes([0xFF, 0xD8, 0xFF, 0xC3, 0x00, 0x0B, 8, 0, 16, 0, 16,
                      1, 1, 0x11, 0])
        with pytest.raises(ValueError, match="SOF3|not\\s+supported"):
            J.decode(sof3 + bytes([0xFF, 0xD9]))

    def test_pixels_match_java_imageio(self, spark):
        """Cross-implementation oracle: Spark's `image` source decodes JPEG
        via javax.imageio (pure-JVM, fully independent of this codec).  The
        two decoders must agree to >=45 dB on every baseline sample file
        (remaining difference is chroma-upsampling choice)."""
        rows = (
            spark.read.format("image")
            .load(f"{SPARK_IMAGES}/kittens/*.jpg")
            .select("image.origin", "image.height", "image.width",
                    "image.nChannels", "image.data")
            .collect()
        )
        assert len(rows) >= 4
        for r in rows:
            ref = (
                np.frombuffer(bytes(r.data), dtype=np.uint8)
                .reshape(r.height, r.width, r.nChannels)[..., ::-1]  # BGR
            )
            mine = J.decode(open(r.origin.replace("file:", ""), "rb").read())
            assert mine.shape == ref.shape
            assert codecs.psnr(ref, mine, peak=255) >= 45.0


# --- JPEG in the TIFF container ----------------------------------------------
class TestJpegTiff:
    @pytest.mark.parametrize("tables_mode", [0, 1])
    @pytest.mark.parametrize("bigtiff", [False, True])
    def test_gray_tiled_roundtrip(self, tables_mode, bigtiff):
        img = _gray(150, 220)
        b = tiffwrite.write_tiff(
            img, tile=(64, 64), compression="jpeg", jpeg_quality=92,
            jpeg_tables_mode=tables_mode, bigtiff=bigtiff,
            pixel_scale=(10.0, 10.0), tiepoint=(500000.0, 4500000.0),
            epsg=32633,
        )
        m = tiff.parse_tiff_bytes(b)
        assert m.compression == 7
        assert (m.jpeg_tables is not None) == (tables_mode == 1)
        out = container.decode_full(b)
        assert codecs.psnr(img, out, peak=255) >= 40.0
        # engine meta carries the tables for the distributed byte-range path
        em = tiff.to_engine_meta(m)
        assert em.compression == codecs.COMP_JPEG
        assert (em.jpeg_tables is not None) == (tables_mode == 1)
        win = mr.CachedReader(b, em).window(30, 20, 100, 90)
        assert codecs.psnr(img[20:110, 30:130], win, peak=255) >= 40.0

    def test_stripped_layout(self):
        img = _gray(150, 220)
        b = tiffwrite.write_tiff(
            img, rows_per_strip=48, compression="jpeg", jpeg_quality=92,
            jpeg_tables_mode=1,
        )
        assert codecs.psnr(img, container.decode_full(b), peak=255) >= 40.0

    @pytest.mark.parametrize("tables_mode", [0, 1])
    def test_chunky_rgb_photometric6(self, tables_mode):
        img = _rgb()
        b = tiffwrite.write_tiff(
            img, tile=(64, 64), compression="jpeg", jpeg_quality=95,
            jpeg_tables_mode=tables_mode, interleaved=True,
        )
        m = tiff.parse_tiff_bytes(b)
        assert m.photometric == 6  # stored as YCbCr, like real COG writers
        out = container.decode_full(b)
        assert out.shape == img.shape
        assert codecs.psnr(img, out, peak=255) >= 40.0

    def test_jpeg_rejects_wide_samples(self):
        with pytest.raises(ValueError, match="uint8"):
            tiffwrite.write_tiff(
                np.zeros((32, 32), dtype=np.uint16), compression="jpeg"
            )
        # and the reader side: a 16-bit JPEG TIFF can't reach the engine
        img = _gray(64, 64)
        b = tiffwrite.write_tiff(img, tile=(32, 32), compression="jpeg")
        m = tiff.parse_tiff_bytes(b)
        object.__setattr__(m, "bits_per_sample", 16)
        with pytest.raises(ValueError, match="8-bit"):
            tiff.to_engine_meta(m)


# --- JPEG as a mini-raster codec ---------------------------------------------
class TestJpegMiniraster:
    def test_roundtrip_and_window(self):
        img = _gray(150, 220)
        blob = mr.encode_image(
            img, tile_w=64, tile_h=64, compression=codecs.COMP_JPEG,
            qstep=92.0,  # for COMP_JPEG, qstep carries the JFIF quality
        )
        assert codecs.psnr(img, container.decode_full(blob), peak=255) >= 40.0
        r = mr.CachedReader(blob)
        win = r.window(30, 20, 100, 90)
        assert codecs.psnr(img[20:110, 30:130], win, peak=255) >= 40.0

    def test_lossy_registration(self):
        assert codecs.COMP_JPEG in codecs.LOSSY_COMPS
        assert codecs.COMP_NAMES["jpeg"] == codecs.COMP_JPEG

    def test_default_qstep_maps_to_q90(self):
        assert codecs._jpeg_quality(1.0) == 90
        assert codecs._jpeg_quality(75.0) == 75
        assert codecs._jpeg_quality(101.0) == 90

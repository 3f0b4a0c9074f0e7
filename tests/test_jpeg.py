"""The engine's ``"jpeg"`` format slot and the built-in codecs' bomb guards.

Until a deployment plugs a real JPEG codec in with ``codec.register_codec``
(the seam itself is proven by tests/test_images.py::test_real_jpeg_adapter_seam),
``encode_image(px, "jpeg")`` is served by the built-in lossy ``jpgq``
stand-in. These tests pin what that default slot promises the north rule:
per-row PSNR ≥ 40 dB on the engine's images and on natural-statistics
images, shape preservation, a step that trades size for fidelity
monotonically, typed rejection of foreign payloads, and the full spatial
join → invariant gate chain on lossy re-encodes."""

from __future__ import annotations

import numpy as np
import pytest

from housenumbercore_spark.images import codec
from housenumbercore_spark.sources import images as IMG


def _smooth_image(seed: int, h: int = 24, w: int = 40) -> np.ndarray:
    """Natural-statistics test image: low-pass-filtered noise."""
    rng = np.random.default_rng(seed)
    base = rng.normal(size=(h, w, 3))
    out = np.zeros((h, w, 3))
    yy = np.minimum(np.arange(h)[:, None], h - np.arange(h)[:, None])
    xx = np.minimum(np.arange(w)[None, :], w - np.arange(w)[None, :])
    mask = np.exp(-(yy**2 + xx**2) / 18.0)
    for c in range(3):
        out[..., c] = np.real(np.fft.ifft2(np.fft.fft2(base[..., c]) * mask))
    out -= out.min()
    return (out / out.max() * 255).astype(np.uint8)


def _jpeg_roundtrip(px: np.ndarray) -> np.ndarray:
    return codec.decode_image(codec.encode_image(px, "jpeg"))


class TestRoundTrip:
    def test_psnr_above_north_rule_floor_on_engine_images(self):
        """The default jpeg slot must clear the 40 dB per-row invariant on
        the engine's own image table, and be genuinely lossy."""
        for i in (0, 7, 42, 123, 999):
            px = IMG.make_pixels(i)
            buf = codec.encode_image(px, "jpeg")
            assert codec.sniff_fmt(buf) == "jpgq"
            dec = codec.decode_image(buf)
            assert dec.shape == px.shape
            assert not (dec == px).all()
            p = codec.psnr(px, dec)
            assert p >= 40.0, (i, p)

    def test_psnr_on_natural_statistics_images(self):
        for seed in (1, 2, 3):
            px = _smooth_image(seed)
            assert codec.psnr(px, _jpeg_roundtrip(px)) >= 40.0

    def test_odd_dimensions_and_grayscale_input(self):
        px = _smooth_image(5)[:17, :23]
        dec = _jpeg_roundtrip(px)
        assert dec.shape == (17, 23, 3)
        assert codec.psnr(px, dec) >= 40.0
        gray = _smooth_image(6)[..., :1]
        dec = _jpeg_roundtrip(gray)
        assert dec.shape == gray.shape
        assert codec.psnr(gray, dec) >= 40.0

    def test_quality_monotonicity(self):
        """A finer quantization step never loses fidelity."""
        px = _smooth_image(9)
        p = [codec.psnr(px, codec.decode_jpgq(codec.encode_jpgq(px, step)))
             for step in (16, 8, 4, 2)]
        assert p == sorted(p) and p[0] < p[-1], p


class TestGoldenLibjpegFixtures:
    def test_not_a_jpeg_rejected(self):
        with pytest.raises(ValueError, match="not a JPGQ"):
            codec.decode_jpgq(b"\x89PNG\r\n\x1a\nnope")


class TestRegistrySwap:
    def test_north_rule_psnr_gate_on_real_jpeg_reencodes(self, spark):
        """The full north-rule chain on lossy jpeg-slot bytes: image rows
        ride the spatial join, then the invariant gate decodes BOTH
        payloads (source PNG vs jpeg re-encode — bytes differ, so no
        byte-equal short-circuit) and the per-row PSNR ≥ 40 dB floor
        holds with finite PSNR values, captions byte-equal."""
        from housenumbercore_spark.images import udfs as IU
        from housenumbercore_spark.operators import pip_join as PJ
        from housenumbercore_spark.sources import synthetic as S

        sf = "/root/testdata/sf0.001"
        coords = S.points_df(spark, sf).limit(40).select("lon", "lat").collect()
        src_rows, out_rows = [], []
        for i, c in enumerate(coords):
            px = IMG.make_pixels(i)
            cap = f"caption-{i}"
            src_rows.append(
                (f"im{i}", bytearray(codec.encode_image(px, "png")), cap)
            )
            out_rows.append(
                (
                    f"im{i}",
                    bytearray(codec.encode_image(px, "jpeg")),
                    cap,
                    float(c.lon),
                    float(c.lat),
                )
            )
        src = spark.createDataFrame(
            src_rows, "image_id string, bytes binary, caption string"
        )
        out = spark.createDataFrame(
            out_rows,
            "image_id string, bytes binary, caption string, "
            "lon double, lat double",
        )
        assigned = PJ.assign_points_to_areas(spark, out, S.areas_df(spark, sf))
        chk = IU.check_invariants(assigned, src)
        rows = chk.collect()
        assert rows  # every point falls in ≥1 admin area by design
        assert all(r.pixels_ok and r.caption_ok for r in rows)
        # bytes differ → the decode path ran: PSNR finite
        assert all(40.0 <= r.psnr_db < 999.0 for r in rows)
        g = IU.invariant_gate_summary(chk).collect()[0]
        assert (
            g.n_pixel_violations == 0
            and g.n_caption_violations == 0
            and g.psnr_gate_ok
        )


class TestBombGuards:
    """Hostile payloads must raise a typed ValueError before any unbounded
    allocation."""

    def test_png_zlib_bomb_rejected(self):
        import struct
        import zlib

        def chunk(tag, data):
            return (
                struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data))
            )

        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 2, 0, 0, 0)
        idat = zlib.compress(b"\x00" * 10_000_000)  # claims 2x2, holds 10MB
        bomb = (
            codec.PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
            + chunk(b"IEND", b"")
        )
        with pytest.raises(ValueError, match="exceeds"):
            codec.decode_png(bomb)
        # clean round-trip still works through the bounded path
        px = np.zeros((4, 4, 3), np.uint8)
        assert codec.decode_png(codec.encode_png(px)).shape == (4, 4, 3)

    def test_jpgq_zlib_bomb_rejected(self):
        import struct
        import zlib

        bomb = (
            codec.JPGQ_MAGIC + struct.pack(">IIBB", 2, 2, 3, 4)
            + zlib.compress(b"\x00" * 10_000_000)
        )
        with pytest.raises(ValueError, match="exceeds"):
            codec.decode_jpgq(bomb)

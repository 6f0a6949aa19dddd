"""Real decoders for codec-less formats (operators/media_codecs.py)
and their routing in the multimodal kernels."""

from __future__ import annotations

import struct
import zlib

import numpy as np
import pytest

from serverless_data_lake_spark.operators.media_codecs import (
    decode_bmp,
    decode_png,
    image_features,
)


# ---------------------------------------------------------------------------
# Fixture encoders (stdlib only — independent of the decoders under test)
# ---------------------------------------------------------------------------
def make_bmp(pixels: np.ndarray) -> bytes:
    """24-bit bottom-up BMP from (H, W, 3) uint8 RGB."""
    h, w, _ = pixels.shape
    stride = (w * 3 + 3) & ~3
    body = bytearray()
    for row in pixels[::-1]:  # bottom-up
        line = row[:, ::-1].tobytes()  # RGB -> BGR
        body += line + b"\x00" * (stride - len(line))
    header = struct.pack(
        "<2sIHHI", b"BM", 54 + len(body), 0, 0, 54
    ) + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                    2835, 2835, 0, 0)
    return header + bytes(body)


def _png_chunk(ctype: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + ctype
        + body
        + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)
    )


def make_png(pixels: np.ndarray, filters: list[int] | None = None) -> bytes:
    """8-bit RGB PNG from (H, W, 3) uint8, per-row filter choice
    (default all 0) — exercises the unfilter paths."""
    h, w, ch = pixels.shape
    filters = filters or [0] * h
    raw = bytearray()
    prev = np.zeros(w * ch, dtype=np.int32)
    for y in range(h):
        line = pixels[y].reshape(-1).astype(np.int32)
        f = filters[y]
        if f == 0:
            enc = line
        elif f == 1:
            px = line.reshape(w, ch)
            enc = np.concatenate(
                [px[:1], (px[1:] - px[:-1]) % 256]
            ).reshape(-1)
        elif f == 2:
            enc = (line - prev) % 256
        elif f in (3, 4):
            # Average / Paeth — per-byte loops (fixture images are tiny).
            n = line.shape[0]
            enc = np.zeros(n, dtype=np.int32)
            for i in range(n):
                a = int(line[i - ch]) if i >= ch else 0
                b = int(prev[i])
                if f == 3:
                    pred = (a + b) // 2
                else:
                    c = int(prev[i - ch]) if i >= ch else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = (
                        a if (pa <= pb and pa <= pc)
                        else (b if pb <= pc else c)
                    )
                enc[i] = (int(line[i]) - pred) % 256
        else:
            raise ValueError("test encoder supports filters 0-4")
        raw += bytes([f]) + bytes(enc.astype(np.uint8))
        prev = line
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


# ---------------------------------------------------------------------------
# Decoder unit tests
# ---------------------------------------------------------------------------
class TestBmp:
    def test_roundtrip_known_pixels(self):
        # Non-multiple-of-4 width forces row padding.
        px = np.arange(5 * 3 * 3, dtype=np.uint8).reshape(5, 3, 3)
        out = decode_bmp(make_bmp(px))
        np.testing.assert_array_equal(out, px)

    def test_rejects_garbage(self):
        with pytest.raises(ValueError):
            decode_bmp(b"definitely not a bitmap")

    def test_product_encoder_roundtrip(self):
        # The product-side encode_bmp must agree with this test's
        # independent encoder AND round-trip through decode_bmp.
        from serverless_data_lake_spark.operators.media_codecs import (
            encode_bmp,
        )

        px = np.arange(3 * 6 * 3, dtype=np.uint8).reshape(3, 6, 3)
        assert encode_bmp(px) == make_bmp(px)
        np.testing.assert_array_equal(decode_bmp(encode_bmp(px)), px)


class TestPng:
    PX = (np.arange(4 * 5 * 3, dtype=np.int64) * 7 % 256).astype(
        np.uint8
    ).reshape(4, 5, 3)

    @pytest.mark.parametrize(
        "filters",
        [[0, 0, 0, 0], [0, 1, 2, 1], [3, 3, 3, 3], [4, 4, 4, 4],
         [0, 3, 4, 2], [4, 1, 3, 0]],
    )
    def test_roundtrip(self, filters):
        out = decode_png(make_png(self.PX, filters))
        np.testing.assert_array_equal(out, self.PX)

    def test_rejects_garbage(self):
        with pytest.raises(ValueError):
            decode_png(b"not a png at all")

    def test_palette_png_expands_to_rgb(self):
        # 2x2, palette [red, green, blue], indices [[0,1],[2,0]].
        palette = bytes([255, 0, 0, 0, 255, 0, 0, 0, 255])
        raw = b"\x00" + bytes([0, 1]) + b"\x00" + bytes([2, 0])
        ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
        png = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"PLTE", palette)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b"")
        )
        out = decode_png(png)
        expect = np.array(
            [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [255, 0, 0]]],
            dtype=np.uint8,
        )
        np.testing.assert_array_equal(out, expect)

    def test_adam7_interlaced(self):
        # Independent pass serializer: slice the image on the Adam7
        # grid, emit each pass's scanlines (filter 0) in order. The
        # decoder must reassemble the original; per-pass FILTERING
        # shares the one unfilter path the parametrized roundtrip
        # test already covers.
        rng = np.random.default_rng(6)
        px = rng.integers(0, 256, size=(13, 11, 3)).astype(np.uint8)
        raw = bytearray()
        for x0, y0, dx, dy in (
            (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
            (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
        ):
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            for row in sub:
                raw += b"\x00" + row.tobytes()
        ihdr = struct.pack(">IIBBBBB", 11, 13, 8, 2, 0, 0, 1)
        png = (
            b"\x89PNG\r\n\x1a\n"
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
            + _png_chunk(b"IEND", b"")
        )
        np.testing.assert_array_equal(decode_png(png), px)

    def test_image_features_deterministic_and_bounded(self):
        f1 = image_features(self.PX, 8)
        f2 = image_features(self.PX, 8)
        assert f1 == f2 and len(f1) == 8
        assert all(0.0 <= v <= 1.0 for v in f1)


# ---------------------------------------------------------------------------
# Spark-side routing
# ---------------------------------------------------------------------------
def _media_df(spark, rows):
    return spark.createDataFrame(
        rows, "media_id long, mime_type string, content binary"
    )


class TestKernelRouting:
    def test_real_image_decode_strict(self, spark):
        from serverless_data_lake_spark.operators.multimodal import (
            extract_image_features,
        )

        px = np.zeros((2, 2, 3), dtype=np.uint8)
        px[0, 0] = 255  # one white-ish corner
        df = _media_df(
            spark,
            [(1, "image/bmp", bytearray(make_bmp(px))),
             (2, "image/png", bytearray(make_png(px)))],
        )
        # strict=True must NOT raise for really-decodable formats.
        rows = {
            r["media_id"]: r["feature"]
            for r in extract_image_features(df, dim=4, strict=True).collect()
        }
        # Identical pixels -> identical features regardless of format.
        assert rows[1] == pytest.approx(rows[2])
        # Cell 0 holds the single white pixel (lum 255 -> 1.0); the
        # other cells are black.
        assert rows[1] == pytest.approx([1.0, 0.0, 0.0, 0.0])

    def test_strict_still_fences_codec_formats(self, spark):
        from serverless_data_lake_spark.operators.multimodal import (
            extract_image_features,
        )

        # webp: still codec-bound (JPEG graduated to a real decoder).
        df = _media_df(spark, [(1, "image/webp", b"RIFFxxxxWEBP")])
        with pytest.raises(Exception, match="NotImplementedError|codec"):
            extract_image_features(df, dim=4, strict=True).collect()

    def test_real_jpeg_decode_matches_bmp(self, spark):
        # The same pixels through BMP (lossless) and baseline JPEG
        # (all-ones quant ⇒ ±2) must land on ~identical features.
        from test_jpeg_codec import make_jpeg

        from serverless_data_lake_spark.operators.multimodal import (
            extract_image_features,
        )

        px = np.zeros((8, 8, 3), dtype=np.uint8)
        px[:4, :4] = 250
        df = _media_df(
            spark,
            [(1, "image/bmp", bytearray(make_bmp(px))),
             (2, "image/jpeg", bytearray(make_jpeg(px)))],
        )
        rows = {
            r["media_id"]: r["feature"]
            for r in extract_image_features(df, dim=4, strict=True).collect()
        }
        assert rows[2] == pytest.approx(rows[1], abs=0.02)

    def test_default_is_strict_fail_loud(self, spark):
        # Pipeline foot-gun closed in r6: with no strict argument, a
        # codec-bound format must raise, never silently ship fake
        # features.
        from serverless_data_lake_spark.operators.multimodal import (
            extract_image_features,
        )

        df = _media_df(spark, [(1, "image/webp", b"RIFFjunkWEBP")])
        with pytest.raises(Exception, match="NotImplementedError|codec"):
            extract_image_features(df, dim=4).collect()

    def test_decodable_set_matches_dispatcher(self):
        # Every mime the kernels claim decodable must have a real
        # decoder registered — a drifted set would raise KeyError
        # inside an executor instead of the strict fence.
        from serverless_data_lake_spark.operators.media_codecs import (
            _IMAGE_DECODERS,
        )
        from serverless_data_lake_spark.operators.multimodal import (
            _DECODABLE_IMAGE,
        )

        assert _DECODABLE_IMAGE == set(_IMAGE_DECODERS)

    # (Binary-column pruning for metadata-only ops is asserted on a
    # parquet scan in tests/test_plan_quality.py — a LocalTableScan
    # here would list every column regardless.)


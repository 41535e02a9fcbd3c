"""Pure-NumPy PNG decoder (ref/png.py) against document-scan PNG fixtures —
the un-stubbing of S1 ingest for the reference's primary entry format
(examples/resume.cpp:9 cv::imread of images/*.png).

The fixtures under ``fixtures/png/`` are committed files written by this
module's own independent encoder (``_encode_png``); regenerate them from
the repository root with ``PYTHONPATH=. python tests/test_png.py``. Each
one cycles all five scanline filters, splits its image data over several
IDAT chunks and carries tEXt, pHYs and iCCP ancillary chunks, in gray, RGB
and RGBA."""

import os
import struct
import zlib

import numpy as np
import pytest

from tuatara_spark import fixtures as fx
from tuatara_spark.ops import multimodal as mm
from tuatara_spark.ref.png import decode_png

PNG_DIR = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "fixtures", "png")

# name → (height, width, PNG color type, ink RGB, rendered text)
PNG_FIXTURES = {
    "scan_gray.png": (150, 203, 0, (20, 20, 20), "Gray1Scan"),
    "scan_rgb.png": (206, 275, 2, (30, 40, 110), "RgbPage7,Ink"),
    "scan_rgba.png": (121, 90, 6, (90, 15, 15), "Rgba"),
}
EXPECTED_DIMS = {name: spec[:2] for name, spec in PNG_FIXTURES.items()}
TEXT_PAGE = "scan_rgb.png"


def _fixture_image(name: str) -> np.ndarray:
    """Source pixels of a fixture: rendered glyph ink on slightly uneven
    paper, cropped to odd dims; (H, W, C) with C = 1, 3 or 4."""
    h, w, color_type, ink, text = PNG_FIXTURES[name]
    page, _ = fx.render_page(text, -(-h // 4) * 4, -(-w // 4) * 4, 2)
    mask = page[:h, :w, 0] == 0
    y, x = np.mgrid[:h, :w]
    paper = (232 + (3 * x + 5 * y) % 24).astype(np.uint8)[..., None]
    img = np.where(mask[..., None], np.array(ink, np.uint8),
                   np.repeat(paper, 3, axis=2))
    if color_type == 0:
        return img[..., :1]
    if color_type == 6:  # alpha varies; the decoder must drop it
        alpha = ((x * y) % 256).astype(np.uint8)[..., None]
        return np.concatenate([img, alpha], axis=2)
    return img


def _fixture_bytes(name: str) -> bytes:
    color_type = PNG_FIXTURES[name][2]
    icc = b"fixture profile\x00\x00" + zlib.compress(b"not a real profile")
    return _encode_png(
        _fixture_image(name), color_type, idat_chunks=3,
        ancillary=((b"tEXt", b"Comment\x00" + name.encode()),
                   (b"pHYs", struct.pack(">IIB", 11811, 11811, 1)),
                   (b"iCCP", icc)))


def _read_fixture(name: str) -> bytes:
    with open(os.path.join(PNG_DIR, name), "rb") as f:
        return f.read()


def _encode_png(img: np.ndarray, color_type: int = 2,
                filter_cycle: bool = True, idat_chunks: int = 1,
                ancillary: tuple = ()) -> bytes:
    """Minimal independent PNG encoder for round-trip testing: exercises
    ALL five scanline filters (cycling per row) so each unfilter branch is
    validated against an independently-written forward transform. The
    zlib stream is split over ``idat_chunks`` IDAT chunks, and the
    ``ancillary`` (type, data) chunks go between IHDR and the first IDAT."""
    h, w = img.shape[:2]
    c = {0: 1, 2: 3, 6: 4}[color_type]
    flat = img.reshape(h, w * c).astype(np.int32)
    rows = []
    prev = np.zeros(w * c, np.int32)
    for y in range(h):
        ft = (y % 5) if filter_cycle else 0
        row = flat[y]
        a = np.concatenate([np.zeros(c, np.int32), row[:-c]])
        ac = np.concatenate([np.zeros(c, np.int32), prev[:-c]])
        if ft == 0:
            enc = row
        elif ft == 1:
            enc = (row - a) & 0xFF
        elif ft == 2:
            enc = (row - prev) & 0xFF
        elif ft == 3:
            enc = (row - ((a + prev) >> 1)) & 0xFF
        else:
            p = a + prev - ac
            pa, pb, pc = abs(p - a), abs(p - prev), abs(p - ac)
            pred = np.where((pa <= pb) & (pa <= pc), a,
                            np.where(pb <= pc, prev, ac))
            enc = (row - pred) & 0xFF
        rows.append(bytes([ft]) + bytes(enc.astype(np.uint8)))
        prev = row
    raw = zlib.compress(b"".join(rows))

    def chunk(t, d):
        return struct.pack(">I", len(d)) + t + d + \
            struct.pack(">I", zlib.crc32(t + d))

    step = -(-len(raw) // idat_chunks)
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8,
                                         color_type, 0, 0, 0))
            + b"".join(chunk(t, d) for t, d in ancillary)
            + b"".join(chunk(b"IDAT", raw[i:i + step])
                       for i in range(0, len(raw), step))
            + chunk(b"IEND", b""))


@pytest.mark.parametrize("color_type", [0, 2, 6])
def test_roundtrip_all_filters(color_type):
    rng = np.random.default_rng(color_type)
    c = {0: 1, 2: 3, 6: 4}[color_type]
    src = rng.integers(0, 256, size=(40, 23, c), dtype=np.uint8)
    out = decode_png(_encode_png(src, color_type))
    if color_type == 0:
        np.testing.assert_array_equal(out, np.repeat(src, 3, axis=2))
    elif color_type == 2:
        np.testing.assert_array_equal(out, src)
    else:
        np.testing.assert_array_equal(out, src[..., :3])


@pytest.mark.parametrize("name", sorted(EXPECTED_DIMS))
def test_reference_fixture_decodes(name):
    img = decode_png(_read_fixture(name))
    h, w = EXPECTED_DIMS[name]
    assert img.shape == (h, w, 3)
    assert img.dtype == np.uint8
    # document scans are paper-dominated: bright mean, full dynamic range
    assert img.mean(dtype=np.float64) > 180
    assert img.min() < 64 and img.max() > 220
    # exact pixels: gray widens to RGB, alpha is dropped
    src = _fixture_image(name)
    want = np.repeat(src, 3, axis=2) if src.shape[2] == 1 else src[..., :3]
    np.testing.assert_array_equal(img, want)


def test_decode_payload_dispatches_png():
    img = fx.decode_payload(_read_fixture(TEXT_PAGE))
    assert img.shape == EXPECTED_DIMS[TEXT_PAGE] + (3,)


def test_extract_media_meta_real_png(spark):
    """S1 ingest over document PNGs through the Spark op: real
    width/height/luma, no stub."""
    rows = [(name, bytearray(_read_fixture(name)))
            for name in sorted(EXPECTED_DIMS)]
    df = spark.createDataFrame(rows, "url string, html binary")
    meta = {r.url: r for r in mm.extract_media_meta(df).collect()}
    for name, (h, w) in EXPECTED_DIMS.items():
        r = meta[name]
        assert r.format == "png"
        assert (r.height, r.width) == (h, w)
        assert r.mean_luma is not None and r.mean_luma > 180


def test_extract_df_ingests_real_png(spark, weights):
    """The full Spark extraction engine accepts a document PNG end-to-end
    (S1 ingest → detection → recognition): real decode, real detection on
    real ink. The page's glyph scale and ink colour differ from the
    recognizer's template bank, so extracted TEXT is not asserted —
    regions and error-free flow are."""
    from tuatara_spark import engine as eng
    df = spark.createDataFrame([(TEXT_PAGE, bytearray(_read_fixture(TEXT_PAGE)))],
                               "url string, html binary")
    r = eng.extract_df(df, weights=weights).collect()[0]
    assert r.error is None
    assert r.n_regions >= 1          # detector fires on real document ink


def test_encode_png_roundtrip_and_viz_dump(weights, tmp_path):
    """encode_png output must decode back exactly, and the S30 annotated
    dump writes a real PNG when asked to."""
    from tuatara_spark import viz
    from tuatara_spark.ref import pipeline as pl
    from tuatara_spark.ref.png import encode_png
    rng = np.random.default_rng(9)
    src = rng.integers(0, 256, size=(31, 17, 3), dtype=np.uint8)
    np.testing.assert_array_equal(decode_png(encode_png(src)), src)
    img, _ = fx.render_page("PngDump", 256, 256, 4)
    spans = pl.image_to_data(img, weights)
    path = viz.dump_annotated(img, spans, str(tmp_path / "page.png"))
    with open(path, "rb") as f:
        out = decode_png(f.read())
    np.testing.assert_array_equal(out, viz.annotate_page(img, spans))


def test_all_depths_palette_and_adam7_round_trip():
    """Full spec matrix: gray at 1/2/4/8/16 bit, RGB 8/16, palette at
    1/2/4/8 bit — each plain AND Adam7-interlaced — round-trips exactly
    (1-bit gray is the scanned-document format the OCR pipeline cares
    about; 16-bit reduces to the high byte by construction v·257)."""
    import numpy as np
    from tuatara_spark.ref import png as P
    rng = np.random.default_rng(5)
    for il in (False, True):
        for d in (1, 2, 4, 8, 16):
            if d < 8:
                step = 255 // ((1 << d) - 1)
                g = (rng.integers(0, 1 << d, (37, 53)) * step) \
                    .astype(np.uint8)
            else:
                g = rng.integers(0, 256, (37, 53), dtype=np.uint8)
            out = P.decode_png(P.encode_png(g, bit_depth=d, color_type=0,
                                            interlace=il))
            assert (out[..., 0] == g).all() and (out[..., 2] == g).all()
        for d in (8, 16):
            img = rng.integers(0, 256, (23, 41, 3), dtype=np.uint8)
            out = P.decode_png(P.encode_png(img, bit_depth=d,
                                            color_type=2, interlace=il))
            assert (out == img).all()
        for d in (1, 2, 4, 8):
            colors = rng.integers(0, 256, (1 << d, 3), dtype=np.uint8)
            img = colors[rng.integers(0, 1 << d, (19, 29))]
            out = P.decode_png(P.encode_png(img, bit_depth=d,
                                            color_type=3, interlace=il))
            assert (out == img).all()
    # Adam7 with empty passes (images smaller than the pass grid)
    for h, w in ((1, 1), (2, 3), (7, 5), (8, 8)):
        img = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert (P.decode_png(P.encode_png(img, interlace=True))
                == img).all()


def test_binary_page_as_1bit_png_extracts(weights):
    """A rendered binary page shipped as a 1-bit interlaced PNG (the
    scanned-doc wire format) must extract byte-identically."""
    import numpy as np
    from tuatara_spark.ref import png as P, pipeline as pl
    img, lines = fx.render_page("Scan", 256, 256, 4)
    buf = P.encode_png(img[..., 0], bit_depth=1, color_type=0,
                       interlace=True)
    out = P.decode_png(buf)
    assert (out == img).all()
    r = pl.extract_page(out, weights)
    assert r["text"] == "\n".join(lines)


if __name__ == "__main__":
    os.makedirs(PNG_DIR, exist_ok=True)
    for fixture_name in PNG_FIXTURES:
        with open(os.path.join(PNG_DIR, fixture_name), "wb") as out:
            out.write(_fixture_bytes(fixture_name))

"""End-to-end: the Spark Arrow-UDF engine must be byte-identical per url to
the single-process oracle (the north_rule correctness gate)."""

import numpy as np
import pytest

from tuatara_spark import engine as eng
from tuatara_spark import fixtures as fx
from tuatara_spark.ref import pipeline as pl


@pytest.fixture(scope="module")
def pages_df(weights):
    return fx.make_pages(48, seed=42, n_large=0)


def _oracle_results(pages, weights):
    out = {}
    for _, row in pages.iterrows():
        r = pl.extract_page(fx.decode_tpage(row["html"]), weights)
        out[row["url"]] = r
    return out


def test_spark_matches_oracle_byte_identical(spark, weights, pages_df):
    sdf = spark.createDataFrame(pages_df)
    result = eng.extract_df(sdf, weights=weights).collect()
    assert len(result) == len(pages_df)
    golden = _oracle_results(pages_df, weights)
    truth = dict(zip(pages_df["url"], pages_df["text"]))
    for row in result:
        assert row.error is None
        oracle = golden[row.url]
        # byte-identical extracted text per url
        assert row.text == oracle["text"], row.url
        # spans: same order, texts, and bboxes
        assert len(row.spans) == len(oracle["spans"])
        for got, want in zip(row.spans, oracle["spans"]):
            assert got.text == want["text"]
            assert got.bbox == [float(v) for v in want["bbox"]]
        # and the fixtures' ground truth matches too
        assert row.text == truth[row.url]
        assert row.n_regions == len(oracle["spans"])
        assert row.n_chars == len(oracle["text"])


def test_spark_passthrough_columns(spark, weights, pages_df):
    sdf = spark.createDataFrame(pages_df)
    out = eng.extract_df(sdf, weights=weights)
    assert "html" not in out.columns
    got = {r.url: r for r in out.collect()}
    for _, row in pages_df.iterrows():
        r = got[row["url"]]
        assert r.lang == row["lang"]
        assert r.warc_ts == row["warc_ts"].to_pydatetime()


def test_spark_skew_pages_and_determinism(spark, weights):
    pages = fx.make_pages(6, seed=11, n_large=1)
    sdf = spark.createDataFrame(pages).repartition(4)
    r1 = {r.url: r.text for r in eng.extract_df(sdf, weights=weights).collect()}
    r2 = {r.url: r.text for r in eng.extract_df(sdf, weights=weights).collect()}
    assert r1 == r2
    truth = dict(zip(pages["url"], pages["text"]))
    assert r1 == truth  # includes the 2048² skew page


def test_spark_malformed_payload_error_row(spark, weights):
    import pandas as pd
    pages = fx.make_pages(2, seed=5)
    truncated = fx.encode_tpbit(fx.render_page("x", 128, 128, 4)[0])[:20]
    bad_urls = {"https://bad.test/x": b"NOTATPAGE",
                "https://bad.test/null": None,
                "https://bad.test/truncated": truncated}
    bad = pd.DataFrame([{
        "url": u, "warc_ts": pages["warc_ts"][0],
        "html": h, "text": "", "lang": "en"} for u, h in bad_urls.items()])
    df = pd.concat([pages, bad], ignore_index=True)
    rows = {r.url: r for r in
            eng.extract_df(spark.createDataFrame(df), weights=weights).collect()}
    for u in bad_urls:
        assert rows[u].error.startswith("decode: "), rows[u].error
        assert rows[u].spans is None
    assert rows["https://bad.test/null"].error == "decode: null payload"
    ok = [r for u, r in rows.items() if u not in bad_urls]
    assert len(ok) == 2 and all(r.error is None for r in ok)


def test_decode_payloads_matches_per_row_decode():
    """The batched decoder agrees with per-row decode_payload on every
    element of a mixed list: the same image, or an error exactly when the
    per-row call raises."""
    from tuatara_spark.ref.png import encode_png
    a, _ = fx.render_page("A", 128, 128, 4)
    b, _ = fx.render_page("Cd", 128, 192, 4)
    bufs = [fx.encode_tpbit(a), fx.encode_tpbit(b), fx.encode_tpbit(b)[:-3],
            fx.encode_tpage(a), encode_png(b), None, b"ZZZZ\x01\x00\x01\x00",
            bytearray(fx.encode_tpbit(a)), fx.encode_tpbit(b)]
    images, errors = fx.decode_payloads(bufs)
    assert len(images) == len(errors) == len(bufs)
    for buf, img, err in zip(bufs, images, errors):
        if buf is None:
            assert img is None and err == "decode: null payload"
            continue
        try:
            want = fx.decode_payload(buf)
        except Exception as e:
            assert img is None and err == f"decode: {e}"
        else:
            assert err is None
            np.testing.assert_array_equal(img, want)
    assert sum(e is not None for e in errors) == 3


def test_tpbit_roundtrip_byte_identical():
    """TPBIT packs the binary-ink raster 1 bit/px; for rendered pages the
    decode must reproduce the original RGB raster exactly."""
    img, _ = fx.render_page("Hello,W0rld", 256, 256, 4)
    buf = fx.encode_tpbit(img)
    assert len(buf) == 8 + 256 * 256 // 8          # 24x smaller than TPG1
    np.testing.assert_array_equal(fx.decode_tpbit(buf), img)
    # dispatching decoder handles both formats
    np.testing.assert_array_equal(fx.decode_payload(buf), img)
    np.testing.assert_array_equal(
        fx.decode_payload(fx.encode_tpage(img)), img)


def test_tpbit_extraction_equals_tpage(spark, weights):
    """The engine must extract identical text/spans from TPG1 and TPB1
    payloads of the same pages (incl. a 2048² skew page)."""
    raw = fx.make_pages(8, seed=33, n_large=1)
    packed = fx.make_pages(8, seed=33, n_large=1, payload="tpbit")
    assert (packed["html"].map(len) < raw["html"].map(len)).all()
    a = {r.url: r for r in
         eng.extract_df(spark.createDataFrame(raw), weights=weights).collect()}
    b = {r.url: r for r in
         eng.extract_df(spark.createDataFrame(packed),
                        weights=weights).collect()}
    assert a.keys() == b.keys()
    for url in a:
        assert a[url].error is None and b[url].error is None
        assert a[url].text == b[url].text
        assert a[url].spans == b[url].spans

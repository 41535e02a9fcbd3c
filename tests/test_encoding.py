"""Charset sniff + decode: WHATWG ordering, BOM handling, cp1252, and the
no-Python plan guarantee."""

import pandas as pd
from hypothesis import HealthCheck, given, settings, strategies as st

from tuatara_spark.ops import encoding


def _decode(spark, payloads):
    pdf = pd.DataFrame({"url": [f"{i:06d}" for i in range(len(payloads))],
                        "html": payloads})
    df = spark.createDataFrame(pdf)
    rows = encoding.sniff_decode(df).orderBy("url").collect()
    return [(r.charset, r.text) for r in rows]


def test_sniff_order_and_decodes(spark):
    text = "héllo wörld €100"
    got = _decode(spark, [
        f'<meta charset="utf-8"><p>{text}</p>'.encode("utf-8"),
        b"\xef\xbb\xbf" + f"<p>{text}</p>".encode("utf-8"),
        '<meta charset="iso-8859-1">héllo'.encode("iso-8859-1"),
        f"<p>{text}</p>".encode("utf-16"),          # python emits LE BOM
        f"<p>{text}</p>".encode("utf-16-be"),       # no BOM: see below
        b"\xfe\xff" + f"<p>{text}</p>".encode("utf-16-be"),
        '<meta charset="windows-1252">€uro –dash'.encode("cp1252"),
        b"plain ascii no meta at all",
    ])
    assert got[0] == ("utf-8", f'<meta charset="utf-8"><p>{text}</p>')
    assert got[1] == ("utf-8-bom", f"<p>{text}</p>")  # BOM stripped
    assert got[2] == ("iso-8859-1", '<meta charset="iso-8859-1">héllo')
    assert got[3] == ("utf-16le", f"<p>{text}</p>")
    assert got[5] == ("utf-16be", f"<p>{text}</p>")
    assert got[6] == ("windows-1252",
                      '<meta charset="windows-1252">€uro –dash')
    assert got[7][0] == "utf-8"                       # default


def test_bom_beats_meta(spark):
    # a lying meta tag must lose to the BOM (WHATWG order)
    payload = b"\xef\xbb\xbf" + '<meta charset="iso-8859-1">x'.encode()
    [(cs, txt)] = _decode(spark, [payload])
    assert cs == "utf-8-bom" and txt.startswith("<meta")


def test_meta_quoting_and_http_equiv_variants(spark):
    for raw in (b"<meta charset=utf-8>ok",
                b"<META CHARSET='UTF-8'>ok",
                b'<meta http-equiv="Content-Type" '
                b'content="text/html; charset=utf-8">ok'):
        [(cs, _)] = _decode(spark, [raw])
        assert cs == "utf-8", raw


def test_meta_scan_window_is_bounded(spark):
    # charset declared past the 4096-byte head window is ignored -> default
    payload = b"<p>" + b"x" * 5000 + b'<meta charset="iso-8859-1">'
    [(cs, _)] = _decode(spark, [payload])
    assert cs == "utf-8"


def test_plan_stays_jvm_side(spark):
    df = spark.createDataFrame(
        pd.DataFrame({"html": [b"abc"]}))
    plan = encoding.sniff_decode(df)._jdf.queryExecution().executedPlan() \
        .toString()
    for bad in ("BatchEvalPython", "ArrowEvalPython", "PythonUDF"):
        assert bad not in plan, plan


def test_malformed_never_raises(spark):
    import numpy as np
    rng = np.random.default_rng(11)
    payloads = [
        b"\xff\xfe" + b"a\x00\x00\xd8b\x00",      # unpaired LE surrogate
        b"\xfe\xff" + b"\xd8\x00\x00a",           # unpaired BE surrogate
        b"\xff\xfea\x00b",                        # odd length utf-16
        b"ok \xff\xfe bad utf8",                  # invalid utf-8 bytes
        b"\xef\xbb\xbf" + b"\x80\x80",            # BOM + garbage
        b"",                                      # empty
    ] + [bytes(rng.integers(0, 256, size=int(n)).astype("uint8"))
         for n in rng.integers(0, 64, size=20)]   # random fuzz
    pdf = pd.DataFrame({"url": [str(i) for i in range(len(payloads))],
                        "html": payloads})
    rows = encoding.sniff_decode(spark.createDataFrame(pdf)) \
        .orderBy("url").collect()              # must not raise
    by = {int(r.url): r for r in rows}
    assert by[0].text is None and by[0].charset == "utf-16le"
    assert by[1].text is None and by[1].charset == "utf-16be"
    assert by[2].text is None                  # odd length
    assert "�" in by[3].text              # U+FFFD repair, row kept
    assert by[5].text == ""


def test_valid_utf16_still_decodes_exactly(spark):
    text = "paired \U0001F600 emoji"            # needs a surrogate pair
    payloads = [b"\xff\xfe" + text.encode("utf-16-le"),
                b"\xfe\xff" + text.encode("utf-16-be")]
    got = _decode(spark, payloads)
    assert got == [("utf-16le", text), ("utf-16be", text)]


_BOM = {"le": b"\xff\xfe", "be": b"\xfe\xff"}
# code units biased towards the surrogate ranges and the BOM-like units
_U16_UNIT = st.one_of(st.integers(0, 0xFFFF), st.integers(0xD800, 0xDBFF),
                      st.integers(0xDC00, 0xDFFF),
                      st.sampled_from([0x0000, 0xFEFF, 0xFFFE, 0xFFFF]))


def _u16_payload(endian: str, units, tail: bytes = b"") -> bytes:
    order = "little" if endian == "le" else "big"
    return _BOM[endian] + b"".join(u.to_bytes(2, order) for u in units) + tail


def _strict_u16(payload: bytes, endian: str):
    try:
        return payload[2:].decode(f"utf-16-{endian}")
    except UnicodeDecodeError:
        return None


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.tuples(st.sampled_from(["le", "be"]),
                          st.lists(_U16_UNIT, max_size=10),
                          st.sampled_from([b"", b"\x41"])),
                min_size=1, max_size=40))
def test_utf16_validity_matches_strict_python_decode(spark, bodies):
    """Valid UTF-16 decodes exactly, invalid UTF-16 (unpaired surrogate,
    odd length) gives NULL text; Python's strict decoder is the oracle."""
    payloads = [_u16_payload(e, units, tail) for e, units, tail in bodies]
    want = [(f"utf-16{e}", _strict_u16(p, e))
            for (e, _, _), p in zip(bodies, payloads)]
    assert _decode(spark, payloads) == want


def test_utf16_long_bodies_decode_and_session_survives(spark):
    """A 64 KB body must not overflow the JVM regex stack (which would kill
    the SparkContext): valid text decodes, a lone trailing surrogate NULLs."""
    text = ("paired \U0001F600 emoji, plain text " * 1200)
    got = []
    for e in ("le", "be"):
        body = text.encode(f"utf-16-{e}")
        assert len(body) >= 64 * 1024
        lone = (0xD83D).to_bytes(2, "little" if e == "le" else "big")
        got += _decode(spark, [_BOM[e] + body, _BOM[e] + body + lone])
    assert got == [("utf-16le", text), ("utf-16le", None),
                   ("utf-16be", text), ("utf-16be", None)]
    assert spark.range(5).count() == 5


def test_charset_mention_in_body_text_does_not_missniff(spark):
    from tuatara_spark.ops import encoding as E
    # 'charset=iso-8859-1' in BODY TEXT (or a comment) must not override
    # the UTF-8 default — only a real <meta ...charset=...> tag counts.
    body = ('<html><body><p>to declare latin, write charset=iso-8859-1 '
            'in a meta tag</p><!-- charset=windows-1252 -->café'
            '</body></html>').encode("utf-8")
    tagged = ('<html><head><meta charset="iso-8859-1"></head>'
              '<body>café</body></html>').encode("utf-8")
    df = spark.createDataFrame([("u1", bytearray(body)),
                                ("u2", bytearray(tagged))],
                               "url string, html binary")
    got = {r.url: (r.charset, r.text)
           for r in E.sniff_decode(df).collect()}
    assert got["u1"][0] == "utf-8"
    assert "café" in got["u1"][1]
    assert got["u2"][0] == "iso-8859-1"  # the real tag still wins


def test_normalize_nfc_changes_and_passthrough(spark):
    from tuatara_spark.ops import encoding
    rows = [(1, "café"),      # decomposed -> composes
            (2, "café"),       # already NFC -> unchanged
            (3, "plain ascii"),
            (4, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: (r.text_nfc, r.nfc_changed)
           for r in encoding.normalize_nfc(df).collect()}
    assert got[1] == ("café", True)
    assert got[2] == ("café", False)
    assert got[3] == ("plain ascii", False)
    assert got[4] == (None, None)   # null propagates, comparison null

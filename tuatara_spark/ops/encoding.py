"""Charset sniffing + decoding of raw crawl payload bytes → text.

The step between WARC ingest (``sources/warc.py`` yields ``html`` as raw
BYTES) and every text operator in this repo: real crawls are a mix of
UTF-8, Latin-1 and UTF-16 with and without BOMs, and mis-decoding is
permanent corpus damage. Detection follows the WHATWG encoding-sniffing
order (public spec): byte-order mark first, then a ``<meta charset=…>`` /
``http-equiv`` scan of the head, then the UTF-8 default. The meta scan
reads the bytes through an ISO-8859-1 view — the lossless byte→char
mapping — so it is safe on arbitrary binary.

Everything is PURE CATALYST: Spark's ``decode`` takes only literal
charset names, so the per-row variable charset is a CASE over the
supported branches, each a JVM-side ``decode`` — no Python in the path,
whole-stage codegen, and (for the BOM/meta branches the oracle exercises)
exactly reproducible analytically. At 10^12 rows this is a shuffle-free
projection on the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# labels are OUR canonical names; the decode CASE maps them to JVM charsets
UTF8, UTF8_BOM = "utf-8", "utf-8-bom"
UTF16LE, UTF16BE = "utf-16le", "utf-16be"
LATIN1, CP1252 = "iso-8859-1", "windows-1252"

# anchored INSIDE a <meta ...> tag (as the WHATWG sniff does): a bare
# 'charset=' scan would let body text or comments mentioning e.g.
# "charset=iso-8859-1" mis-sniff a UTF-8 page into Latin-1 — permanent
# mojibake. Covers both <meta charset=…> and the http-equiv
# content="…; charset=…" form (charset= sits before the closing '>').
_META_RE = r'(?i)<meta[^>]*charset\s*=\s*["\']?([A-Za-z0-9_\-]+)'
_MAX = 2147483647


def charset_col(bin_col: str = "html") -> F.Column:
    """WHATWG-ordered charset sniff: BOM > meta tag > UTF-8 default."""
    c = F.col(bin_col)
    meta = F.lower(F.regexp_extract(
        F.decode(F.substring(c, 1, 4096), "ISO-8859-1"), _META_RE, 1))
    return (
        F.when(F.hex(F.substring(c, 1, 3)) == "EFBBBF", F.lit(UTF8_BOM))
        .when(F.hex(F.substring(c, 1, 2)) == "FFFE", F.lit(UTF16LE))
        .when(F.hex(F.substring(c, 1, 2)) == "FEFF", F.lit(UTF16BE))
        .when(meta.isin("utf-8", "utf8"), F.lit(UTF8))
        .when(meta.isin("iso-8859-1", "latin-1", "latin1", "iso8859-1"),
              F.lit(LATIN1))
        .when(meta.isin("windows-1252", "cp1252"), F.lit(CP1252))
        .otherwise(F.lit(UTF8)))


# cp1252 differs from ISO-8859-1 only in 0x80–0x9F; Spark 4's decode()
# rejects non-allowlisted charsets, so map that range with translate()
# over the lossless Latin-1 view (the 5 undefined bytes stay as C1 chars)
_CP1252_SRC = "".join(chr(b) for b in range(0x80, 0xA0)
                      if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D))
_CP1252_DST = bytes(b for b in range(0x80, 0xA0)
                    if b not in (0x81, 0x8D, 0x8F, 0x90, 0x9D)
                    ).decode("cp1252")

# Spark 4's decode() THROWS on malformed input (MALFORMED_CHARACTER_CODING)
# — at 10^12 rows one broken page must not kill a task, so every branch
# below is total: UTF-8 goes through make_valid_utf8 (U+FFFD repair),
# Latin-1/cp1252 accept every byte, and UTF-16 is pre-validated over the
# hex view (invalid rows → NULL text, the explicit undecodable signal).
# The check must not be one repeated group over the whole body: Java's
# regex engine recurses per repetition of a quantified alternation, and a
# 2 KB body overflows the JVM stack and kills the SparkContext. Instead
# the body's hex is cut into 4-hex-digit code units, each followed by a
# ',', and the check SEARCHES for an unpaired surrogate — a high surrogate
# (D800–DBFF) not followed by a low one (DC00–DFFF), or a low one not
# preceded by a high one. Every pattern is bounded, so the body length
# does not matter. The hex doubling only costs on the rare UTF-16 rows —
# the branch is lazy per row.
_BAD_U16LE = "..D[89AB],(?!..D[C-F],)|(?:^|(?<!D[89AB]),)..D[C-F],"
_BAD_U16BE = "D[89AB]..,(?!D[C-F]..,)|(?:^|(?<!D[89AB]..),)D[C-F]..,"


def decoded_col(bin_col: str, cs: F.Column) -> F.Column:
    """Total (never-throwing) decode of bytes under the sniffed charset:
    UTF-8 malformed sequences become U+FFFD, invalid UTF-16 (odd length /
    broken surrogate pairs) becomes NULL. Java's UTF-16 decoder consumes
    the BOM and picks endianness itself, so both UTF-16 branches share
    it; the UTF-8 BOM is stripped explicitly."""
    c = F.col(bin_col)
    utf8 = F.make_valid_utf8(c.cast("string"))
    utf8_bom = F.make_valid_utf8(F.substring(c, 4, _MAX).cast("string"))
    units = F.regexp_replace(F.hex(F.substring(c, 3, _MAX)),  # after BOM
                             "(....)", "$1,")
    u16_ok = (F.length(c) % 2 == 0) & ~F.when(
        cs == UTF16LE, units.rlike(_BAD_U16LE)).otherwise(
        units.rlike(_BAD_U16BE))
    utf16 = F.when(u16_ok, F.decode(c, "UTF-16")).otherwise(F.lit(None))
    return (
        F.when(cs == UTF8_BOM, utf8_bom)
        .when(cs.isin(UTF16LE, UTF16BE), utf16)
        .when(cs == LATIN1, F.decode(c, "ISO-8859-1"))
        .when(cs == CP1252,
              F.translate(F.decode(c, "ISO-8859-1"),
                          _CP1252_SRC, _CP1252_DST))
        .otherwise(utf8))


def sniff_decode(df: DataFrame, bin_col: str = "html",
                 out_col: str = "text",
                 charset_out: str = "charset") -> DataFrame:
    """(… html:binary …) → + (charset:string, text:string). One
    projection, no shuffle, no Python."""
    cs = charset_col(bin_col)
    return (df.withColumn(charset_out, cs)
            .withColumn(out_col, decoded_col(bin_col, F.col(charset_out))))


def normalize_nfc(df, text_col: str = "text",
                  out_col: str = "text_nfc"):
    """Unicode NFC normalization — the step crawl text needs before any
    hash-based dedup or exact-match decontamination (the same visible
    string arrives both precomposed (é) and decomposed (e + U+0301);
    un-normalized they hash apart and dedup silently misses).

    This is the repo's one deliberate Python-path TEXT op: Spark has no
    built-in Unicode-normalize expression, so the column rides an
    Arrow-batched ``pandas_udf`` — one Arrow exchange per batch, the
    per-row work being CPython's C-implemented ``unicodedata.normalize``
    (ICU-class throughput, nothing like row-at-a-time Python UDF cost).
    Adds ``out_col`` and ``nfc_changed``; at 10^12 rows it remains an
    embarrassingly parallel projection with no shuffle.
    """
    import pandas  # noqa: F401 — must be module-resolvable for the
    # pandas_udf type-hint inference below
    from pyspark.sql.functions import pandas_udf

    def _nfc_batch(s):
        import unicodedata
        return s.map(lambda x: None if x is None
                     else unicodedata.normalize("NFC", x))
    _nfc_batch.__annotations__ = {"s": pandas.Series,
                                  "return": pandas.Series}
    _nfc = pandas_udf("string")(_nfc_batch)

    out = df.withColumn(out_col, _nfc(F.col(text_col)))
    return out.withColumn("nfc_changed",
                          F.col(out_col) != F.col(text_col))


# ---------------------------------------------------------------------------
# Mojibake repair (the ftfy problem family, public write-ups by R. Speer):
# UTF-8 bytes decoded once through windows-1252 — the single most common
# web-text corruption ("donâ€™t", "cafÃ©"). The repair table is GENERATED
# at import from the codec pair itself (encode the true character to
# UTF-8, mis-decode through cp1252), so the rule list can never drift
# from the corruption it undoes; the DuckDB oracle chain is generated
# from the same table. One pass, longest corruption first (a shorter rule
# can never pre-empt a longer one). Semantics are ONE-PASS/ONE-LAYER:
# the op undoes exactly one decode-through-cp1252 layer. It is NOT
# idempotent in general — several corruption strings themselves contain
# other targets (the corruption of « is 'Â«'; of – is 'â€“', which
# contains '€'-family targets), so feeding already-repaired text with
# degenerate residue through a second pass can rewrite further. Run it
# once per suspected layer, as ftfy does.
# ---------------------------------------------------------------------------

#: Characters whose UTF-8 encodings are fully cp1252-mappable (no 0x81/
#: 0x8D/0x8F/0x90/0x9D bytes) — the deterministic, round-trippable core
#: of the mojibake family. Curly quotes/dashes/ellipsis, the common
#: Latin-1 letters, guillemets and the degree sign.
MOJIBAKE_TARGETS = "’‘“–—…" \
    "éèäöüñç«»°"


def _cp1252_mojibake(ch: str) -> str:
    return ch.encode("utf-8").decode("windows-1252")


MOJIBAKE_STEPS: tuple[tuple[str, str], ...] = tuple(
    sorted(((_cp1252_mojibake(c), c) for c in MOJIBAKE_TARGETS),
           key=lambda bg: (-len(bg[0]), bg[0])))


def fix_mojibake(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """(id, text_fixed, changed) — undo one layer of UTF-8-as-cp1252
    mojibake via the generated rule chain. Pure Catalyst: a chain of
    LITERAL ``replace`` calls (no regex), shuffle-free, entirely inside
    whole-stage codegen; at 10^12 rows this is a projection on the scan.
    Double-encoded text (two cp1252 layers) needs a second application;
    one pass is one layer, documented."""
    fixed = F.col(text_col)
    for bad, good in MOJIBAKE_STEPS:
        fixed = F.replace(fixed, F.lit(bad), F.lit(good))
    return df.select(id_col, fixed.alias("text_fixed"),
                     (fixed != F.col(text_col)).cast("int").alias("changed"))


# ---------------------------------------------------------------------------
# Accent folding (diacritic stripping) — the search/dedup normalization
# that maps café→cafe so accent variants hash and match together. The
# 1:1 table is GENERATED at import from Unicode's own decomposition
# data (NFD, drop Mn combining marks — the canonical public algorithm),
# covering Latin-1 Supplement + Latin Extended-A; characters with no
# decomposition but a conventional ASCII expansion (UTR #30's examples:
# ß→ss, Æ→AE, Ø→O …) ride a small curated replace chain first.
# ---------------------------------------------------------------------------

FOLD_SPECIALS: tuple[tuple[str, str], ...] = (
    ("ß", "ss"), ("Æ", "AE"), ("æ", "ae"), ("Œ", "OE"), ("œ", "oe"),
    ("Ø", "O"), ("ø", "o"), ("Ð", "D"), ("ð", "d"), ("Þ", "TH"),
    ("þ", "th"), ("Đ", "D"), ("đ", "d"), ("Ħ", "H"), ("ħ", "h"),
    ("ı", "i"), ("Ĳ", "IJ"), ("ĳ", "ij"), ("ĸ", "k"), ("Ł", "L"),
    ("ł", "l"), ("Ŋ", "N"), ("ŋ", "n"), ("Ŧ", "T"), ("ŧ", "t"),
)


def _fold_tables() -> tuple[str, str]:
    import unicodedata
    frm, to = [], []
    for cp in range(0xC0, 0x180):
        ch = chr(cp)
        d = unicodedata.normalize("NFD", ch)
        s = "".join(c for c in d if unicodedata.category(c) != "Mn")
        if s != ch and len(s) == 1 and s.isascii():
            frm.append(ch)
            to.append(s)
    return "".join(frm), "".join(to)


FOLD_FROM, FOLD_TO = _fold_tables()


def fold_accents(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """(id, text_folded, changed) — strip diacritics via the generated
    1:1 ``translate`` table, after the curated multi-char expansions.
    Pure Catalyst (one translate + a short literal-replace chain),
    shuffle-free, idempotent (no output char appears in either table's
    domain). At 10^12 rows: a codegen projection on the scan."""
    folded = F.col(text_col)
    for bad, good in FOLD_SPECIALS:
        folded = F.replace(folded, F.lit(bad), F.lit(good))
    folded = F.translate(folded, FOLD_FROM, FOLD_TO)
    return df.select(id_col, folded.alias("text_folded"),
                     (folded != F.col(text_col)).cast("int")
                     .alias("changed"))

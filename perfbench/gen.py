"""Seeded input generators for the four benchmark workloads.

Each generator writes the program's inputs (and nothing else) under
``<dir>/input`` and the ground truth the benchmark checks against under
``<dir>/truth.json``; ``<dir>/props.json`` records the size and the share
of each input property actually produced. The job workloads also get a
small ``<dir>/warmup`` input of the same kinds of rows (its ground truth
is ``truth.json``'s ``warmup`` entry) for the untimed cold run. The same
seed gives byte-identical inputs. Generation runs before any timing and is cached per
(workload, seed, GEN_VERSION) directory.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from tuatara_spark import fixtures as fx
from tuatara_spark import font as ft
from tuatara_spark import verifier
from tuatara_spark.sources import warc as W

GEN_VERSION = 5

# -- sizes (one job / one query pass per timed sample) -----------------------
OCR_PAGES_SMALL = 400          # 256² TPBIT pages
OCR_PAGES_LARGE = 2            # 2048² TPBIT pages (524,296 B < heavy_bytes)
SKEW_SMALL = 96                # 256² TPBIT pages
SKEW_LARGE = 6                 # 2048² raw-RGB TPG1 pages (12.6 MB each)
SKEW_HOSTS = 2                 # hosts the heavy pages are concentrated on
POISON_SHARE = 0.005
INPUT_FILES = 8                # parquet files per pages table
WARM_SHARE = 8                 # the warm-up input is 1/8 of the timed one
WARC_PAGES = 1280
WARC_FILES = 16
CORRUPT_SHARE = 0.005
UTF16_BODY_CAP = 1024          # bytes; see _html_page

# The shares below are a stated stress mix, not a sample of the web. Public
# charset surveys (W3Techs' survey of top sites, Common Crawl's per-crawl
# charset statistics) find UTF-8 on well over 90% of pages; this mix sends
# 45% of warc_crawl's pages through a BOM, Latin-1, cp1252 or UTF-16 decode
# branch, and 30% each through chunked and gzip transfer decoding, so that
# every branch handles enough rows in one job to be timed and a regression
# in any of them moves pages_per_s. Hosts are Zipf(1.6) over 40 hosts and
# paragraph counts Pareto(1.2): heavy tails on purpose, so url-hash buckets
# and page bodies are skewed as in a crawl, not uniform.
CORPUS_DOCS = 400
NEAR_DUP_SHARE = 0.15          # docs that are light edits of another doc
HOT_SHARE = 0.045              # one near-copy cluster (one hot LSH bucket)


def _host_zipf(rng: np.random.Generator, n_hosts: int = 40) -> int:
    return min(int(rng.zipf(1.6)), n_hosts)


def _dump(path: str, obj) -> None:
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True)


def _write_pages(rows: list[dict], out_dir: str, n_files: int) -> None:
    """Pages table (url, warc_ts, html, lang) as ``n_files`` parquet files
    with µs timestamps; rows are striped over the files."""
    os.makedirs(out_dir, exist_ok=True)
    schema = pa.schema([("url", pa.string()), ("warc_ts", pa.timestamp("us")),
                        ("html", pa.binary()), ("lang", pa.string())])
    for f in range(n_files):
        part = rows[f::n_files]
        tbl = pa.Table.from_pylist(part, schema=schema)
        pq.write_table(tbl, os.path.join(out_dir, f"part-{f:04d}.parquet"))


def _render(text: str, dim: int, s: int, font, payload: str) -> tuple[bytes, str]:
    img, lines = fx.render_page(text, dim, dim, s, font=font)
    enc = fx.encode_tpbit if payload == "tpbit" else fx.encode_tpage
    return enc(img), "\n".join(lines)


def _random_text(rng: np.random.Generator, dim: int, s: int) -> str:
    cols, prow = fx.page_capacity(dim, dim, s)
    length = int(rng.integers(1, min(cols * prow, 40) + 1))
    return "".join(rng.choice(fx._ALLOWED_UNIQUE, size=length))


_POISON_KINDS = ("null_payload", "truncated_tpbit", "unknown_magic")


def _poison_payload(kind: str, rng: np.random.Generator) -> bytes | None:
    if kind == "null_payload":
        return None
    if kind == "truncated_tpbit":
        # header claims 256x256 but only a few bytes of bits follow
        return (fx.TPBIT_MAGIC + (256).to_bytes(2, "little")
                + (256).to_bytes(2, "little") + rng.bytes(64))
    return b"ZZZZ" + rng.bytes(32)


def _page_rows(rng: np.random.Generator, prefix: str, n_small: int,
               n_large: int, large_payload: str, heavy_hosts: int | None,
               font) -> tuple[list[dict], dict, list[str]]:
    """Shuffled page rows: ``n_small`` 256² TPBIT pages, ``n_large`` 2048²
    pages and ~POISON_SHARE poison rows (at least one of each kind);
    returns (rows, url -> text, poison urls)."""
    n_poison = max(len(_POISON_KINDS),
                   int(round(POISON_SHARE * (n_small + n_large))))
    kinds = (["small"] * n_small + ["large"] * n_large
             + [f"poison:{_POISON_KINDS[i % len(_POISON_KINDS)]}"
                for i in range(n_poison)])
    kinds = [kinds[i] for i in rng.permutation(len(kinds))]
    rows, truth, poison = [], {}, []
    for i, kind in enumerate(kinds):
        if kind == "large" and heavy_hosts:
            host = int(rng.integers(0, heavy_hosts))
        else:
            host = _host_zipf(rng)
        url = f"https://h{host}.example/{prefix}/p{i:06d}"
        if kind.startswith("poison:"):
            html = _poison_payload(kind.split(":", 1)[1], rng)
            poison.append(url)
        elif kind == "large":
            html, text = _render(_random_text(rng, 2048, 8), 2048, 8, font,
                                 large_payload)
            truth[url] = text
        else:
            html, text = _render(_random_text(rng, 256, 4), 256, 4, font,
                                 "tpbit")
            truth[url] = text
        rows.append({"url": url,
                     "warc_ts": fx.EPOCH + np.timedelta64(
                         int(rng.integers(0, 10_000_000)), "s"),
                     "html": html,
                     "lang": fx.LANGS[int(rng.integers(0, len(fx.LANGS)))]})
    return rows, truth, poison


def gen_pages(out: str, seed: int, n_small: int, n_large: int,
              large_payload: str, heavy_hosts: int | None) -> dict:
    """Pages table of ``_page_rows`` (``large_payload`` = tpbit | tpage;
    with ``heavy_hosts`` the large pages sit on that many hosts only,
    other hosts are Zipf-distributed), plus a warm-up table with 1/8 of
    the small pages, one large page and one poison row of each kind."""
    rng = np.random.default_rng(seed)
    font = ft.build_font()
    rows, truth, poison = _page_rows(rng, str(seed), n_small, n_large,
                                     large_payload, heavy_hosts, font)
    w_rows, w_truth, w_poison = _page_rows(
        rng, f"{seed}-warm", n_small // WARM_SHARE, min(1, n_large),
        large_payload, heavy_hosts, font)
    _write_pages(rows, os.path.join(out, "input"), INPUT_FILES)
    _write_pages(w_rows, os.path.join(out, "warmup"), 1)
    _dump(os.path.join(out, "truth.json"),
          {"text": truth, "poison": poison,
           "warmup": {"text": w_truth, "poison": w_poison}})
    n = len(rows)
    sizes = [len(r["html"] or b"") for r in rows]
    heavy = [b for b in sizes if b > (1 << 20)]
    return {"rows": n, "pages_ok": len(truth), "poison_rows": len(poison),
            "poison_share": len(poison) / n, "heavy_rows": len(heavy),
            "heavy_share": len(heavy) / n, "large_pages": n_large,
            "large_payload": large_payload, "payload_bytes": sum(sizes),
            "heavy_payload_share": sum(heavy) / sum(sizes),
            "warmup_rows": len(w_rows)}


# -- WARC crawl --------------------------------------------------------------

_WORDS = ("data crawl page index spark column batch stream table window "
          "merge filter query value order group vector sort join scan").split()
# per-charset extra vocabulary: every word is encodable in its charset
_EXTRA = {
    "utf-8": ["東京", "Привет", "naïve", "façade", "€uro", "日本語"],
    "utf-8-bom": ["Ωmega", "straße", "naïve", "καλημέρα"],
    "iso-8859-1": ["café", "naïve", "façade", "über", "señor", "Ærø"],
    "windows-1252": ["€uro", "“quoted”", "–dash", "œuvre", "café", "Š"],
    "utf-16le": ["東京", "Привет", "café", "שלום"],
}
_CHARSETS = list(_EXTRA)
_CHARSET_P = [0.55, 0.1, 0.15, 0.1, 0.1]     # stress mix, see above
CHUNKED_SHARE = 0.3
GZIP_SHARE = 0.3


def _sentence(rng: np.random.Generator, cs: str, n: int) -> str:
    pool = _WORDS + _EXTRA[cs]
    return " ".join(pool[int(j)] for j in rng.integers(0, len(pool), n))


def _html_page(rng: np.random.Generator, cs: str, i: int) -> tuple[str, str]:
    """(html, expected main_text): main text is the title plus paragraph
    text; script/style/nav/header/footer/aside blocks and comments hold
    boilerplate only. ``R&amp;D`` checks entity decoding.

    UTF-16 pages are kept short (one paragraph, one boilerplate block, at
    most UTF16_BODY_CAP encoded bytes): the engine's UTF-16 validity regex
    overflows the JVM stack on UTF-16 bodies of about 2 KB (a
    StackOverflowError that shuts the SparkContext down), so longer UTF-16
    pages would fail every run. Each result's context lists this under
    ``known_defects``."""
    meta = {"utf-8": '<meta charset="utf-8">',
            "utf-8-bom": '<meta charset="utf-8">',
            "iso-8859-1": '<meta charset="iso-8859-1">',
            "windows-1252": ('<meta http-equiv="Content-Type" '
                             'content="text/html; charset=windows-1252">'),
            "utf-16le": ""}[cs]
    title = f"doc {i} {_sentence(rng, cs, 3)}"
    if cs == "utf-16le":
        words = _sentence(rng, cs, int(rng.integers(4, 12))).split()
        while True:
            para = " ".join(words)
            html = (f"<html><head><title>{title}</title></head><body>"
                    f"<nav>menu</nav><p>{para}</p></body></html>")
            if len(_encode_body(html, cs)) <= UTF16_BODY_CAP:
                return html, " ".join(f"{title} {para}".split())
            words.pop()
    # heavy-tailed body: Pareto paragraph count
    n_par = min(1 + int(rng.pareto(1.2) * 2), 120)
    paras = [_sentence(rng, cs, int(rng.integers(8, 40)))
             for _ in range(n_par)]
    if rng.random() < 0.3:
        paras[0] += " R&amp;D"
    body = []
    for j, p in enumerate(paras):
        body.append(f"<p class=\"c{j % 3}\">{p}</p>")
        if j % 4 == 1:
            body.append(f"<!-- ad slot {j} -->")
        if j % 5 == 2:
            body.append("<aside>related links sidebar</aside>")
    html = (f"<html><head>{meta}<title>{title}</title>"
            "<style>p { margin: 0 }</style>"
            "<script>var t = '<p>tracking</p>';</script></head><body>"
            "<header>site header</header><nav><a href=\"/\">home</a> "
            "menu</nav>" + "\n".join(body)
            + "<footer>copyright footer</footer></body></html>")
    expected = " ".join([title] + paras).replace("R&amp;D", "R&D")
    return html, " ".join(expected.split())


def _encode_body(html: str, cs: str) -> bytes:
    if cs == "utf-8-bom":
        return b"\xef\xbb\xbf" + html.encode("utf-8")
    if cs == "utf-16le":
        return html.encode("utf-16")        # little-endian with BOM
    return html.encode(cs)


def _corrupt_block(rng: np.random.Generator, body: bytes) -> bytes:
    """A response block whose HTTP layer is broken: chunk framing that
    does not parse, or a gzip body cut short."""
    if rng.random() < 0.5:
        return (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
                b"Transfer-Encoding: chunked\r\n\r\n"
                b"zz-not-a-chunk-size\r\n" + body[:40])
    cut = gzip.compress(body, mtime=0)[:30]
    return (b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
            b"Content-Encoding: gzip\r\nContent-Length: "
            + str(len(cut)).encode() + b"\r\n\r\n" + cut)


def _http_block(p: dict) -> bytes:
    if "raw_block" in p:
        return p["raw_block"]
    return W.http_response(200, "OK", {"Content-Type": p["content_type"]},
                           p["body"], chunked=p["chunked"],
                           gzip_body=p["gzip_body"])


def _encode_container(pages: list[dict]) -> bytes:
    """encode_warc's record mix (warcinfo, then request + response +
    metadata per page), with response blocks built by ``_http_block`` so
    corrupt HTTP layers can be planted."""
    recs = [W._record("warcinfo", {"WARC-Date": "2026-01-01T00:00:00Z",
                                   "Content-Type": "application/warc-fields"},
                      b"software: perfbench\r\n")]
    for p in pages:
        recs.append(W._record("request", {
            "WARC-Target-URI": p["url"], "WARC-Date": p["date"],
            "Content-Type": "application/http; msgtype=request"},
            f"GET {p['url']} HTTP/1.1\r\nHost: example.org\r\n\r\n".encode()))
        recs.append(W._record("response", {
            "WARC-Target-URI": p["url"], "WARC-Date": p["date"],
            "Content-Type": "application/http; msgtype=response"},
            _http_block(p)))
        recs.append(W._record("metadata", {
            "WARC-Target-URI": p["url"], "WARC-Date": p["date"],
            "Content-Type": "application/warc-fields"},
            b"fetchTimeMs: 7\r\n"))
    return b"".join(gzip.compress(r, mtime=0) for r in recs)


def _warc_pages(rng: np.random.Generator, prefix: str,
                n_pages: int) -> tuple[list[dict], dict]:
    """``n_pages`` response pages with at least 2 and ~CORRUPT_SHARE
    corrupt; returns (pages, truth: main_text / charset / corrupt)."""
    n_corrupt = max(2, int(round(CORRUPT_SHARE * n_pages)))
    corrupt_idx = set(int(i) for i in rng.choice(n_pages, n_corrupt,
                                                 replace=False))
    pages = []
    truth: dict = {"main_text": {}, "charset": {}, "corrupt": []}
    for i in range(n_pages):
        cs = _CHARSETS[int(rng.choice(len(_CHARSETS), p=_CHARSET_P))]
        html, expected = _html_page(rng, cs, i)
        body = _encode_body(html, cs)
        url = f"https://h{_host_zipf(rng)}.example/{prefix}/w{i:06d}"
        p = {"url": url, "date": f"2026-01-{1 + i % 28:02d}T00:00:00Z",
             "content_type": "text/html", "body": body, "charset": cs,
             "chunked": bool(rng.random() < CHUNKED_SHARE),
             "gzip_body": bool(rng.random() < GZIP_SHARE)}
        if i in corrupt_idx:
            p["raw_block"] = _corrupt_block(rng, body)
            truth["corrupt"].append(url)
        else:
            truth["main_text"][url] = expected
            truth["charset"][url] = cs
        pages.append(p)
    return pages, truth


def _write_containers(pages: list[dict], out_dir: str, n_files: int) -> int:
    """Pages striped over ``n_files`` .warc.gz containers; total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for f in range(n_files):
        blob = _encode_container(pages[f::n_files])
        total += len(blob)
        with open(os.path.join(out_dir, f"part-{f:04d}.warc.gz"), "wb") as fh:
            fh.write(blob)
    return total


def gen_warc(out: str, seed: int, n_pages: int = WARC_PAGES,
             n_files: int = WARC_FILES) -> dict:
    """WARC containers of ``_warc_pages`` plus a warm-up set of 1/8 the
    pages in 2 containers."""
    rng = np.random.default_rng(seed)
    pages, truth = _warc_pages(rng, str(seed), n_pages)
    w_pages, w_truth = _warc_pages(rng, f"{seed}-warm", n_pages // WARM_SHARE)
    container_bytes = _write_containers(pages, os.path.join(out, "input"),
                                        n_files)
    _write_containers(w_pages, os.path.join(out, "warmup"), 2)
    _dump(os.path.join(out, "truth.json"), {**truth, "warmup": w_truth})
    bodies = sorted(len(p["body"]) for p in pages)
    utf16 = [len(p["body"]) for p in pages if p["charset"] == "utf-16le"]
    charsets = truth["charset"]
    n_non_utf8 = sum(1 for c in charsets.values()
                     if c not in ("utf-8", "utf-8-bom"))
    return {"records": n_files + 3 * n_pages, "response_records": n_pages,
            "corrupt_records": len(truth["corrupt"]),
            "corrupt_share": len(truth["corrupt"]) / n_pages,
            "non_utf8_pages": n_non_utf8,
            "non_utf8_share": n_non_utf8 / max(1, len(charsets)),
            "chunked_share": sum(p["chunked"] for p in pages) / n_pages,
            "gzip_share": sum(p["gzip_body"] for p in pages) / n_pages,
            "body_bytes_median": bodies[len(bodies) // 2],
            "body_bytes_max": bodies[-1], "container_bytes": container_bytes,
            "files": n_files, "utf16_pages": len(utf16),
            "utf16_body_bytes_max": max(utf16, default=0),
            "utf16_body_cap_bytes": UTF16_BODY_CAP,
            "warmup_pages": len(w_pages)}


# -- corpus (documents.parquet schema) ---------------------------------------

_DOC_WORDS = ("spark window merge table column vector stream value data small "
              "join filter big group hash customer sort order slow line part "
              "fast row the agg key query a scan batch").split()
_DOC_LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]


def _doc_text(rng: np.random.Generator, vocab: list[str]) -> str:
    # heavy-tailed length: lognormal word count, capped
    n = int(min(max(rng.lognormal(3.8, 0.6), 8), 400))
    return " ".join(vocab[int(j)] for j in rng.integers(0, len(vocab), n))


def _near_copy(rng: np.random.Generator, text: str, vocab: list[str]) -> str:
    words = text.split()
    for j in rng.choice(len(words), max(1, len(words) // 25), replace=False):
        words[int(j)] = vocab[int(rng.integers(0, len(vocab)))]
    return " ".join(words)


def gen_corpus(out: str, seed: int, n_docs: int = CORPUS_DOCS) -> dict:
    rng = np.random.default_rng(seed)
    # a wider vocabulary than the word soup alone keeps unrelated docs
    # apart, so near-duplicates are the planted ones
    vocab = _DOC_WORDS + [f"t{j}" for j in range(600)]
    n_hot = int(round(HOT_SHARE * n_docs))
    n_near = int(round(NEAR_DUP_SHARE * n_docs))
    hot_base = _doc_text(rng, vocab)
    texts: list[str] = []
    kind: list[str] = []
    for i in range(n_docs):
        if i < n_hot:
            texts.append(_near_copy(rng, hot_base, vocab))
            kind.append("hot")
        elif i < n_hot + n_near and len(texts) > n_hot:
            src = texts[int(rng.integers(n_hot, len(texts)))]
            texts.append(_near_copy(rng, src, vocab))
            kind.append("near")
        else:
            texts.append(_doc_text(rng, vocab))
            kind.append("base")
    order = rng.permutation(n_docs)
    texts = [texts[i] for i in order]
    kind = [kind[i] for i in order]
    tbl = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([_DOC_LANGS[int(j)] for j in
                          rng.integers(0, len(_DOC_LANGS), n_docs)]),
        "source": pa.array([f"src{int(j)}" for j in
                            rng.integers(0, 20, n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })
    in_dir = os.path.join(out, "input")
    os.makedirs(in_dir, exist_ok=True)
    pq.write_table(tbl, os.path.join(in_dir, "documents.parquet"))
    # verifier.compare_query opens a DuckDB view on every registry table;
    # the 12 queries read documents only, so the rest are placeholders
    for t in verifier.TABLES:
        if t != "documents":
            pq.write_table(pa.table({"placeholder": [0]}),
                           os.path.join(in_dir, f"{t}.parquet"))
    _dump(os.path.join(out, "truth.json"), {})
    lens = sorted(len(t) for t in texts)
    return {"docs": n_docs, "hot_cluster_docs": kind.count("hot"),
            "hot_share": kind.count("hot") / n_docs,
            "near_dup_docs": kind.count("near") + kind.count("hot"),
            "near_dup_share": (kind.count("near") + kind.count("hot"))
            / n_docs,
            "doc_chars_median": lens[n_docs // 2],
            "doc_chars_p99": lens[int(0.99 * (n_docs - 1))],
            "doc_chars_max": lens[-1]}


GENERATORS = {
    "ocr_pages": lambda out, seed: gen_pages(
        out, seed, OCR_PAGES_SMALL, OCR_PAGES_LARGE, "tpbit", None),
    "ocr_skew": lambda out, seed: gen_pages(
        out, seed, SKEW_SMALL, SKEW_LARGE, "tpage", SKEW_HOSTS),
    "warc_crawl": gen_warc,
    "corpus_mix": gen_corpus,
}


def ensure_inputs(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Generate (once) the inputs for (workload, seed); returns
    (directory, props). A directory is complete only once props.json
    exists, so an interrupted generation is redone."""
    d = os.path.join(cache_root, f"{workload}-s{seed}-v{GEN_VERSION}")
    props_path = os.path.join(d, "props.json")
    if not os.path.exists(props_path):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        props = GENERATORS[workload](d, seed)
        _dump(props_path, props)
    with open(props_path) as f:
        return d, json.load(f)

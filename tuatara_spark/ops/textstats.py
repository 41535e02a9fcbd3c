"""Text-analysis operators: token counting, quality scoring, language-ID
heuristics, document fingerprinting. Pure Catalyst expressions."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from tuatara_spark import partitioning as pt

LANG_MARKERS = {
    "en": [" the ", " and "],
    "es": [" el ", " la "],
    "de": [" der ", " und "],
    "fr": [" le ", " et "],
}


def _count_occurrences(text_col: str, needle: str) -> "F.Column":
    """Occurrences of a literal substring (length-delta trick — identical
    semantics in ANSI SQL for the DuckDB oracle)."""
    n = len(needle)
    return ((F.length(text_col)
             - F.length(F.replace(F.col(text_col), F.lit(needle), F.lit(""))))
            / F.lit(n)).cast("int")


def token_count(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + a word-ish regex token count (BPE-ish
    pre-tokenization: runs of alphanumerics or single punctuation)."""
    ws = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    wordish = F.size(F.expr(
        f"regexp_extract_all({text_col}, '[a-zA-Z0-9]+|[^a-zA-Z0-9\\\\s]', 0)"))
    return df.select(id_col, ws.alias("ws_tokens"),
                     wordish.alias("regex_tokens"))


def quality_score(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Length / alpha-ratio / stopword-ratio quality features + a composite
    score — the standard cheap web-text quality gates."""
    total = F.length(text_col)
    alpha = F.length(F.regexp_replace(text_col, "[^a-z]", ""))
    spaces = F.length(text_col) - F.length(F.replace(F.col(text_col),
                                                     F.lit(" "), F.lit("")))
    the_cnt = _count_occurrences(text_col, " the ")
    ws_tokens = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    # raw doubles — callers floor-scale for presentation/oracle comparison
    return df.select(id_col, total.alias("n_bytes"),
                     ws_tokens.alias("ws_tokens"),
                     (alpha / total).alias("alpha_ratio"),
                     (spaces / total).alias("space_ratio"),
                     (the_cnt / ws_tokens).alias("stop_ratio"),
                     (alpha / total * F.lit(0.7)
                      + the_cnt / ws_tokens * F.lit(0.3)).alias("quality"))


#: Page-level blocklist placeholder — C4 (Raffel et al. 2020 §2.2)
#: filters on the public "List of Dirty, Naughty, Obscene..." wordlist;
#: shipping that list adds no engineering content, so a 3-word
#: deterministic stand-in keeps the rule exercised and the tests stable.
C4_BADWORDS: tuple[str, ...] = ("casino", "viagra", "nastyword")


def c4_filter(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id",
              badwords: tuple[str, ...] = C4_BADWORDS) -> DataFrame:
    """C4 cleaning rules (Raffel et al. 2020 §2.2, the public JMLR
    paper) — the line- and page-level filters that turned Common Crawl
    into C4 (the three-sentence-span dedup is separate:
    :func:`tuatara_spark.ops.dedup.segment_dedup`).

    Line rules (a line survives iff ALL hold):

    * ends in a terminal punctuation mark (``. ! ?`` or a closing
      double quote);
    * has at least 5 space-separated words;
    * does not mention ``javascript`` (case-insensitive).

    Page rules (page_kept = 0 drops the whole document): contains
    ``lorem ipsum`` (boilerplate placeholder), contains ``{`` (source
    code), any blocklist word, or fewer than 3 sentences remaining
    after the line filters.

    Scale shape: one shuffle-free narrow projection — the line filter
    is a higher-order array ``filter`` over ``split(text, '\\n')``
    running entirely inside whole-stage codegen; no UDF, no shuffle,
    and column pruning ships only (id, text) from the scan.
    """
    lines = F.split(F.col(text_col), "\n")
    kept = F.filter(
        lines,
        lambda x: F.trim(x).rlike('[.!?"]$')
        & (F.size(F.split(F.trim(x), " +")) >= 5)
        & ~F.contains(F.lower(x), F.lit("javascript")))
    cleaned = F.array_join(kept, "\n")
    low = F.lower(F.col(text_col))
    bad = F.lit(False)
    for wrd in badwords:
        bad = bad | low.contains(wrd)
    return (df.select(F.col(id_col), F.size(lines).alias("n_lines"),
                      F.size(kept).alias("n_kept"),
                      F.regexp_count(cleaned, F.lit("[.!?]+"))
                      .cast("long").alias("n_sentences"),
                      (~(low.contains("lorem ipsum")
                         | F.col(text_col).contains("{") | bad)).alias("_pg"),
                      cleaned.alias("cleaned"))
            .select(id_col, "n_lines", "n_kept", "n_sentences",
                    (F.col("_pg") & (F.col("n_sentences") >= 3))
                    .cast("int").alias("page_kept"), "cleaned"))


def readability(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Integer-exact readability scoring: Flesch Reading Ease and
    Flesch–Kincaid grade (Kincaid et al. 1975, the public Navy report)
    on a ×1000 fixed-point scale — a standard document-quality prior
    for pretraining-corpus tiering (too-hard and too-trivial pages both
    correlate with boilerplate/spam).

    Counts are regex-defined and engine-portable: words = runs of
    ASCII letters; sentences = runs of ``[.!?]``; syllables = vowel
    GROUPS ``[aeiouy]+`` per lowercased text (the classic cheap
    heuristic — contiguous vowels count once). With W, S, Y as BIGINTs
    and floor division (denominators clamped to ≥1):

    * ``flesch_milli = 206835 − 1015·W div S − 84600·Y div W``
    * ``fk_grade_milli = 390·W div S + 11800·Y div W − 15590``

    Every intermediate is integer, so Spark and the DuckDB oracle agree
    bit-for-bit. Scale shape: shuffle-free narrow projection; the three
    regex counts run inside whole-stage codegen over the scan."""
    low = F.lower(F.col(text_col))
    w = F.regexp_count(low, F.lit("[a-z]+")).cast("long")
    s = F.greatest(F.regexp_count(low, F.lit("[.!?]+")).cast("long"),
                   F.lit(1).cast("long"))
    y = F.regexp_count(low, F.lit("[aeiouy]+")).cast("long")
    # Floor division must be SQL `div` (Column.__truediv__ is float
    # division), so the score arithmetic is expressed over named
    # subexpression columns.
    return (df.select(F.col(id_col), w.alias("_w"), s.alias("_s"),
                      y.alias("_y"))
            .select(id_col,
                    F.col("_w").alias("n_words"),
                    F.col("_s").alias("n_sentences"),
                    F.col("_y").alias("n_syllables"),
                    F.expr("206835 - (1015 * _w) div _s"
                           " - (84600 * _y) div greatest(_w, 1L)")
                    .cast("long").alias("flesch_milli"),
                    F.expr("(390 * _w) div _s"
                           " + (11800 * _y) div greatest(_w, 1L) - 15590")
                    .cast("long").alias("fk_grade_milli")))


def lang_markers(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id") -> DataFrame:
    """Language-ID heuristic: stopword-marker counts per language and the
    argmax prediction (n-gram/stopword heuristic; deterministic)."""
    cols = {lang: sum(_count_occurrences(text_col, m) for m in markers)
            for lang, markers in LANG_MARKERS.items()}
    pred = F.lit("unk")
    best = F.lit(0)
    for lang in sorted(cols):  # deterministic tie-break: first alphabetical
        c = cols[lang]
        pred = F.when(c > best, F.lit(lang)).otherwise(pred)
        best = F.when(c > best, c).otherwise(best)
    sel = [F.col(id_col)] + \
        [cols[lang].alias(f"{lang}_markers") for lang in sorted(cols)] + \
        [pred.alias("pred_lang")]
    return df.select(*sel)


def fingerprint(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", k: int = 8) -> DataFrame:
    """Document fingerprints: a whole-text hash and a winnowing-style
    min-k-gram fingerprint (min md5 over character k-grams — stable across
    whitespace-preserving edits elsewhere in the doc)."""
    lc = f"lower({text_col})"
    grams = (f"CASE WHEN length({lc}) < {k} THEN array(lower({text_col})) "
             f"ELSE transform(sequence(1, length({lc}) - {k} + 1), "
             f"i -> substring({lc}, i, {k})) END")
    return df.select(
        id_col,
        F.md5(text_col).alias("text_md5"),
        F.expr(f"array_min(transform({grams}, g -> md5(g)))")
        .alias("min_kgram_md5"))


def vocabulary(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id", top_k: int = 50) -> DataFrame:
    """Corpus vocabulary: the ``top_k`` most frequent whitespace tokens
    (lowercased) with document frequencies — the tokenizer-building /
    stopword-mining primitive. Rank ties break lexicographically so the
    cut is deterministic.

    Scale: explode → ONE groupBy(token) with map-side partial counts →
    global top-k via orderBy+limit (TakeOrdered on the tiny distinct-token
    aggregate, never a full sort of the corpus)."""
    tok = df.select(
        F.col(id_col).alias("_row"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))),
                          r"\s+")).alias("token"))
    counts = (tok.filter(F.col("token") != "")
              .groupBy("token")
              .agg(F.count("*").alias("tf"),
                   F.countDistinct("_row").alias("df")))
    return (counts.orderBy(F.col("tf").desc(), F.col("token"))
            .limit(top_k))


def canonical_url(df: DataFrame, url_col: str = "url") -> DataFrame:
    """URL canonicalization for crawl dedup: lowercase scheme+host, strip
    fragments, strip common tracking query params (utm_*, fbclid, gclid),
    drop a trailing slash on the path. Pure Catalyst (parse_url +
    regexp), no UDF. Adds ``url_canon``."""
    c = F.col(url_col)
    c = F.regexp_replace(c, r"#.*$", "")                  # fragment
    c = F.regexp_replace(
        c, r"([?&])(?:utm_[A-Za-z]+|fbclid|gclid)=[^&#]*", "$1")
    c = F.regexp_replace(c, r"[?&]+$", "")                # dangling ? / &
    c = F.regexp_replace(c, r"\?&+", "?")                 # ?&x → ?x
    c = F.regexp_replace(c, r"&&+", "&")                  # x&&y → x&y
    # lowercase scheme://host only (path/query stay case-sensitive)
    c = F.concat(F.lower(F.regexp_extract(c, r"^([^:/?#]+://[^/?#]*)", 1)),
                 F.regexp_replace(c, r"^[^:/?#]+://[^/?#]*", ""))
    c = F.regexp_replace(c, r"/\?", "?")                 # path-final /?
    c = F.regexp_replace(c, r"/$", "")
    return df.withColumn("url_canon", c)


# PII span patterns (the C4/Gopher-style pretraining scrub set) — one
# regex dialect that means the same thing in Java (Spark) and RE2
# (DuckDB): no lookarounds, no backrefs.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"),
    ("phone", r"\+\d[\d()\- ]{7,}\d"),
)


def redact_pii(df: DataFrame, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Pretraining-corpus PII scrub: replace email / IPv4 / phone spans
    with typed tokens (<EMAIL>/<IPV4>/<PHONE>) and report per-kind match
    counts. Patterns apply in declaration order (an IPv4 inside an
    already-redacted email can't double-count). Pure Catalyst projection
    — no shuffle, no Python."""
    red = F.col(text_col)
    cols = [F.col(id_col)]
    for kind, pat in PII_PATTERNS:
        # counts run on the PROGRESSIVELY redacted text so the numbers
        # are consistent with replacement order (an IPv4-looking span
        # inside an already-redacted email is not double-counted)
        cols.append(F.regexp_count(red, F.lit(pat)).alias(f"n_{kind}"))
        red = F.regexp_replace(red, pat, f"<{kind.upper()}>")
    return df.select(*cols, red.alias("redacted"))


def gopher_quality(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id",
                   min_words: int = 50, max_words: int = 100_000,
                   min_mean_wlen: int = 3, max_mean_wlen: int = 10)\
        -> DataFrame:
    """Gopher-rules document quality gate (the PUBLISHED pretraining-data
    heuristics of Rae et al. 2021, "Scaling Language Models", table A1):
    word-count bounds, mean-word-length bounds, symbol-to-word ratio
    (#/… ≤ 1/10), ≥80% words containing an alphabetic character, ≥2
    distinct required stop words, ≤90% bullet-started and ≤30%
    ellipsis-ended lines.

    Everything is computed on the raw string with regexp counts — no
    explode, no shuffle, one embarrassingly parallel projection — and
    every ratio test uses CROSS-MULTIPLIED integer comparisons (e.g.
    mean word length ∈ [3,10] ⟺ 3·n_words ≤ n_chars ≤ 10·n_words), so
    the gate is bit-exact across engines and never touches a float."""
    t = F.col(text_col)
    n_words = F.size(F.split(F.trim(t), r"\s+"))
    n_chars = F.length(F.regexp_replace(t, r"\s", ""))
    n_alpha = F.regexp_count(t, F.lit(r"\S*[A-Za-z]\S*"))
    n_sym = (F.regexp_count(t, F.lit("#"))
             + F.regexp_count(t, F.lit(r"\.\.\.")))
    n_stop = sum(
        F.when(t.rlike(rf"\b{wd}\b"), 1).otherwise(0)
        for wd in ("the", "be", "to", "of", "and", "that", "have", "with"))
    n_lines = F.size(F.split(t, "\n"))
    n_bullet = F.regexp_count(t, F.lit(r"(?m)^\s*[-*•]"))
    n_ellip = F.regexp_count(t, F.lit(r"(?m)\.\.\.$"))
    out = (df.select(
        F.col(id_col), n_words.alias("n_words"), n_chars.alias("n_chars"),
        n_alpha.alias("n_alpha_words"), n_sym.alias("n_symbols"),
        n_stop.alias("n_stop_words"), n_lines.alias("n_lines"),
        n_bullet.alias("n_bullet_lines"), n_ellip.alias("n_ellipsis_lines"))
        .withColumn("ok_word_count",
                    (F.col("n_words") >= min_words)
                    & (F.col("n_words") <= max_words))
        .withColumn("ok_mean_wlen",
                    (F.col("n_chars") >= min_mean_wlen * F.col("n_words"))
                    & (F.col("n_chars") <= max_mean_wlen * F.col("n_words")))
        .withColumn("ok_symbol_ratio",
                    F.col("n_symbols") * 10 <= F.col("n_words"))
        .withColumn("ok_alpha_ratio",
                    F.col("n_alpha_words") * 10 >= F.col("n_words") * 8)
        .withColumn("ok_stop_words", F.col("n_stop_words") >= 2)
        .withColumn("ok_bullets",
                    F.col("n_bullet_lines") * 10 <= F.col("n_lines") * 9)
        .withColumn("ok_ellipsis",
                    F.col("n_ellipsis_lines") * 10 <= F.col("n_lines") * 3))
    flags = [c for c in out.columns if c.startswith("ok_")]
    cond = F.col(flags[0])
    for c in flags[1:]:
        cond = cond & F.col(c)
    return out.withColumn("gopher_pass", cond)


def top_terms(df: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", k: int = 3) -> DataFrame:
    """Per-document top-k characteristic terms: rank tokens by term
    frequency × corpus rarity, scored as ``floor(tf · 10^6 / df)`` —
    INTEGER-exact tf-idf-style ranking (no float logarithm, so the score
    is bit-identical across engines; ulp differences in ln() would make
    an oracle flaky). Ties break lexicographically.

    Scale: token explode → (doc, token) counts (map-side partial) →
    broadcast-size document-frequency join keyed on token → per-doc
    window top-k over the small per-doc distinct-token set."""
    from pyspark.sql import Window
    tok = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))),
                          r"\s+")).alias("token")).filter(F.col("token") != "")
    tf = tok.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))
    # `div` is Spark's integer division — exact long arithmetic end to
    # end, never routed through an IEEE double (all values positive, so
    # truncation == floor == DuckDB's `//`).
    scored = (tf.join(dfreq, "token")
              .withColumn("score", F.expr("tf * 1000000L div df")))
    wnd = (Window.partitionBy(id_col)
           .orderBy(F.col("score").desc(), F.col("token")))
    return (scored.withColumn("_rn", F.row_number().over(wnd))
            .filter(F.col("_rn") <= k)
            .select(id_col, F.col("_rn").alias("rank"), "token",
                    "tf", "df", "score"))


def gopher_repetition(df: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Gopher repetition-removal signals (Rae et al. 2021, table A1's
    repetition rules — the companion to :func:`gopher_quality`'s static
    rules): duplicate-line and duplicate-paragraph fractions by count
    AND by character mass, plus the top-{2,3,4}-word-gram character
    fractions. Thresholds (0.30 / 0.30 / 0.20 / 0.20 / 0.20 / 0.18 /
    0.16) are applied as CROSS-MULTIPLIED integer comparisons, so the
    gate never touches a float and is bit-exact across engines.

    Definitions (stated because the paper leaves them loose): lines
    split on ``\\n``, paragraphs on ``\\n\\n``, both trimmed with
    empties dropped; duplicates are occurrences beyond a value's first
    (``count − 1`` per distinct value); tokens are lowercase
    ``\\s+``-splits; a top gram's character mass is its occurrence
    count × its non-space length, against the total token-character
    mass. The duplicate-n-gram POSITION-UNION fractions (A1's 5..10-gram
    rules) need per-token interval unions and live in the companion
    :func:`dup_ngram_coverage`.

    Scale shape: one keyed repartition by ``id_col``, then every
    explode→groupBy((id, value))→groupBy(id) chain and the n-gram lead
    window reuse that partitioning — the exploded tables never
    reshuffle; the final assembly joins are all on the id. No Python,
    no floats, no cross-document state.
    """
    ids = (df.repartition(pt.wide(df), F.col(id_col))
           .select(F.col(id_col).alias("_id"), F.col(text_col).alias("_t")))

    def dup_stats(sep: str, prefix: str) -> DataFrame:
        vals = (ids.select("_id", F.explode(F.split("_t", sep)).alias("_v"))
                .select("_id", F.trim("_v").alias("_v"))
                .where(F.col("_v") != ""))
        return (vals.groupBy("_id", "_v").agg(F.count("*").alias("_c"))
                .groupBy("_id").agg(
                    F.sum("_c").alias(f"n_{prefix}s"),
                    F.sum(F.col("_c") - 1).alias(f"n_dup_{prefix}s"),
                    F.sum(F.col("_c") * F.length("_v"))
                    .alias(f"{prefix}_chars"),
                    F.sum((F.col("_c") - 1) * F.length("_v"))
                    .alias(f"dup_{prefix}_chars")))

    lstats = dup_stats(r"\n", "line")
    pstats = dup_stats(r"\n\n", "para")

    tok = ids.select("_id", F.posexplode(F.expr(
        r"filter(split(lower(trim(_t)), '\\s+'), x -> x != '')"))
        .alias("_p", "_w"))
    from pyspark.sql import Window
    w = Window.partitionBy("_id").orderBy("_p")
    grams = tok.select(
        "_id", "_w",
        F.lead("_w", 1).over(w).alias("_w1"),
        F.lead("_w", 2).over(w).alias("_w2"),
        F.lead("_w", 3).over(w).alias("_w3"))
    tstats = tok.groupBy("_id").agg(
        F.sum(F.length("_w")).alias("token_chars"))

    def top_gram(cols: list[str], name: str) -> DataFrame:
        g = F.concat_ws(" ", *[F.col(c) for c in cols])
        cand = (grams.where(F.col(cols[-1]).isNotNull())
                .select("_id", g.alias("_g")))
        cnt = cand.groupBy("_id", "_g").agg(F.count("*").alias("_c"))
        # argmax by (count, gram): deterministic — count desc, then the
        # lexicographically GREATEST gram on ties (struct max order)
        return (cnt.groupBy("_id")
                .agg(F.max(F.struct("_c", "_g")).alias("_m"))
                .select("_id",
                        F.col("_m._g").alias(f"{name}_gram"),
                        F.col("_m._c").alias(f"{name}_count"),
                        (F.col("_m._c")
                         * F.length(F.replace(F.col("_m._g"), F.lit(" "),
                                              F.lit(""))))
                        .alias(f"{name}_chars")))

    t2 = top_gram(["_w", "_w1"], "top2")
    t3 = top_gram(["_w", "_w1", "_w2"], "top3")
    t4 = top_gram(["_w", "_w1", "_w2", "_w3"], "top4")

    out = (ids.select("_id")
           .join(lstats, "_id", "left").join(pstats, "_id", "left")
           .join(tstats, "_id", "left")
           .join(t2, "_id", "left").join(t3, "_id", "left")
           .join(t4, "_id", "left"))
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")
    out = out.select(
        F.col("_id").alias(id_col),
        z("n_lines").alias("n_lines"),
        z("n_dup_lines").alias("n_dup_lines"),
        z("line_chars").alias("line_chars"),
        z("dup_line_chars").alias("dup_line_chars"),
        z("n_paras").alias("n_paras"),
        z("n_dup_paras").alias("n_dup_paras"),
        z("para_chars").alias("para_chars"),
        z("dup_para_chars").alias("dup_para_chars"),
        z("token_chars").alias("token_chars"),
        F.col("top2_gram"), z("top2_count").alias("top2_count"),
        z("top2_chars").alias("top2_chars"),
        z("top3_chars").alias("top3_chars"),
        z("top4_chars").alias("top4_chars"))
    return (out
            .withColumn("ok_dup_lines",
                        F.col("n_dup_lines") * 10 <= F.col("n_lines") * 3)
            .withColumn("ok_dup_paras",
                        F.col("n_dup_paras") * 10 <= F.col("n_paras") * 3)
            .withColumn("ok_dup_line_chars",
                        F.col("dup_line_chars") * 5 <= F.col("line_chars"))
            .withColumn("ok_dup_para_chars",
                        F.col("dup_para_chars") * 5 <= F.col("para_chars"))
            .withColumn("ok_top2",
                        F.col("top2_chars") * 5 <= F.col("token_chars"))
            .withColumn("ok_top3",
                        F.col("top3_chars") * 50
                        <= F.col("token_chars") * 9)
            .withColumn("ok_top4",
                        F.col("top4_chars") * 25
                        <= F.col("token_chars") * 4)
            .withColumn("repetition_pass",
                        F.col("ok_dup_lines") & F.col("ok_dup_paras")
                        & F.col("ok_dup_line_chars")
                        & F.col("ok_dup_para_chars") & F.col("ok_top2")
                        & F.col("ok_top3") & F.col("ok_top4")))


def dup_ngram_coverage(df: DataFrame, n: int = 5,
                       text_col: str = "text",
                       id_col: str = "doc_id",
                       max_frac_pct: int = 15) -> DataFrame:
    """The Gopher A1 duplicate-n-gram rule that
    :func:`gopher_repetition` documents as separate: the fraction of a
    document's characters covered by the POSITION-UNION of all word
    n-grams occurring ≥2 times in it (overlapping occurrences counted
    once — this is why the top-gram fractions can't substitute).
    Returns per-doc token totals, covered-token/char counts, and the
    cross-multiplied integer gate ``covered_chars·100 ≤
    max_frac_pct·token_chars``.

    Exact algorithm, all Catalyst: positional n-grams via lead windows
    → per-doc gram counts → occurrences of duplicated grams explode to
    their covered position ranges → DISTINCT positions (the interval
    union) → join back to token lengths. EVERY stage — the gram window,
    both groupBys, the dup join, the position distinct, the length
    join — clusters by the doc id, so after the single widening
    repartition nothing reshuffles; the explode fan-out is bounded by
    n × duplicated-gram occurrences."""
    from pyspark.sql import Window
    tok = (df.repartition(pt.wide(df), F.col(id_col))
           .select(F.col(id_col).alias("_id"), F.posexplode(F.expr(
               rf"filter(split(lower(trim({text_col})), '\\s+'), "
               "x -> x != '')")).alias("_p", "_w")))
    totals = tok.groupBy("_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.length("_w")).alias("token_chars"))
    w = Window.partitionBy("_id").orderBy("_p")
    leads = [F.col("_w")] + [F.lead("_w", i).over(w) for i in range(1, n)]
    grams = (tok.select("_id", "_p",
                        F.concat_ws(" ", *leads).alias("_g"),
                        F.lead("_w", n - 1).over(w).alias("_last"))
             .where(F.col("_last").isNotNull()).drop("_last"))
    dup = (grams.groupBy("_id", "_g").agg(F.count("*").alias("_c"))
           .where(F.col("_c") >= 2).select("_id", "_g"))
    covered = (grams.join(dup, ["_id", "_g"])
               .select("_id", F.explode(F.expr(
                   f"sequence(_p, _p + {n - 1})")).alias("_cp"))
               .distinct())
    # fresh column names on the length side: covered shares tok's
    # lineage, and a same-name self-join is ambiguous to the analyzer
    tlen = tok.select(F.col("_id").alias("_tid"),
                      F.col("_p").alias("_tp"),
                      F.length("_w").alias("_len"))
    cstats = (covered.join(tlen, (covered["_id"] == tlen["_tid"])
                           & (covered["_cp"] == tlen["_tp"]))
              .groupBy("_id").agg(
                  F.count("*").alias("covered_tokens"),
                  F.sum("_len").alias("covered_chars")))
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")
    out = (totals.join(cstats, "_id", "left")
           .select(F.col("_id").alias(id_col),
                   z("n_tokens").alias("n_tokens"),
                   z("token_chars").alias("token_chars"),
                   z("covered_tokens").alias("covered_tokens"),
                   z("covered_chars").alias("covered_chars")))
    return out.withColumn(
        "ok_dup_ngram",
        F.col("covered_chars") * 100
        <= F.lit(max_frac_pct) * F.col("token_chars"))


# ------------------------------------------------------ soft-404 pages ----

SOFT404_MARKERS = ("page not found", "404", "does not exist",
                   "no longer available", "been removed", "error 404",
                   "page you requested")
SOFT404_SHORT_CHARS = 300


def soft404_score(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  status_col: str = "status") -> DataFrame:
    """Soft-404 detection — pages that answer HTTP 200 but are really
    error pages (Bar-Yossef et al. WWW'04 "Sic transit gloria telae"
    established the marker+brevity signature; every production crawler
    filters these before the corpus).

    Integer scoring, deterministic: ``n_markers`` counts DISTINCT
    :data:`SOFT404_MARKERS` phrases present in the lowercased text;
    ``is_short`` is text length < SOFT404_SHORT_CHARS;
    ``score = 2·n_markers + is_short``; ``is_soft404`` flags status
    200 pages with score ≥ 3 (at least one marker AND short, or two
    markers).

    → (id_col, n_markers, is_short, soft404_score, is_soft404).

    Scale shape: shuffle-free codegen projection — each marker is one
    ``contains`` over the lowered text, summed in-row.
    """
    low = F.lower(F.col(text_col))
    n_markers = sum(
        (F.when(F.contains(low, F.lit(m)), 1).otherwise(0)
         for m in SOFT404_MARKERS),
        F.lit(0))
    is_short = F.length(text_col) < SOFT404_SHORT_CHARS
    score = (n_markers * 2 + is_short.cast("int")).cast("long")
    return df.select(
        F.col(id_col),
        n_markers.cast("long").alias("n_markers"),
        is_short.alias("is_short"),
        score.alias("soft404_score"),
        ((F.col(status_col) == 200) & (score >= 3)).alias("is_soft404"))


# ---------------------------------------------------- crawl-trap hosts ----

TRAP_MAX_DEPTH = 12
TRAP_MAX_PARAMS = 3


def crawl_trap_stats(df: DataFrame, url_col: str = "url",
                     host_col: str = "host") -> DataFrame:
    """Per-host crawl-trap detection — infinite URL spaces (calendar
    pages, session ids, self-linking path loops) that drown a frontier
    (the IRLbot WWW'08 spam/trap budget problem; Heritrix ships the
    same pathological-path heuristic this op distributes: a repeated
    adjacent path segment like /a/a/ marks a likely loop).

    Per URL, integer-exact: ``depth`` = non-empty path segments after
    the scheme+host; ``n_params`` = '&'-separated parts of the query
    string; a URL is a trap candidate if it has an adjacent repeated
    path segment, depth > TRAP_MAX_DEPTH, or n_params >
    TRAP_MAX_PARAMS. Per host: ``n_urls``, ``n_trap_urls``,
    ``trap_pct_e6 = (10^6·n_trap)/n_urls``, and ``is_trap_host`` when
    trap URLs are the majority (2·n_trap ≥ n_urls).

    → (host, n_urls, n_trap_urls, trap_pct_e6, is_trap_host).

    Scale shape: per-URL features are one shuffle-free projection;
    the host rollup is a single map-side-combinable groupBy of four
    counters — 10^12 URLs collapse to one row per host before the
    exchange.
    """
    path = F.expr(
        f"regexp_replace(regexp_extract({url_col}, "
        "'^[a-z]+://[^/]+(/[^?#]*)?', 1), '[?#].*', '')")
    segs = F.expr("filter(split(_path, '/'), x -> x != '')")
    q = F.expr(f"regexp_extract({url_col}, '\\\\?([^#]*)', 1)")
    per_url = (df.select(F.col(host_col), F.col(url_col))
               .withColumn("_path", path)
               .withColumn("_segs", segs)
               .withColumn("_q", q))
    depth = F.size("_segs")
    n_params = F.when(F.col("_q") == "", 0).otherwise(
        F.size(F.split("_q", "&")))
    repeated = F.expr(
        "exists(zip_with(slice(_segs, 1, greatest(size(_segs) - 1, 0)), "
        "slice(_segs, 2, greatest(size(_segs) - 1, 0)), "
        "(x, y) -> x = y), b -> b)")
    is_trap = (repeated | (depth > TRAP_MAX_DEPTH)
               | (n_params > TRAP_MAX_PARAMS))
    flagged = per_url.select(
        F.col(host_col).alias("host"),
        is_trap.cast("long").alias("_t"))
    return (flagged.groupBy("host")
            .agg(F.count("*").cast("long").alias("n_urls"),
                 F.sum("_t").cast("long").alias("n_trap_urls"))
            .select("host", "n_urls", "n_trap_urls",
                    F.expr("(1000000 * n_trap_urls) div n_urls")
                    .cast("long").alias("trap_pct_e6"),
                    F.expr("2 * n_trap_urls >= n_urls")
                    .alias("is_trap_host")))


def canonical_collapse(df: DataFrame, id_col: str = "doc_id",
                       url_col: str = "url",
                       canonical_col: str = "canonical") -> DataFrame:
    """Canonical-URL alias collapse — the SEO dedup step every crawl
    pipeline runs before content dedup: pages declaring
    ``<link rel="canonical">`` (RFC 6596) collapse onto their target,
    and mirrors of the same target count as aliases of one logical
    document.

    Per canonical target (the declared canonical, or the page's own
    URL when it declares none): keep the page whose url IS the target
    when present, else the smallest ``id_col``; count the aliases.

    → (target_url, kept_id, n_aliases).

    Scale shape: ONE map-side-combinable groupBy(target) — the keep
    rule is a min over (url != target, id) pairs, so it partially
    aggregates; no window, no self-join; 10^12 pages collapse to one
    row per logical document.
    """
    target = F.when((F.col(canonical_col).isNotNull())
                    & (F.col(canonical_col) != ""),
                    F.col(canonical_col)).otherwise(F.col(url_col))
    keyed = df.select(
        F.col(id_col), F.col(url_col), target.alias("target_url"))
    pick = F.min(F.struct(
        (F.col(url_col) != F.col("target_url")).cast("int").alias("alias"),
        F.col(id_col).alias("id"))).alias("_pick")
    return (keyed.groupBy("target_url")
            .agg(F.count("*").cast("long").alias("n_aliases"), pick)
            .select("target_url",
                    F.col("_pick.id").alias("kept_id"),
                    "n_aliases"))


SENT_BOUNDARY_RE = r"([a-z]{2,}[.!?]+) ([A-Z])"
SENT_SENTINEL = "\x01"


def split_sentences(df: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Rule-based sentence splitting — the segmentation grain under
    sentence-level dedup and decontamination (the lookaround-free
    subset of the Punkt family: a boundary is terminal punctuation
    after a ≥2-char lowercase word, followed by a space and a
    capital — single-letter "abbreviation." periods like "e.g." and
    mid-sentence "Dr." shapes never match the ≥2-lowercase guard).

    The rule is ONE capturing regexp_replace that rewrites each
    boundary to a sentinel (both capture groups preserved — RE2 has no
    lookahead, so the rule is expressible identically in Spark's Java
    regex and DuckDB's RE2), then a split. → (id_col, sent_idx
    0-based, sentence trimmed, n_words).

    Scale shape: shuffle-free Generate projection (replace → split →
    posexplode); nothing leaves the row.
    """
    marked = F.expr(
        f"regexp_replace({text_col}, '{SENT_BOUNDARY_RE}', "
        f"'$1{SENT_SENTINEL}$2')")
    sents = df.select(
        F.col(id_col),
        F.posexplode(F.split(marked, SENT_SENTINEL))
        .alias("sent_idx", "_s"))
    sent = F.trim(F.col("_s"))
    return sents.select(
        F.col(id_col),
        F.col("sent_idx").cast("long").alias("sent_idx"),
        sent.alias("sentence"),
        F.expr("cast(size(filter(split(trim(_s), '\\\\s+'), "
               "x -> x != '')) as bigint)").alias("n_words"))


def exact_percentiles(df: DataFrame, value_col: str,
                      ps: tuple[int, ...] = (25, 50, 75, 95),
                      tiebreak_col: str = "doc_id") -> DataFrame:
    """(pctl, value) — EXACT corpus percentiles by the lower
    nearest-rank rule ``rank_p = ((n−1)·p) div 100`` over the total
    order (value, tiebreak): deterministic across engines and cluster
    sizes, unlike approx_percentile sketches or engine-specific
    interpolation. The corpus-card statistic (token-length quartiles,
    quality-score p95 …) every dataset release publishes.

    Scale shape: the global rank is the two-level prefix sum
    (:func:`tuatara_spark.ops.training.with_order_rank` — range
    partition + per-partition window + broadcast offsets; NO
    single-partition window), n is a 1-row broadcast, and the target
    ranks are a tiny broadcast join — at 10^12 rows: one range
    shuffle, everything else map-side."""
    from tuatara_spark.ops.training import with_order_rank
    spark = df.sparkSession
    ranked = with_order_rank(df.select(value_col, tiebreak_col),
                             value_col, rank_col="_rank",
                             tiebreak_col=tiebreak_col)
    n = df.agg(F.count("*").alias("_n"))
    targets = (spark.createDataFrame([(p,) for p in sorted(set(ps))],
                                     "pctl int")
               .crossJoin(F.broadcast(n))
               .select("pctl", F.expr("((_n - 1) * pctl) div 100")
                       .alias("_rank")))
    return (ranked.join(F.broadcast(targets), "_rank")
            .select("pctl", F.col(value_col).alias("value"))
            .orderBy("pctl"))


def winnow_fingerprints(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", k: int = 8,
                        w: int = 8) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003 — the MOSS algorithm) → one row per selected
    ``(pos, fp)``: k-gram hashes are computed at every position, and
    each sliding window of ``w`` consecutive hashes contributes its
    MINIMUM (rightmost occurrence on ties — the paper's robust-
    winnowing tie rule). Guarantee: any shared substring of length
    ≥ w + k − 1 yields at least one shared fingerprint, with expected
    density 2/(w+1) — the span-level near-dup/plagiarism index that
    whole-document hashing can't give.

    The hash is the repo's portable md5-prefix BIGINT, so the DuckDB
    oracle computes bit-identical fingerprints. Texts shorter than
    ``k`` hash as one whole-text gram (the shingle short-text rule).

    Scale shape: gram hashes come from a COMPILED explode — one narrow
    (id, pos, hash) row per position, whole-stage codegen end to end
    (no interpreted ``transform`` lambda, no per-row hash ARRAY) — and
    each sliding window's minimum is a rows-between window aggregate
    over the position order: ``min(struct(hash, -pos))`` over
    ``[current, w-1 following]`` is exactly (minimum hash, rightmost
    position on ties). One id-keyed exchange moves only the NARROW doc
    rows (the widening repartition happens before the explode, the
    window reuses that partitioning), and the DISTINCT's map-side
    partial aggregate collapses each window's repeated selections to
    the ~2n/(w+1) selected fingerprints before anything shuffles
    again. Long documents are safe by construction: a 10^5-token page
    is 10^5 narrow rows in one partition's sort — never an O(n·w)
    array plan or a per-row hash array. (The previous formulation
    built the per-doc hash array with an interpreted lambda and
    exploded one full-array-referencing row per window: the
    interpreted md5 transform alone was ~93% of its runtime.)"""
    pre = (df.repartition(pt.wide(df), F.col(id_col))
           .select(F.col(id_col),
                   F.lower(F.col(text_col)).alias("_lc"))
           .withColumn("_m", F.expr(f"greatest(length(_lc) - {k} + 1, 1)")))
    rows = (pre.select(id_col, "_m", "_lc",
                       F.explode(F.expr("sequence(1, _m)")).alias("_p"))
            .select(id_col, "_m", "_p",
                    F.expr(f"cast(conv(substring(md5(substring(_lc, _p, "
                           f"{k})), 1, 8), 16, 10) as bigint)").alias("_h")))
    wspec = (Window.partitionBy(id_col).orderBy("_p")
             .rowsBetween(0, w - 1))
    mn = F.min(F.struct(F.col("_h").alias("_hh"),
                        (-F.col("_p")).alias("_np"))).over(wspec)
    return (rows.withColumn("_mn", mn)
            .where(F.col("_p") <= F.expr(f"greatest(_m - {w} + 1, 1)"))
            .select(F.col(id_col),
                    (-F.col("_mn._np")).cast("int").alias("pos"),
                    F.col("_mn._hh").alias("fp"))
            .distinct())

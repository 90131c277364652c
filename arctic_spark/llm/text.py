"""Text-analysis operators for large-scale training-data pipelines.

All pure Catalyst expressions (split/regexp/aggregate) — no Python UDFs —
so they fuse into whole-stage codegen and scale linearly with partitions.
Designed for the `documents` table shape (doc_id, text, lang, source).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


def token_count(text) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    t = F.trim(_c(text))
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+")))


def word_tokens(text, lowercase=True) -> Column:
    """array<string> of word tokens (BPE-ish pre-tokenization: the
    alphanumeric runs of the string — identical to splitting on
    non-alphanumerics and dropping empties, since [a-zA-Z0-9]+ and
    [^a-zA-Z0-9]+ are exact complements).

    Implemented as ONE codegen regexp_extract_all: the previous
    filter(split(..)) dropped out of whole-stage codegen (array HOFs
    are interpreted) and cost 26x more per corpus pass (36.5 s vs
    1.4 s at 2M docs, r9) — this expression is on the hot path of
    every text operator (BM25, TF-IDF, vocab, n-grams, chunking,
    decontamination)."""
    t = _c(text)
    if lowercase:
        t = F.lower(t)
    return F.regexp_extract_all(t, F.lit("[a-zA-Z0-9]+"), 0)


def char_count(text, ch: str) -> Column:
    """Occurrences of a literal character — replace-based so the same
    expression is portable to any SQL oracle."""
    t = _c(text)
    return F.length(t) - F.length(F.replace(t, F.lit(ch), F.lit("")))


def substring_count(text, sub: str) -> Column:
    t = _c(text)
    return (F.length(t) - F.length(F.replace(t, F.lit(sub), F.lit("")))) \
        / F.lit(len(sub))


def punct_ratio(text) -> Column:
    """(.,!?;:) characters / total characters."""
    t = _c(text)
    total = F.length(t)
    punct = sum((char_count(t, c) for c in ".,!?;:"), F.lit(0))
    return F.when(total > 0, punct.cast("double") / total).otherwise(0.0)


def mean_word_length(text) -> Column:
    toks = word_tokens(text)
    n = F.size(toks)
    tot = F.aggregate(F.transform(toks, F.length), F.lit(0),
                      lambda a, v: a + v)
    return F.when(n > 0, tot.cast("double") / n).otherwise(0.0)


_STOPWORDS_EN = ["the", "and", "of", "to", "in", "is", "that", "it", "for",
                 "was"]


def stopword_ratio(text, stopwords=None) -> Column:
    sw = stopwords or _STOPWORDS_EN
    toks = word_tokens(text)
    n = F.size(toks)
    hits = F.size(F.filter(toks, lambda w: w.isin(*sw)))
    return F.when(n > 0, hits.cast("double") / n).otherwise(0.0)


def quality_score(text) -> Column:
    """Composite [0,1] quality heuristic: rewards sentence punctuation,
    normal word lengths and stopword presence; penalizes very short docs.
    The standard cheap pre-filter shape used by web-scale corpus
    pipelines (C4-style heuristics re-expressed as columnar math)."""
    t = _c(text)
    n_tok = token_count(t)
    len_score = F.least(n_tok.cast("double") / F.lit(50.0), F.lit(1.0))
    wl = mean_word_length(t)
    wl_score = F.when((wl >= 3.0) & (wl <= 10.0), F.lit(1.0)).otherwise(F.lit(0.3))
    sw_score = F.least(stopword_ratio(t) * 4.0, F.lit(1.0))
    period_score = F.when(char_count(t, ".") > 0, F.lit(1.0)).otherwise(F.lit(0.5))
    return (len_score * 0.3 + wl_score * 0.2 + sw_score * 0.3
            + period_score * 0.2)


# Per-language marker words with distinctive frequency (kept tiny and
# replace-count-portable for oracle SQL parity).
_LANG_MARKERS = {
    "en": [" the ", " and ", " is "],
    "fr": [" le ", " la ", " est "],
    "de": [" der ", " und ", " ist "],
    "es": [" el ", " los ", " es "],
}


def lang_id(text) -> Column:
    """N-gram/marker-word language guess over {en,fr,de,es}; 'unk' when no
    marker hits. A deterministic heuristic (fasttext-style langid is out of
    scope in this container) — structured so the scoring is portable SQL."""
    t = F.concat(F.lit(" "), F.lower(_c(text)), F.lit(" "))
    scores = {}
    for lang, markers in _LANG_MARKERS.items():
        scores[lang] = sum((substring_count(t, m) for m in markers), F.lit(0.0))
    best = F.greatest(*[scores[k] for k in scores])
    out = F.lit("unk")
    # reverse order => earlier langs win ties (deterministic)
    for lang in reversed(list(_LANG_MARKERS)):
        out = F.when((best > 0) & (scores[lang] == best), F.lit(lang)) \
               .otherwise(out)
    return out


def _word_ngrams(toks, n: int) -> Column:
    """array<string> of word n-grams (with repeats — frequency analysis
    needs multiplicity, unlike the distinct shingles in dedup.py)."""
    m = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    out = F.slice(toks, 1, m)
    for j in range(1, n):
        out = F.zip_with(out, F.slice(toks, 1 + j, m),
                         lambda a, b: F.concat(a, F.lit(" "), b))
    return out


def top_ngram_fraction(text, n: int = 2) -> Column:
    """Fraction of all word n-grams occupied by the single most frequent
    n-gram — the Gopher repetition signal (docs dominated by one repeated
    phrase are machine-generated boilerplate).  Entirely native: sort
    the n-gram array once and take the longest equal run in ONE
    aggregate scan — O(total log total) per row; the r7 shape counted
    each distinct gram with its own filter pass (O(distinct · total)
    and an array allocation per distinct gram), the dominant cost of
    the gopher gate query (r8). Max run length == max multiplicity, so
    values are unchanged."""
    from ..functions.native import _let

    def build(ng):
        total = F.size(ng)
        # tokens are non-empty [a-z0-9]+ joined by spaces, so "\x00"
        # can never collide with a real n-gram
        init = F.struct(F.lit("\x00").alias("prev"),
                        F.lit(0).alias("cur"),
                        F.lit(0).alias("best"))

        def step(acc, x):
            cur = F.when(x == acc["prev"], acc["cur"] + 1) \
                   .otherwise(F.lit(1))
            return _let(cur, lambda c: F.struct(
                x.alias("prev"), c.alias("cur"),
                F.greatest(acc["best"], c).alias("best")))

        best = F.aggregate(F.array_sort(ng), init, step,
                           lambda acc: acc["best"])
        return F.when(total > 0, best.cast("double") / total) \
                .otherwise(0.0)

    return _let(_word_ngrams(word_tokens(text), n), build)


def duplicate_ngram_fraction(text, n: int = 3) -> Column:
    """Fraction of word n-grams that occur more than once in the doc
    (Gopher's dup-n-gram family).  (total - distinct) / total."""
    from ..functions.native import _let

    def build(ng):
        total = F.size(ng)
        dup = total - F.size(F.array_distinct(ng))
        return F.when(total > 0, dup.cast("double") / total).otherwise(0.0)

    return _let(_word_ngrams(word_tokens(text), n), build)


def _nonblank_units(text, sep_regex: str) -> Column:
    """array<string> of trimmed, non-empty units after splitting on
    sep_regex (lines: '\\n'; paragraphs: '\\n{2,}')."""
    return F.filter(
        F.transform(F.split(_c(text), sep_regex), lambda u: F.trim(u)),
        lambda u: F.length(u) > 0)


def _dup_unit_fraction(units) -> Column:
    """(total - distinct) / total — the excess-occurrence fraction."""
    total = F.size(units)
    dup = total - F.size(F.array_distinct(units))
    return F.when(total > 0, dup.cast("double") / total).otherwise(0.0)


def _dup_unit_char_fraction(units) -> Column:
    """Characters in excess occurrences (total chars minus one copy of
    each distinct unit) / total chars."""
    def char_sum(arr):
        return F.aggregate(arr, F.lit(0).cast("long"),
                           lambda acc, u: acc + F.length(u))
    total = char_sum(units)
    dup = total - char_sum(F.array_distinct(units))
    return F.when(total > 0, dup.cast("double") / total).otherwise(0.0)


def duplicate_line_fraction(text) -> Column:
    """Fraction of non-blank lines that are excess occurrences of an
    already-seen line — the Gopher repetition filter's line-level signal
    (Rae et al. 2021 §A1.1; docs above ~0.30 are boilerplate).  Lines are
    trimmed before comparison.  Counting is (total - distinct)/total, the
    standard implementation of 'fraction of lines that are duplicates'.
    Entirely native (split + array_distinct in codegen) — a corpus-wide
    pass is one scan, zero Python, no shuffle."""
    from ..functions.native import _let
    return _let(_nonblank_units(text, r"\n"), _dup_unit_fraction)


def duplicate_line_char_fraction(text) -> Column:
    """Fraction of characters contained in excess duplicate lines
    (Gopher rejects above ~0.20) — weighs long repeated lines more than
    the count-based fraction."""
    from ..functions.native import _let
    return _let(_nonblank_units(text, r"\n"), _dup_unit_char_fraction)


def duplicate_paragraph_fraction(text) -> Column:
    """duplicate_line_fraction over paragraphs (blank-line-separated
    blocks, i.e. split on 2+ consecutive newlines)."""
    from ..functions.native import _let
    return _let(_nonblank_units(text, r"\n{2,}"), _dup_unit_fraction)


def duplicate_paragraph_char_fraction(text) -> Column:
    """duplicate_line_char_fraction over paragraphs."""
    from ..functions.native import _let
    return _let(_nonblank_units(text, r"\n{2,}"), _dup_unit_char_fraction)


def repetition_stats(text, restructure: tuple = None) -> Column:
    """Fused Gopher repetition battery (r13): all four duplicate-unit
    fractions — line / line-char / paragraph / paragraph-char — from
    ONE Arrow exchange.

    The per-metric expressions above are Catalyst lambda HOFs
    (split + array_distinct + aggregate), which Spark evaluates
    OUTSIDE whole-stage codegen; the four metrics together re-split
    and re-scan the document six times per row in the interpreter.
    This kernel tokenizes each document once per unit class and
    derives all four fractions in a single pandas-UDF pass.

    Value-exact twin of the native chain: units are
    ``trim``-of-``split`` with empties dropped (Spark ``trim`` strips
    0x20 only, matched by ``str.strip(' ')``), counts and char sums
    are exact integers, and each fraction is one IEEE double division
    of those integers — bit-identical to the Catalyst result
    (asserted unit-for-unit in
    tests/test_llm_ops.py::test_repetition_stats_matches_native).
    NULL text yields the native chain's 0.0-filled row.

    ``restructure=(words_per_line, lines_per_para)`` first rebuilds a
    single-line document into structured text — whitespace tokens
    grouped into lines of ``words_per_line`` joined by spaces, lines
    grouped into paragraphs of ``lines_per_para`` joined by newlines,
    paragraphs joined by blank lines — inside the same kernel pass
    (pure exact string ops, identical to the split/slice/array_join
    HOF chain it replaces, which the Catalyst interpreter evaluated
    at ~half the whole battery's cost)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("struct<dup_line_frac:double,dup_line_char_frac:double,"
                "dup_para_frac:double,dup_para_char_frac:double>")
    def _rep(s: pd.Series) -> pd.DataFrame:
        import re
        para_re = re.compile(r"\n{2,}")

        def fracs(units):
            total = len(units)
            a = (total - len(set(units))) / total if total else 0.0
            tc = sum(map(len, units))
            b = ((tc - sum(map(len, set(units)))) / tc) if tc else 0.0
            return a, b

        cols = ([], [], [], [])
        for t in s:
            if t is None:
                row = (0.0, 0.0, 0.0, 0.0)
            else:
                if restructure is not None:
                    wpl, lpp = restructure
                    toks = t.split(" ")
                    nl = -(-len(toks) // wpl)
                    ls = [" ".join(toks[i * wpl:(i + 1) * wpl])
                          for i in range(nl)]
                    np_ = -(-nl // lpp)
                    t = "\n\n".join(
                        "\n".join(ls[j * lpp:(j + 1) * lpp])
                        for j in range(np_))
                lines = [u for u in (x.strip(" ")
                                     for x in t.split("\n")) if u]
                paras = [u for u in (x.strip(" ")
                                     for x in para_re.split(t)) if u]
                la, lb = fracs(lines)
                pa, pb = fracs(paras)
                row = (la, lb, pa, pb)
            for c, v in zip(cols, row):
                c.append(v)
        return pd.DataFrame({
            "dup_line_frac": cols[0], "dup_line_char_frac": cols[1],
            "dup_para_frac": cols[2], "dup_para_char_frac": cols[3]})

    return _rep(_c(text))


def symbol_to_word_ratio(text, symbols=("#", "...")) -> Column:
    """Occurrences of flagged symbols ('#', ellipsis) per word — Gopher
    rejects docs above 0.1."""
    t = _c(text)
    hits = sum((substring_count(t, s) for s in symbols), F.lit(0.0))
    n = token_count(t)
    return F.when(n > 0, hits.cast("double") / n).otherwise(0.0)


def alpha_word_fraction(text) -> Column:
    """Fraction of whitespace words containing at least one alphabetic
    character (Gopher requires > 0.8)."""
    ws = F.split(F.trim(_c(text)), r"\s+")

    def has_alpha(w):
        return F.length(F.regexp_replace(w, "[^a-zA-Z]", "")) > 0

    n = F.size(ws)
    return F.when((F.length(F.trim(_c(text))) > 0) & (n > 0),
                  F.size(F.filter(ws, has_alpha)).cast("double") / n) \
            .otherwise(0.0)


def bullet_line_fraction(text) -> Column:
    """Fraction of lines starting with a bullet marker (-, *, •)."""
    lines = F.split(_c(text), r"\n")
    n = F.size(lines)
    hits = F.size(F.filter(
        lines, lambda ln: F.trim(ln).rlike(r"^[-*•]")))
    return F.when(n > 0, hits.cast("double") / n).otherwise(0.0)


def ellipsis_line_fraction(text) -> Column:
    """Fraction of lines ending with an ellipsis ('...' or '…')."""
    lines = F.split(_c(text), r"\n")
    n = F.size(lines)
    hits = F.size(F.filter(
        lines, lambda ln: F.rtrim(ln).rlike(r"(\.\.\.|…)$")))
    return F.when(n > 0, hits.cast("double") / n).otherwise(0.0)


def gopher_metrics(text) -> Column:
    """All Gopher-rule inputs as ONE struct column (n_words, mean_wl,
    dup_trigram_frac, symbol_ratio, alpha_frac). Consumers that need
    several metrics AND the pass flag should bind this once
    (``st.freeze``) and feed :func:`gopher_flags_from_metrics` — the
    n-gram counting is the most expensive native text expression, and
    Catalyst re-inlines it per reference (r7: the gate query computed
    every metric twice, 9.2 s → ~5 s at sf0.1).

    r8: tokenizes ONCE. The standalone metrics re-run trim + the two
    regex splits per metric (3× whitespace split, 2× word-token split
    per row across the five); here both token views bind via _let and
    every metric reads the bound arrays. Each metric's arithmetic is
    the standalone function's, verbatim — values unchanged."""
    from ..functions.native import _let
    t = _c(text)
    hits = sum((substring_count(t, s) for s in ("#", "...")), F.lit(0.0))

    def has_alpha(w):
        return F.length(F.regexp_replace(w, "[^a-zA-Z]", "")) > 0

    def with_bound(s):
        ws, wt, tlen = s["ws"], s["wt"], s["tlen"]

        def with_n(n_words):
            mean_wl = F.when(
                F.size(wt) > 0,
                F.aggregate(wt, F.lit(0),
                            lambda a, w: a + F.length(w))
                .cast("double") / F.size(wt)).otherwise(0.0)
            dup3 = _let(
                _word_ngrams(wt, 3),
                lambda ng: _let(F.size(ng), lambda total: F.when(
                    total > 0,
                    (total - F.size(F.array_distinct(ng)))
                    .cast("double") / total).otherwise(0.0)))
            symbol_ratio = F.when(n_words > 0,
                                  hits.cast("double") / n_words) \
                            .otherwise(0.0)
            alpha = F.when((tlen > 0) & (F.size(ws) > 0),
                           F.size(F.filter(ws, has_alpha))
                           .cast("double") / F.size(ws)).otherwise(0.0)
            return F.struct(n_words.alias("n_words"),
                            mean_wl.alias("mean_wl"),
                            dup3.alias("dup_trigram_frac"),
                            symbol_ratio.alias("symbol_ratio"),
                            alpha.alias("alpha_frac"))

        return _let(F.when(tlen == 0, F.lit(0)).otherwise(F.size(ws)),
                    with_n)

    def with_tt(tt):
        return _let(F.struct(F.length(tt).alias("tlen"),
                             F.split(tt, r"\s+").alias("ws"),
                             word_tokens(t).alias("wt")),
                    with_bound)

    return _let(F.trim(t), with_tt)


def gopher_flags_from_metrics(m, min_words: int = 50,
                              max_words: int = 100_000,
                              min_mean_wl: float = 3.0,
                              max_mean_wl: float = 10.0,
                              max_symbol_ratio: float = 0.1,
                              min_alpha_fraction: float = 0.8,
                              max_dup_ngram: float = 0.2) -> Column:
    """Pass/fail from a bound :func:`gopher_metrics` struct."""
    m = _c(m)
    return ((m["n_words"] >= min_words) & (m["n_words"] <= max_words)
            & (m["mean_wl"] >= min_mean_wl) & (m["mean_wl"] <= max_mean_wl)
            & (m["symbol_ratio"] <= max_symbol_ratio)
            & (m["alpha_frac"] >= min_alpha_fraction)
            & (m["dup_trigram_frac"] <= max_dup_ngram))


def gopher_quality_flags(text, min_words: int = 50, max_words: int = 100_000,
                         min_mean_wl: float = 3.0, max_mean_wl: float = 10.0,
                         max_symbol_ratio: float = 0.1,
                         min_alpha_fraction: float = 0.8,
                         max_dup_ngram: float = 0.2) -> Column:
    """Boolean pass/fail of the standard Gopher-rules battery (word-count
    bounds, mean-word-length bounds, symbol ratio, alpha-word fraction,
    duplicate-3-gram fraction).  All native expressions — a corpus-wide
    quality pass is a single scan with zero Python. The metric struct
    binds once via _let so each metric evaluates once."""
    from ..functions.native import _let
    return _let(gopher_metrics(text),
                lambda m: gopher_flags_from_metrics(
                    m, min_words, max_words, min_mean_wl, max_mean_wl,
                    max_symbol_ratio, min_alpha_fraction, max_dup_ngram))


def syllable_count(text) -> Column:
    """Approximate total syllables: per word, the number of maximal
    vowel groups ([aeiouy]+), at least 1 — the standard cheap
    approximation used by readability scores. Native: counts regex
    MATCHES (regexp_extract_all) rather than split pieces — split-based
    counting (`size(split(w, '[aeiouy]+')) - 1`) depends on whether the
    engine keeps trailing empty strings, which varies across SQL-engine
    versions; match counting is the same integer everywhere (r8 verdict
    root cause for the text_readability driver-hash mismatch)."""
    from ..functions.native import _let

    def count(ws):
        per_word = F.transform(
            ws, lambda w: F.greatest(
                F.size(F.regexp_extract_all(w, F.lit(r"[aeiouy]+"), 0)),
                F.lit(1)))
        return F.aggregate(per_word, F.lit(0),
                           lambda acc, v: acc + v)

    return _let(word_tokens(text), count)


def sentence_count(text) -> Column:
    """Sentences = non-blank spans between [.!?]+ terminators, at least
    1 for non-empty text (so ratio denominators are safe)."""
    t = _c(text)
    spans = F.filter(F.split(t, r"[.!?]+"),
                     lambda s: F.length(F.trim(s)) > 0)
    return F.when(F.length(F.trim(t)) == 0, F.lit(0)) \
            .otherwise(F.greatest(F.size(spans), F.lit(1)))


def flesch_reading_ease(text) -> Column:
    """Flesch Reading Ease: 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/words); 0 for empty text. One scan, zero Python —
    the readability member of the quality-filter battery (low-score
    docs are dense boilerplate/legalese, very high are word salad)."""
    from ..functions.native import _let
    stats = F.struct(token_count(text).alias("w"),
                     sentence_count(text).alias("s"),
                     syllable_count(text).alias("y"))

    def build(m):
        w = m["w"].cast("double")
        return F.when(
            (m["w"] > 0) & (m["s"] > 0),
            F.lit(206.835) - F.lit(1.015) * (w / m["s"].cast("double"))
            - F.lit(84.6) * (m["y"].cast("double") / w)).otherwise(0.0)

    return _let(stats, build)


def flesch_kincaid_grade(text) -> Column:
    """Flesch–Kincaid grade level: 0.39·(words/sentences) +
    11.8·(syllables/words) − 15.59; 0 for empty text."""
    from ..functions.native import _let
    stats = F.struct(token_count(text).alias("w"),
                     sentence_count(text).alias("s"),
                     syllable_count(text).alias("y"))

    def build(m):
        w = m["w"].cast("double")
        return F.when(
            (m["w"] > 0) & (m["s"] > 0),
            F.lit(0.39) * (w / m["s"].cast("double"))
            + F.lit(11.8) * (m["y"].cast("double") / w)
            - F.lit(15.59)).otherwise(0.0)

    return _let(stats, build)


def fingerprint(text) -> Column:
    """64-bit hex document fingerprint of whitespace-normalized, lowercased
    text (md5-derived so any SQL engine reproduces it bit-for-bit)."""
    norm = F.regexp_replace(F.lower(F.trim(_c(text))), r"\s+", " ")
    return F.substring(F.md5(norm), 1, 16)


def strip_html(text) -> Column:
    """Plain text from HTML markup — the boilerplate-removal step of a
    web-corpus ingest pipeline. Native regexp chain (script/style blocks
    dropped, tags to spaces, the 5 common entities decoded, whitespace
    collapsed); patterns are RE2-compatible (no backreferences), so any
    SQL engine reproduces the output byte-for-byte. A real extractor
    (readability/trafilatura) scores main-content blocks; this is the
    deterministic, oracle-checkable core transform."""
    t = _c(text)
    t = F.regexp_replace(t, r"(?is)<script[^>]*>.*?</script>", " ")
    t = F.regexp_replace(t, r"(?is)<style[^>]*>.*?</style>", " ")
    t = F.regexp_replace(t, r"(?s)<[^>]+>", " ")
    for ent, ch in (("&nbsp;", " "), ("&amp;", "&"), ("&lt;", "<"),
                    ("&gt;", ">"), ("&quot;", '"')):
        t = F.replace(t, F.lit(ent), F.lit(ch))
    return F.trim(F.regexp_replace(t, r"\s+", " "))


def html_visible_ratio(raw_html) -> Column:
    """len(stripped text) / len(raw html) — a cheap boilerplate-density
    signal (markup-heavy pages score low)."""
    t = _c(raw_html)
    n = F.length(t)
    return F.when(n > 0,
                  F.length(strip_html(t)).cast("double") / n).otherwise(0.0)


# ---------------------------------------------------------------------------
# URL analysis (crawl-corpus hygiene: host bucketing, canonicalization
# for URL-level dedup, blocklist joins) — all native regexp chains
# ---------------------------------------------------------------------------

def url_host(url) -> Column:
    """Lowercased host of a URL — scheme-optional, credentials/port/
    path/query stripped. Native regexp, one expression."""
    return F.lower(F.regexp_extract(
        F.trim(_c(url)),
        r"^(?:[a-zA-Z][a-zA-Z0-9+.-]*://)?(?:[^/@?#]*@)?([^/:?#]+)", 1))


def url_registrable_domain(url, n_labels: int = 2) -> Column:
    """Last ``n_labels`` host labels — the eTLD+1 approximation used
    for domain-level grouping when no public-suffix list is shipped
    (documented approximation: 'foo.co.uk' needs n_labels=3)."""
    host = url_host(url)
    parts = F.split(host, r"\.")
    start = F.greatest(F.size(parts) - (n_labels - 1), F.lit(1))
    return F.concat_ws(".", F.slice(parts, start, F.lit(n_labels)))


def url_normalize(url) -> Column:
    """Canonical URL for URL-level dedup: drop the fragment, strip
    common tracking parameters (utm_*, fbclid, gclid, ref), collapse
    leftover ?/& separators, drop userinfo, lowercase the
    scheme://host head, strip default ports (:80 http, :443 https) and
    a trailing slash. Pure native regexp chain — a corpus-wide URL
    dedup key costs one scan, zero Python."""
    u = F.regexp_replace(F.trim(_c(url)), r"#.*$", "")
    for _ in range(3):    # adjacent tracking params need repeat passes
        u = F.regexp_replace(
            u, r"([?&])(?:utm_[^&=#]*|fbclid|gclid|ref)=[^&]*", r"$1")
    u = F.regexp_replace(u, r"\?&+", "?")
    u = F.regexp_replace(u, r"&&+", "&")
    u = F.regexp_replace(u, r"[?&]+$", "")
    head = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    # drop userinfo (dedup-key semantics), lowercase, strip default port
    head_norm = F.regexp_replace(
        F.lower(head), r"^([a-z][a-z0-9+.-]*://)[^/@]*@", r"$1")
    head_norm = F.regexp_replace(
        F.regexp_replace(head_norm, r"^(http://[^:]+):80$", r"$1"),
        r"^(https://[^:]+):443$", r"$1")
    tail = _c(u).substr(F.length(head) + 1, F.length(u))
    u = F.concat(head_norm, tail)
    return F.regexp_replace(u, r"/$", "")

"""Training-data pipeline operators beyond dedup/similarity: benchmark
decontamination, deterministic sampling, sequence packing, PII
scrubbing, document chunking and corpus vocabulary statistics.

Everything is built on the two pipeline invariants the rest of
``arctic_spark.llm`` follows:

- per-row work is pure Catalyst expressions (split / HOFs / regexp) so
  it fuses into whole-stage codegen, and
- every cross-row step is ONE equi-join or groupBy shuffle on a compact
  key (a 16-byte hash, a stratum string, a group key) — never an
  all-pairs product and never a driver-side collect.

Randomness is md5-based and therefore deterministic and portable: any
SQL engine reproduces the exact sample / bucket decisions bit-for-bit,
which is what makes these operators oracle-checkable.
"""

from __future__ import annotations

from typing import Mapping, Sequence

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import shingles
from .text import token_count, word_tokens


def _c(col) -> Column:
    return F.col(col) if isinstance(col, str) else col


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------

def contamination_pairs(docs: DataFrame, bench: DataFrame,
                        doc_id="doc_id", doc_text="text",
                        bench_id="doc_id", bench_text="text",
                        k: int = 5,
                        min_overlap_frac: float = 0.5) -> DataFrame:
    """(doc_id, bench_id, n_overlap, bench_frac) for every training doc
    that shares ≥ ``min_overlap_frac`` of a benchmark document's k-word
    shingles — the standard eval-set decontamination pass (the GPT-3 /
    PaLM n-gram overlap check re-expressed as a Spark plan).

    Plan shape: both sides shingle natively, explode to
    (id, 16-byte shingle hash), equi-join on the hash. The benchmark
    side of any real decontamination run is tiny relative to the corpus
    (eval sets are thousands of docs, the corpus is billions), so it is
    broadcast — the 100 TB corpus side is never shuffled at all; the
    only aggregation key is (doc_id, bench_id), which post-join is a
    vanishingly small set. Shingle STRINGS never travel: only md5
    prefixes do.
    """
    dsh = (docs.select(_c(doc_id).alias("doc_id"),
                       F.explode(shingles(doc_text, k)).alias("s"))
           .select("doc_id", F.substring(F.md5("s"), 1, 16).alias("h")))
    bsh = (bench.select(_c(bench_id).alias("bench_id"),
                        F.explode(shingles(bench_text, k)).alias("s"))
           .select("bench_id", F.substring(F.md5("s"), 1, 16).alias("h")))
    bsizes = bsh.groupBy("bench_id").agg(F.count("*").alias("bench_size"))
    hits = (dsh.join(F.broadcast(bsh), "h")
            .where(F.col("doc_id") != F.col("bench_id"))
            .groupBy("doc_id", "bench_id")
            .agg(F.count("*").alias("n_overlap")))
    out = (hits.join(F.broadcast(bsizes), "bench_id")
           .withColumn("bench_frac",
                       F.col("n_overlap").cast("double") / F.col("bench_size"))
           .where(F.col("bench_frac") >= min_overlap_frac)
           .select("doc_id", "bench_id", "n_overlap",
                   F.round("bench_frac", 6).alias("bench_frac")))
    return out


def decontaminate(docs: DataFrame, bench: DataFrame, doc_id="doc_id",
                  doc_text="text", bench_id="doc_id", bench_text="text",
                  k: int = 5, min_overlap_frac: float = 0.5) -> DataFrame:
    """Drop every training document contaminated by the benchmark set
    (left anti-join on :func:`contamination_pairs` — one extra shuffle on
    the doc id)."""
    bad = contamination_pairs(docs, bench, doc_id, doc_text, bench_id,
                              bench_text, k, min_overlap_frac) \
        .select(F.col("doc_id").alias("__contaminated_id")).distinct()
    return docs.join(bad, _c(doc_id) == F.col("__contaminated_id"),
                     "left_anti")


# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------

def _hash_threshold(fraction: float) -> str:
    """Lowercase 8-hex-digit threshold such that a uniform md5 prefix is
    `< threshold` with probability ``fraction``. String comparison of
    equal-length lowercase hex == numeric comparison, so the predicate is
    portable verbatim to any SQL engine."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0,1], got {fraction}")
    return format(min(int(fraction * (1 << 32)), (1 << 32) - 1), "08x")


def hash_sample_predicate(key, fraction: float, seed: str = "") -> Column:
    """Boolean sampling predicate: deterministic, stable under re-runs,
    partition layout and cluster size (unlike ``df.sample``), and
    coordinated across tables — the same key always lands on the same
    side of the split, so sampling a fact table and its join partner
    keeps referential integrity."""
    h = F.substring(F.md5(F.concat(F.lit(seed), _c(key).cast("string"))),
                    1, 8)
    return h < F.lit(_hash_threshold(fraction))


def hash_sample(df: DataFrame, key, fraction: float, seed: str = "") \
        -> DataFrame:
    """Uniform deterministic sample: keep rows whose md5(seed‖key) prefix
    falls below the fraction threshold. Pure scan-side filter — pushes
    down past projections, no shuffle, no RNG state."""
    return df.where(hash_sample_predicate(key, fraction, seed))


def stratified_sample(df: DataFrame, strata, key,
                      fractions: Mapping[str, float],
                      default_fraction: float = 0.0,
                      seed: str = "") -> DataFrame:
    """Per-stratum deterministic sampling (e.g. language rebalancing:
    keep 100% of low-resource languages, 10% of English). ``fractions``
    maps stratum value → keep fraction; unlisted strata use
    ``default_fraction``. Same scan-side zero-shuffle plan as
    :func:`hash_sample` — the stratum column only selects the threshold
    literal."""
    h = F.substring(F.md5(F.concat(F.lit(seed), _c(key).cast("string"))),
                    1, 8)
    thr = F.lit(_hash_threshold(default_fraction))
    for value, frac in sorted(fractions.items()):
        thr = F.when(_c(strata) == value,
                     F.lit(_hash_threshold(frac))).otherwise(thr)
    return df.where(h < thr)


def mixture_plan(df: DataFrame, domain_col, weights: Mapping[str, float],
                 token_budget: int, tokens_col=None,
                 text_col="text") -> DataFrame:
    """Domain-mixture sampling plan: given target mixture ``weights``
    (normalized over the listed domains) and a total ``token_budget``,
    compute per-domain keep fractions from the OBSERVED token counts:
    (domain, avail_tokens, target_tokens, fraction) with fraction =
    min(1, target/avail). Unlisted domains get fraction 0. One
    aggregation over the corpus (token counting is a native expression
    if ``tokens_col`` is absent)."""
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("weights must sum to a positive value")
    toks = _c(tokens_col) if tokens_col is not None else None
    if toks is None:
        from .text import token_count
        toks = token_count(text_col)
    avail = (df.groupBy(_c(domain_col).alias("domain"))
             .agg(F.sum(toks).cast("long").alias("avail_tokens")))
    tgt = F.lit(None).cast("double")
    for dom, w in sorted(weights.items()):
        tgt = F.when(F.col("domain") == dom,
                     F.lit(float(token_budget) * w / wsum)).otherwise(tgt)
    return (avail.withColumn("target_tokens", F.coalesce(tgt, F.lit(0.0)))
            .withColumn("fraction", F.least(
                F.lit(1.0),
                F.col("target_tokens")
                / F.greatest(F.col("avail_tokens").cast("double"),
                             F.lit(1.0)))))


def mixture_sample(df: DataFrame, domain_col, key,
                   weights: Mapping[str, float], token_budget: int,
                   tokens_col=None, text_col="text",
                   seed: str = "") -> DataFrame:
    """Sample a training mixture to a token budget: per-domain keep
    fractions from :func:`mixture_plan`, applied as the deterministic
    md5-uniform predicate (same u = hash(seed‖key) ∈ [0,1) machinery as
    :func:`hash_sample`, but compared against a PER-ROW fraction column
    so fractions can be data-derived). The plan table is tiny (one row
    per domain) and broadcast; the filter itself needs no shuffle.
    Expected sampled tokens per listed domain ≈ budget·weight (exact
    determinism — the oracle replays the identical u < fraction cut)."""
    plan = mixture_plan(df, domain_col, weights, token_budget,
                        tokens_col, text_col)
    u = (F.conv(F.substring(F.md5(F.concat(
        F.lit(seed), _c(key).cast("string"))), 1, 12), 16, 10)
        .cast("double") / F.lit(float(1 << 48)))
    return (df.join(F.broadcast(plan.select(
                F.col("domain").alias("__dom"), "fraction")),
                    _c(domain_col) == F.col("__dom"))
            .where(u < F.col("fraction"))
            .drop("__dom", "fraction"))


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------

def pack_sequences(df: DataFrame, id_col="doc_id", tokens_col="n_tokens",
                   budget: int = 2048, key=None) -> DataFrame:
    """Assign each document to a training-sequence bin under a token
    budget using deterministic next-fit in ascending id order: walk docs
    by id, keep filling the current bin while it fits, open a new bin
    when it doesn't. Docs longer than the budget get a bin of their own.
    Returns the input plus a ``bin_id`` column (bin ids are dense
    per-group, starting at 0).

    Next-fit (not first-fit-decreasing) is the deliberate choice for a
    distributed engine: it is a single ordered pass with O(1) state, so
    each group packs in one ``applyInPandas`` call with no candidate
    search, and the result is reproducible from the sort order alone —
    which is what makes it oracle-checkable in SQL. FFD packs ~5% denser
    but needs a mutable bin table that does not stream.

    ``key`` (optional column name(s)) scopes packing groups — e.g. pack
    within (lang, source) so a sequence never mixes languages. At scale
    each group's docs move in ONE shuffle (the groupBy key); group size
    is bounded by the corpus partitioning choice, and the per-group scan
    is a numpy cumsum-style loop over ints, not text.
    """
    keys = ([key] if isinstance(key, str) else list(key or []))
    id_name = id_col if isinstance(id_col, str) else "id"
    grouped = df.groupBy(*keys) if keys else df.groupBy(F.lit(1).alias("__g"))

    from pyspark.sql.types import LongType, StructField, StructType
    # copy — StructType.add would mutate the DataFrame's cached schema
    out_schema = StructType(list(df.schema.fields)
                            + [StructField("bin_id", LongType())])

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_name, kind="mergesort").reset_index(drop=True)
        bins = []
        cur_bin, fill = 0, 0
        for t in pdf[tokens_col].astype("int64"):
            if fill > 0 and fill + t > budget:
                cur_bin += 1
                fill = 0
            fill += t
            bins.append(cur_bin)
        pdf["bin_id"] = pd.Series(bins, dtype="int64")
        return pdf

    res = grouped.applyInPandas(pack, schema=out_schema)
    if not keys:
        # drop the synthetic single-group key if we injected one
        res = res.select(*[c for c in res.columns if c != "__g"])
    return res


def pack_stats(packed: DataFrame, key=None, budget: int = 2048) -> DataFrame:
    """Per-bin utilization stats for a packed corpus: docs per bin, token
    fill, waste fraction."""
    keys = ([key] if isinstance(key, str) else list(key or []))
    return (packed.groupBy(*keys, "bin_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").cast("long").alias("fill"))
            .withColumn("waste_frac",
                        F.round(F.greatest(
                            F.lit(budget) - F.col("fill"), F.lit(0))
                            .cast("double") / F.lit(budget), 6)))


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Conservative patterns chosen to mean the same thing in Java regex
# (Spark) and RE2 (DuckDB/Go) — no lookaround, no backrefs.
_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}"
_IPV4_RE = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"
_PHONE_RE = r"\b\+?[0-9][0-9()\- ]{7,14}[0-9]\b"


def email_count(text) -> Column:
    return F.size(F.regexp_extract_all(_c(text), F.lit(_EMAIL_RE), F.lit(0)))


def ipv4_count(text) -> Column:
    return F.size(F.regexp_extract_all(_c(text), F.lit(_IPV4_RE), F.lit(0)))


def redact_pii(text, email_token="<EMAIL>", ip_token="<IP>",
               phone=False, phone_token="<PHONE>") -> Column:
    """Replace emails / IPv4s (and optionally phone-shaped numbers) with
    redaction tokens. Order matters: emails first (an email's host part
    must not be half-eaten by the IP pattern). Native regexp_replace —
    a full-corpus scrub is one scan with zero Python. Phone redaction is
    off by default: the pattern is aggressive on digit runs and belongs
    behind an explicit opt-in."""
    t = F.regexp_replace(_c(text), _EMAIL_RE, email_token)
    t = F.regexp_replace(t, _IPV4_RE, ip_token)
    if phone:
        t = F.regexp_replace(t, _PHONE_RE, phone_token)
    return t


# ---------------------------------------------------------------------------
# document chunking
# ---------------------------------------------------------------------------

def chunk_documents(df: DataFrame, id_col="doc_id", text_col="text",
                    chunk_tokens: int = 128, overlap: int = 0) -> DataFrame:
    """Split each document into whitespace-token chunks of
    ``chunk_tokens`` with ``overlap`` tokens of left context — the
    context-window prep step for embedding / pretraining pipelines.

    Returns (id, chunk_idx, n_tokens, chunk_text). Fully native: the
    token array is sliced by a generated start-index sequence inside
    codegen and exploded — the only data movement is the explode fan-out
    itself (row count × ~len/stride), with no shuffle and no Python.
    A final partial chunk is kept (a trailing remainder shorter than the
    stride is real text); degenerate all-whitespace docs yield no rows.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    from ..functions.native import _let

    def build(toks):
        # toks is a bound lambda variable: the tokenizer runs ONCE per
        # row even though it is referenced by the start sequence, the
        # slices, and the emptiness guard (Catalyst has no
        # construction-time CSE — unbound, the split+filter pipeline
        # re-ran ~4x per row, measured 20x slower at 500k docs)
        starts = F.sequence(
            F.lit(1),
            # last start: stride-aligned position that still begins new
            # text
            F.greatest(
                ((F.size(toks) - F.lit(overlap) - 1) / F.lit(stride))
                .cast("int") * stride + 1,
                F.lit(1)),
            F.lit(stride))
        chunks = F.transform(starts,
                             lambda s: F.slice(toks, s, chunk_tokens))
        return F.when(F.size(toks) > 0, chunks) \
                .otherwise(F.array().cast("array<array<string>>"))

    base = df.select(
        _c(id_col).alias("id"),
        F.posexplode(_let(word_tokens(text_col, lowercase=False), build))
        .alias("chunk_idx", "chunk_toks"))
    return base.select(
        "id", "chunk_idx",
        F.size("chunk_toks").alias("n_tokens"),
        F.concat_ws(" ", "chunk_toks").alias("chunk_text"))


# ---------------------------------------------------------------------------
# corpus vocabulary statistics
# ---------------------------------------------------------------------------

def vocab_stats(df: DataFrame, text_col="text", lowercase=True) -> DataFrame:
    """(token, tf, df) corpus vocabulary table: total term frequency and
    document frequency per token.

    Per-row the token multiset is pre-collapsed to (distinct token,
    in-doc count) pairs inside codegen, so the explode fans out by
    DISTINCT tokens per doc and docfreq is a plain count — no
    countDistinct (which would carry a per-token hash set through the
    shuffle) and no synthetic row id. One shuffle, on the token string,
    with map-side partial aggregation collapsing the long tail."""
    from ..functions.native import _let
    toks = word_tokens(text_col, lowercase=lowercase)

    def per_doc(ws):
        return F.transform(
            F.array_distinct(ws),
            lambda t: F.struct(
                t.alias("token"),
                F.size(F.filter(ws, lambda x: x == t)).alias("cnt")))

    exploded = df.select(F.explode(_let(toks, per_doc)).alias("tc"))
    return (exploded.groupBy(F.col("tc.token").alias("token"))
            .agg(F.sum("tc.cnt").cast("long").alias("tf"),
                 F.count("*").cast("long").alias("df")))


def vocab_topk(df: DataFrame, text_col="text", k: int = 20,
               lowercase=True) -> DataFrame:
    """Top-k corpus tokens by term frequency (deterministic tie-break on
    the token string). The global top-k runs as a sort-limit — Spark
    takes per-partition top-k before the single-partition merge, so no
    full sort materializes."""
    return (vocab_stats(df, text_col, lowercase)
            .orderBy(F.desc("tf"), F.asc("token")).limit(k))


def idf(vocab: DataFrame, n_docs: int) -> DataFrame:
    """Smooth inverse document frequency over a :func:`vocab_stats`
    table: ln((N+1)/(df+1)) + 1 (sklearn's smoothed variant)."""
    return vocab.withColumn(
        "idf", F.round(F.log((F.lit(float(n_docs)) + 1.0)
                             / (F.col("df") + 1.0)) + 1.0, 6))


def tfidf_topk_per_doc(df: DataFrame, id_col="doc_id", text_col="text",
                       k: int = 3, lowercase=True) -> DataFrame:
    """Top-k TF-IDF keywords per document: explode tokens → per-(doc,
    token) tf → broadcast-join the idf table → window top-k per doc.
    The vocab table is tiny relative to the corpus (vocabulary grows
    sub-linearly), so the idf join is a broadcast — the corpus side
    shuffles once, on (doc, token)."""
    from pyspark.sql import Window
    toks = word_tokens(text_col, lowercase=lowercase)
    n_docs = df.count()
    tf = (df.select(_c(id_col).alias("id"), F.explode(toks).alias("token"))
          .groupBy("id", "token").agg(F.count("*").alias("tf")))
    vocab = idf(vocab_stats(df, text_col, lowercase), n_docs)
    scored = (tf.join(F.broadcast(vocab.select("token", "idf")), "token")
              .withColumn("tfidf", F.round(F.col("tf") * F.col("idf"), 6)))
    w = Window.partitionBy("id").orderBy(F.desc("tfidf"), F.asc("token"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("id", "rank", "token", "tfidf"))


# ---------------------------------------------------------------------------
# unigram language model scoring (perplexity-proxy quality signal, the
# KenLM-style filter of CCNet/RedPajama pipelines — here a corpus-trained
# add-one-smoothed unigram model, dependency-free and fully declarative)
# ---------------------------------------------------------------------------

def unigram_lm(df: DataFrame, text_col="text", lowercase=True) -> DataFrame:
    """Train an add-one-smoothed unigram LM over the corpus: (token, tf,
    logp, oov_logp) with p(t) = (tf+1)/(N+V) and p(OOV) = 1/(N+V), logs
    in nats. Built on :func:`vocab_stats` (one shuffle on the token);
    the scalar totals ride a broadcast 1-row aggregate, never the
    driver."""
    vocab = vocab_stats(df, text_col, lowercase)
    totals = vocab.agg(F.sum("tf").alias("__N"),
                       F.count("*").alias("__V"))
    denom = F.col("__N") + F.col("__V")
    return (vocab.crossJoin(F.broadcast(totals))
            .select("token", "tf",
                    F.log((F.col("tf") + 1.0) / denom).alias("logp"),
                    F.log(F.lit(1.0) / denom).alias("oov_logp")))


def doc_unigram_logprob(df: DataFrame, lm: DataFrame | None = None,
                        id_col="doc_id", text_col="text",
                        lowercase=True) -> DataFrame:
    """Per-document unigram score: (id, n_tokens, avg_neg_logp,
    perplexity) where avg_neg_logp is the mean negative log-probability
    per token (nats) under `lm` (trained on `df` itself if omitted) and
    perplexity = exp(avg_neg_logp). Low-perplexity docs look like the
    corpus; high-perplexity docs are outliers/noise — the standard
    CCNet-style quality cut.

    Scale shape: the token multiset is pre-collapsed per doc inside
    codegen (distinct token + in-doc count), so the LM join fans out by
    DISTINCT tokens per doc, not occurrences; the LM table is broadcast
    (vocabulary grows sub-linearly with the corpus) and the per-doc
    aggregate collapses map-side. One shuffle, on the doc id. Docs with
    zero tokens score n_tokens = 0 with NULL logprob/perplexity."""
    from ..functions.native import _let
    if lm is None:
        lm = unigram_lm(df, text_col, lowercase)
    toks = word_tokens(text_col, lowercase=lowercase)

    def per_doc(ws):
        return F.transform(
            F.array_distinct(ws),
            lambda t: F.struct(
                t.alias("token"),
                F.size(F.filter(ws, lambda x: x == t)).alias("cnt")))

    t = df.select(_c(id_col).alias("id"),
                  F.explode_outer(_let(toks, per_doc)).alias("tc"))
    oov = lm.agg(F.first("oov_logp").alias("__oov"))
    scored = (t.join(F.broadcast(lm.select("token", "logp")),
                     t["tc.token"] == F.col("token"), "left")
              .crossJoin(F.broadcast(oov))
              .withColumn("__lp", F.when(F.col("tc").isNull(), F.lit(None))
                          .otherwise(F.coalesce("logp", F.col("__oov")))))
    out = (scored.groupBy("id")
           .agg(F.coalesce(F.sum("tc.cnt"), F.lit(0)).cast("long")
                .alias("n_tokens"),
                (-F.sum(F.col("__lp") * F.col("tc.cnt"))).alias("__nl")))
    avg = F.when(F.col("n_tokens") > 0,
                 F.col("__nl") / F.col("n_tokens"))
    return out.select("id", "n_tokens", avg.alias("avg_neg_logp"),
                      F.exp(avg).alias("perplexity"))


# ---------------------------------------------------------------------------
# cross-corpus paragraph dedup (C4-style)
# ---------------------------------------------------------------------------

def dedup_paragraphs(df: DataFrame, id_col="doc_id", text_col="text",
                     sep: str = "\n\n", min_chars: int = 1) -> DataFrame:
    """Remove every DUPLICATED paragraph across the corpus, keeping the
    first occurrence (lowest (doc_id, position)) — the C4 rule that
    strips boilerplate paragraphs (cookie banners, license footers)
    repeated across pages while keeping each document's unique prose.

    Returns (id, text) with each document reassembled from its
    surviving paragraphs in original order; documents losing every
    paragraph are dropped (C4 drops fully-boilerplate pages).

    Plan: posexplode paragraphs → ONE shuffle on the 16-byte paragraph
    md5 (window min over (doc_id, pos) picks the canonical owner) →
    regroup by doc. Paragraph text rides the shuffle once; at 100 TB
    the win over a two-pass groupBy-then-join formulation is that the
    decision and the payload travel together.
    """
    from pyspark.sql import Window
    paras = df.select(
        _c(id_col).alias("id"),
        F.posexplode(F.split(_c(text_col), sep)).alias("pos", "para"))
    paras = paras.where(F.length(F.trim("para")) >= min_chars)
    w = Window.partitionBy(F.md5("para")).orderBy("id", "pos")
    kept = (paras.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1))
    return (kept.groupBy("id")
            .agg(F.array_join(F.transform(F.array_sort(F.collect_list(
                F.struct("pos", "para"))), lambda s: s["para"]),
                sep).alias("text")))


# ---------------------------------------------------------------------------
# BM25 retrieval (Okapi BM25 — the lexical-retrieval baseline every
# RAG / hard-negative-mining pipeline needs; the reference engine has no
# text surface at all)
# ---------------------------------------------------------------------------

def bm25_topk(corpus: DataFrame, queries: DataFrame, id_col="doc_id",
              text_col="text", query_id_col="query_id",
              query_text_col="query_text", k: int = 5, k1: float = 1.2,
              b: float = 0.75, lowercase=True,
              prefilter: str = "post") -> DataFrame:
    """Top-k documents per query by Okapi BM25.

    score(q, d) = Σ_{t ∈ distinct(q)} idf(t) · tf·(k1+1) /
                  (tf + k1·(1 − b + b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5))  (rounded to 6 — both
    engines' ``ln`` can differ in the last ulp; everything downstream of
    the rounding is exact IEEE arithmetic, so ranks are deterministic).

    Scale shape (r9): only QUERY-token postings persist and feed the
    scoring joins — the (doc, token) table broadcast-semi-joins the
    (tiny) query vocabulary, so the cached table is query-sized, never
    corpus-sized, and df/tf/dl/avgdl/N are bit-identical for query
    tokens. ``prefilter`` picks WHERE the semi join runs:

    * ``'post'`` (default): after the (doc, token) groupBy. The full
      token stream shuffles once (map-side combined), exactly like the
      plain aggregation — measured FASTER locally, where shuffles are
      memory-speed but a broadcast-hash probe per pre-aggregation
      token occurrence is not (same-session A/B at 2M docs: pre 120 s
      vs post ~60 s).
    * ``'pre'``: before the groupBy. The shuffle itself carries only
      query-matching occurrences — the right trade on network-bound
      clusters where shuffle bytes dominate and the per-row probe is
      hidden by I/O.

    Corpus N/avgdl come from one scan-side aggregate over per-doc
    lengths (zero-token docs contribute dl = 0, exactly matching the
    postings-side sum where they had no rows). The query table and the
    per-query-token df/idf table are broadcast. Top-k per query is a
    window over the (small) scored candidate set. Returns (query_id,
    rank, doc_id, score).
    """
    from pyspark import StorageLevel
    from pyspark.sql import Window
    toks = word_tokens(text_col, lowercase=lowercase)

    # the token array MUST be materialized in its own projection below
    # the Generate: if size(split(..)) rides the projection above the
    # explode, persisting tf defeats column pruning and the split
    # re-runs once per EXPLODED row (measured 90 s vs 13 s at 200k
    # docs). Two references to a non-cheap expression block
    # CollapseProject, so ws is computed once per input row.
    tokd = corpus.select(_c(id_col).alias("id"), toks.alias("ws"))
    base = tokd.select("id", F.size("ws").alias("dl"),
                       F.explode("ws").alias("token"))

    qt = queries.select(
        _c(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(
            word_tokens(query_text_col, lowercase=lowercase)))
        .alias("token"))
    qvocab = qt.select("token").distinct()

    if prefilter == "pre":
        posted = base.join(F.broadcast(qvocab), "token", "semi")
    elif prefilter == "post":
        posted = base
    else:
        raise ValueError(f"prefilter must be 'pre' or 'post', "
                         f"got {prefilter!r}")
    tf = (posted.groupBy("id", "token")
          .agg(F.count("*").alias("tf"), F.min("dl").alias("dl")))
    if prefilter == "post":
        tf = tf.join(F.broadcast(qvocab), "token", "semi")
    tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    # eager materialization: tf feeds the dfreq broadcast AND the main
    # scored path — a lazy persist lets the two concurrent consumers
    # each recompute the full explode subtree before any cache block
    # lands (r9 measured 320 s vs ~195 s at the 5M-doc stress)
    tf.count()

    # N and avgdl in ONE corpus aggregate — no postings dependency;
    # a single-reference size(split) needs no freeze and the count-only
    # column pruning keeps this pass cheap (~3 s at 5M docs)
    stats = corpus.agg(
        F.count("*").cast("double").alias("n_docs"),
        (F.sum(F.size(toks)) / F.count("*")).alias("avgdl"))

    # doc frequency per query token straight off the restricted
    # postings (they already cover exactly the query vocabulary)
    dfreq = tf.groupBy("token").agg(F.count("*").alias("df"))

    idf_col = F.round(F.log(
        1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        6)
    tf_part = (F.col("tf") * (k1 + 1.0)
               / (F.col("tf") + k1 * (1.0 - b
                                      + b * F.col("dl") / F.col("avgdl"))))
    scored = (tf.join(F.broadcast(qt), "token")
              .join(F.broadcast(dfreq), "token")
              .crossJoin(F.broadcast(stats))
              .groupBy("query_id", "id")
              .agg(F.round(F.sum(idf_col * tf_part), 6).alias("score")))
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("id"))
    out = (scored.withColumn("rank", F.row_number().over(w))
           .where(F.col("rank") <= int(k))
           .select("query_id", "rank", F.col("id").alias(id_col), "score"))
    from ..cache import pin
    return pin(out, tf)


def ngram_counts(df: DataFrame, n: int = 2, text_col="text",
                 lowercase=True) -> DataFrame:
    """Corpus n-gram frequency table (ngram, n) — the counting pass of
    n-gram LM training / collocation mining. Gram lists build natively
    per document (zip_with over shifted token slices — multiplicity
    kept); ONE shuffle, on the gram string, with map-side partial
    aggregation collapsing the head."""
    from .text import _word_ngrams
    toks = word_tokens(text_col, lowercase=lowercase)
    grams = _word_ngrams(toks, n)
    return (df.select(F.explode(grams).alias("ngram"))
            .groupBy("ngram")
            .agg(F.count("*").cast("long").alias("n")))


def ngram_topk(df: DataFrame, n: int = 2, k: int = 40, text_col="text",
               lowercase=True) -> DataFrame:
    """Top-k corpus n-grams by frequency (deterministic tie-break on the
    gram string); the global top-k is a sort-limit — per-partition
    top-k before the single-partition merge."""
    return (ngram_counts(df, n, text_col, lowercase)
            .orderBy(F.desc("n"), F.asc("ngram")).limit(k))


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
# arXiv:2302.03169): pick raw-corpus documents whose hashed-n-gram
# feature distribution looks like a TARGET domain, by importance weight
# p_target(features)/p_raw(features) under bag-of-hashed-n-grams models,
# sampled without replacement via the Gumbel-top-k trick (public
# folklore; see e.g. Vieira 2014). The standard pretraining-data
# curation step between raw crawl and domain-tuned corpus.
# ---------------------------------------------------------------------------

def dsir_features(text_col="text", buckets: int = 1024) -> Column:
    """array<long> of hashed unigram+bigram feature buckets for one
    document (multiplicity kept — DSIR's features are bag counts).
    md5-based bucketing (the engine's portable 32-bit primitive, same
    as llm.classify) so any SQL oracle replays it bit-for-bit."""
    from .classify import token_bucket
    from .text import _word_ngrams
    from ..functions.native import _let

    def build(toks):
        feats = F.concat(toks, _word_ngrams(toks, 2))
        return F.transform(feats,
                           lambda t: token_bucket(t, buckets))
    return _let(word_tokens(text_col), build)


def _dsir_bucket_logp(df: DataFrame, text_col: str, buckets: int,
                      feats: Column) -> DataFrame:
    """(bucket, logp) over ALL ``buckets`` ids: add-one-smoothed hashed
    feature distribution, log((c_b + 1) / (N + B)). One shuffle on the
    bucket id; the total rides a broadcast 1-row aggregate."""
    cnt = (df.select(F.explode(feats).alias("bucket"))
           .groupBy("bucket").agg(F.count("*").alias("c")))
    return _dsir_logp_from_counts(df.sparkSession, cnt, buckets)


def _dsir_logp_from_counts(spark, cnt: DataFrame,
                           buckets: int) -> DataFrame:
    """The smoothing/total tail of :func:`_dsir_bucket_logp` over an
    already-computed (bucket, c) count table (r13: lets the raw-side
    LM derive from the per-doc count table's bucket marginal instead
    of a second corpus pass)."""
    allb = spark.range(buckets).select(F.col("id").alias("bucket"))
    tot = cnt.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("N"))
    return (allb.join(cnt, "bucket", "left")
            .crossJoin(F.broadcast(tot))
            .select("bucket",
                    F.log((F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                          / (F.col("N") + F.lit(float(buckets))))
                    .alias("logp")))


def dsir_log_weights(raw_df: DataFrame, target_df: DataFrame,
                     id_col="doc_id", text_col="text",
                     buckets: int = 1024) -> DataFrame:
    """(id, n_feat, logw): per-raw-document importance log-weight
    Σ_b cnt_b · (log p_target(b) − log p_raw(b)).

    Scale shape: both bucket LMs are ONE shuffle each on the bucket id
    and are exactly ``buckets`` rows, so the log-ratio table broadcasts;
    per-doc bucket counts shuffle on (id, bucket) with map-side
    partials, then one shuffle on the id folds the weight. Documents
    with no features (empty after tokenization) have no weight and
    cannot be selected. The persisted per-doc count table is pinned on
    the result; ``cache.release(result)`` frees it."""
    from pyspark import StorageLevel
    feats = dsir_features(text_col, buckets)
    # r13: ONE tokenize+explode pass over the raw corpus. The raw
    # bucket LM is the exact bucket marginal of the per-doc counts
    # (Σ_id cnt(id, b) = c_b — same integers, so the smoothed log-probs
    # are bit-identical), so it derives from the persisted percount
    # table instead of a second full corpus explode (the raw side is
    # the 100 TB side; the target side stays its own small pass). The
    # lazy persist is safe: percount's first consumer is the broadcast
    # ratio build, and broadcast jobs run before the main stages and
    # fill the cache (the dedup_semantic convention).
    percount = (raw_df.select(F.col(id_col).alias("id"),
                              F.explode(feats).alias("bucket"))
                .groupBy("id", "bucket").agg(F.count("*").alias("cnt"))
                .persist(StorageLevel.MEMORY_AND_DISK))
    raw_cnt = percount.groupBy("bucket").agg(F.sum("cnt").alias("c"))
    ratio = (_dsir_bucket_logp(target_df, text_col, buckets, feats)
             .withColumnRenamed("logp", "logp_t")
             .join(_dsir_logp_from_counts(raw_df.sparkSession, raw_cnt,
                                          buckets),
                   "bucket")
             .select("bucket",
                     (F.col("logp_t") - F.col("logp")).alias("logr")))
    from ..cache import pin
    out = (percount.join(F.broadcast(ratio), "bucket")
           .groupBy("id")
           .agg(F.sum("cnt").alias("n_feat"),
                F.sum(F.col("cnt") * F.col("logr")).alias("logw")))
    return pin(out, percount)


def dsir_select(raw_df: DataFrame, target_df: DataFrame, k: int,
                id_col="doc_id", text_col="text", buckets: int = 1024,
                seed: str = "dsir") -> DataFrame:
    """Importance-resample ``k`` raw documents toward the target
    domain: Gumbel-top-k over the log-weights — key = logw + G where
    G = −log(−log(u)) and u is a deterministic md5-uniform of
    (id, seed), which samples without replacement with probability
    ∝ exp(logw) (the Gumbel-max trick). Fully deterministic given the
    seed, so an oracle replays the exact selected set; ranking
    quantizes the key to 9 decimals with an id tie-break so a
    cross-engine log() ulp cannot reorder the cut. Returns (id,
    n_feat, logw, key), the selected k. The persisted per-doc count
    table stays pinned on the result: ``cache.release(result)`` frees
    it once the selection has been consumed."""
    w = dsir_log_weights(raw_df, target_df, id_col, text_col, buckets)
    h = F.conv(F.substring(
        F.md5(F.concat(F.col("id").cast("string"), F.lit(seed))),
        1, 8), 16, 10).cast("double")
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    key = F.col("logw") + (-F.log(-F.log(u)))
    from ..cache import pin, pinned
    out = (w.withColumn("key", key)
           .orderBy(F.round(F.col("key"), 9).desc(),
                    F.col("id").asc())
           .limit(int(k)))
    return pin(out, *pinned(w))

"""Tests for arctic_spark.llm.pipeline: decontamination, deterministic
sampling, sequence packing, PII scrubbing, chunking, vocab stats — all
against hand-computed (or brute-force python) oracles."""

import hashlib

import pytest
from pyspark.sql import functions as F

from arctic_spark.llm import pipeline

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog every single day"),
    (2, "the quick brown fox jumps over the lazy dog every single night"),
    (3, "a completely different document about spark query engines"),
    (4, "short doc"),
    (5, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


# -- decontamination --------------------------------------------------------

def test_contamination_pairs(docs, spark):
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps over the lazy dog every")],
        "doc_id long, text string")
    out = pipeline.contamination_pairs(docs, bench, k=5,
                                       min_overlap_frac=0.5).collect()
    # bench doc has 5 5-shingles; docs 1 and 2 contain 4 and 4 of them
    by = {(r.doc_id, r.bench_id): r for r in out}
    assert set(by) == {(1, 100), (2, 100)}
    assert by[(1, 100)].n_overlap == 5
    assert by[(1, 100)].bench_frac == 1.0
    assert by[(2, 100)].n_overlap == 5


def test_decontaminate_removes_hits(docs, spark):
    bench = spark.createDataFrame(
        [(100, "quick brown fox jumps over the lazy dog every")],
        "doc_id long, text string")
    kept = sorted(r.doc_id for r in
                  pipeline.decontaminate(docs, bench, k=5).collect())
    assert kept == [3, 4, 5]


# -- sampling ---------------------------------------------------------------

def _md5_prefix(s):
    return hashlib.md5(s.encode()).hexdigest()[:8]


def test_hash_sample_matches_python(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "k")
    got = sorted(r.k for r in
                 pipeline.hash_sample(df, "k", 0.25, seed="s1").collect())
    thr = pipeline._hash_threshold(0.25)
    want = sorted(i for i in range(2000) if _md5_prefix("s1" + str(i)) < thr)
    assert got == want
    # ~25% within tolerance
    assert 0.2 < len(got) / 2000 < 0.3


def test_hash_sample_deterministic_and_coordinated(spark):
    df = spark.range(0, 500).withColumnRenamed("id", "k")
    a = set(r.k for r in pipeline.hash_sample(df, "k", 0.5).collect())
    b = set(r.k for r in
            pipeline.hash_sample(df.repartition(7), "k", 0.5).collect())
    assert a == b  # invariant to partitioning


def test_stratified_sample(spark):
    rows = [(i, "en" if i % 2 == 0 else "fr") for i in range(1000)]
    df = spark.createDataFrame(rows, "k long, lang string")
    out = pipeline.stratified_sample(
        df, "lang", "k", {"en": 0.1, "fr": 1.0}).collect()
    en = [r.k for r in out if r.lang == "en"]
    fr = [r.k for r in out if r.lang == "fr"]
    assert len(fr) == 500          # keep-all stratum is exact
    assert 20 < len(en) < 90       # ~10% of 500
    # unlisted stratum default=0
    out2 = pipeline.stratified_sample(df, "lang", "k", {"fr": 1.0}).collect()
    assert all(r.lang == "fr" for r in out2)


# -- sequence packing -------------------------------------------------------

def _next_fit(items, budget):
    bins, cur, fill = [], 0, 0
    for _id, t in items:
        if fill > 0 and fill + t > budget:
            cur += 1
            fill = 0
        fill += t
        bins.append((_id, cur))
    return dict(bins)


def test_pack_sequences_next_fit(spark):
    rows = [(i, (i * 37) % 90 + 10) for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")
    packed = pipeline.pack_sequences(df, budget=128).collect()
    want = _next_fit(sorted(rows), 128)
    got = {r.doc_id: r.bin_id for r in packed}
    assert got == want


def test_pack_sequences_grouped_and_oversized(spark):
    rows = [(1, "a", 100), (2, "a", 100), (3, "a", 300), (4, "a", 10),
            (5, "b", 50), (6, "b", 50)]
    df = spark.createDataFrame(rows, "doc_id long, g string, n_tokens long")
    got = {(r.g, r.doc_id): r.bin_id
           for r in pipeline.pack_sequences(df, budget=200, key="g").collect()}
    # group a: [100,100] -> bin0; 300 oversized -> bin1 alone; 10 -> bin2
    assert got[("a", 1)] == 0 and got[("a", 2)] == 0
    assert got[("a", 3)] == 1
    assert got[("a", 4)] == 2
    # group b restarts at 0
    assert got[("b", 5)] == 0 and got[("b", 6)] == 0
    stats = {(r.g, r.bin_id): r
             for r in pipeline.pack_stats(
                 pipeline.pack_sequences(df, budget=200, key="g"),
                 key="g", budget=200).collect()}
    assert stats[("a", 0)].fill == 200 and stats[("a", 0)].waste_frac == 0.0
    assert stats[("a", 1)].waste_frac == 0.0  # oversized clamps to 0
    assert stats[("b", 0)].fill == 100 and stats[("b", 0)].waste_frac == 0.5


# -- PII --------------------------------------------------------------------

def test_pii_counts_and_redact(spark):
    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org and 10.0.255.1 now"),
         (2, "no pii here"),
         (3, "two a@b.io c@d.net and 1.2.3.4 5.6.7.8")],
        "id long, text string")
    out = {r.id: r for r in df.select(
        "id",
        pipeline.email_count("text").alias("em"),
        pipeline.ipv4_count("text").alias("ip"),
        pipeline.redact_pii("text").alias("red")).collect()}
    assert (out[1].em, out[1].ip) == (1, 1)
    assert out[1].red == "mail <EMAIL> and <IP> now"
    assert (out[2].em, out[2].ip) == (0, 0)
    assert out[2].red == "no pii here"
    assert (out[3].em, out[3].ip) == (2, 2)
    assert out[3].red == "two <EMAIL> <EMAIL> and <IP> <IP>"


def test_pii_phone_optin(spark):
    df = spark.createDataFrame([(1, "call +1 (555) 867-5309 today")],
                               "id long, text string")
    no = df.select(pipeline.redact_pii("text").alias("t")).first().t
    yes = df.select(pipeline.redact_pii("text", phone=True).alias("t")) \
            .first().t
    assert "867-5309" in no
    assert "867" not in yes and "<PHONE>" in yes


# -- chunking ---------------------------------------------------------------

def test_chunk_documents_no_overlap(spark):
    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, words), (2, "only three words"),
                                (3, "")], "doc_id long, text string")
    out = pipeline.chunk_documents(df, chunk_tokens=4, overlap=0).collect()
    by = {(r.id, r.chunk_idx): r for r in out}
    assert len([k for k in by if k[0] == 1]) == 3   # 4+4+2
    assert by[(1, 0)].chunk_text == "w0 w1 w2 w3"
    assert by[(1, 2)].chunk_text == "w8 w9"
    assert by[(1, 2)].n_tokens == 2
    assert by[(2, 0)].chunk_text == "only three words"
    assert not [k for k in by if k[0] == 3]         # empty doc -> no chunks


def test_chunk_documents_overlap(spark):
    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, words)], "doc_id long, text string")
    out = sorted(pipeline.chunk_documents(df, chunk_tokens=4, overlap=2)
                 .collect(), key=lambda r: r.chunk_idx)
    texts = [r.chunk_text for r in out]
    # stride 2: starts at w0,w2,w4,w6 — w8 start would add no new tokens
    assert texts[0] == "w0 w1 w2 w3"
    assert texts[1] == "w2 w3 w4 w5"
    assert texts[-1] == "w6 w7 w8 w9"
    assert len(texts) == 4
    # exact cover: doc of exactly chunk_tokens length -> one chunk only
    df2 = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    out2 = pipeline.chunk_documents(df2, chunk_tokens=4, overlap=2).collect()
    assert len(out2) == 1


# -- vocab ------------------------------------------------------------------

def test_vocab_stats_and_topk(docs, spark):
    vs = {r.token: (r.tf, r.df)
          for r in pipeline.vocab_stats(docs).collect()}
    assert vs["the"] == (4, 2)      # 2x in docs 1 and 2
    assert vs["dog"] == (2, 2)
    assert vs["spark"] == (1, 1)
    top = pipeline.vocab_topk(docs, k=1).collect()
    assert top[0].token == "the"
    n_docs = docs.count()
    iv = {r.token: r.idf for r in
          pipeline.idf(pipeline.vocab_stats(docs), n_docs).collect()}
    import math
    assert abs(iv["the"] - (math.log((n_docs + 1) / 3) + 1)) < 1e-6


def test_tfidf_topk_per_doc(docs):
    out = pipeline.tfidf_topk_per_doc(docs, k=2)
    rows = [r for r in out.collect() if r.id == 3]
    assert len(rows) == 2
    assert rows[0].rank == 1
    # doc-3-only words should outrank shared ones
    assert all(r.token in {"completely", "different", "document", "about",
                           "spark", "query", "engines", "a"} for r in rows)


def test_strip_html(spark):
    from arctic_spark.llm import text as T
    df = spark.createDataFrame(
        [(1, "<html><body><h1>Hi &amp; bye</h1><p>a  b</p>"
             "<script>ignore<this></script><style>p{}</style></body></html>"),
         (2, "no markup at all"),
         (3, "")],
        "id long, html string")
    out = {r.id: r for r in df.select(
        "id", T.strip_html("html").alias("t"),
        T.html_visible_ratio("html").alias("vr")).collect()}
    assert out[1].t == "Hi & bye a b"
    assert out[2].t == "no markup at all"
    assert out[2].vr == 1.0
    assert out[3].t == "" and out[3].vr == 0.0


def test_dedup_paragraphs(spark):
    boiler = "accept our cookies"
    rows = [
        (1, f"unique one\n\n{boiler}\n\nunique two"),
        (2, f"{boiler}\n\nsomething else"),       # boiler already seen
        (3, f"{boiler}"),                          # nothing survives
        (4, "fresh content\n\nfresh content"),     # in-doc dup collapses too
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.id: r.text for r in pipeline.dedup_paragraphs(df).collect()}
    assert out[1] == f"unique one\n\n{boiler}\n\nunique two"  # first owner
    assert out[2] == "something else"
    assert 3 not in out                            # fully boilerplate
    assert out[4] == "fresh content"


def test_unigram_lm_scoring(spark):
    import math
    df = spark.createDataFrame(
        [(1, "a a b"), (2, "a c"), (3, "")],
        "doc_id long, text string")
    lm = {r.token: (r.tf, r.logp, r.oov_logp)
          for r in pipeline.unigram_lm(df).collect()}
    # N=5 tokens, V=3 vocab -> denom 8; p(a)=(3+1)/8, p(b)=p(c)=2/8
    assert lm["a"][0] == 3
    assert lm["a"][1] == pytest.approx(math.log(0.5))
    assert lm["b"][1] == pytest.approx(math.log(0.25))
    assert lm["a"][2] == pytest.approx(math.log(1 / 8))

    out = {r.id: r for r in
           pipeline.doc_unigram_logprob(df).collect()}
    # doc 1: -(2 ln .5 + ln .25)/3 ; perplexity = 16^(1/3)
    assert out[1].n_tokens == 3
    assert out[1].avg_neg_logp == pytest.approx(
        -(2 * math.log(.5) + math.log(.25)) / 3)
    assert out[1].perplexity == pytest.approx(16 ** (1 / 3))
    # empty doc scores NULL with zero tokens
    assert out[3].n_tokens == 0 and out[3].perplexity is None

    # OOV path: unseen token scores the add-one floor 1/(N+V)
    q = spark.createDataFrame([(9, "d d")], "doc_id long, text string")
    lm_df = pipeline.unigram_lm(df)
    r9 = pipeline.doc_unigram_logprob(q, lm_df).collect()[0]
    assert r9.avg_neg_logp == pytest.approx(-math.log(1 / 8))


def test_mixture_plan_and_sample(spark):
    rows = []
    # 3 domains: a has 1000 tokens (10 docs x 100), b 400, c 200
    for i in range(10):
        rows.append((i, "a", "w " * 100))
    for i in range(10, 14):
        rows.append((i, "b", "w " * 100))
    for i in range(14, 16):
        rows.append((i, "c", "w " * 100))
    df = spark.createDataFrame(rows, "doc_id long, dom string, text string")
    plan = {r.domain: r for r in pipeline.mixture_plan(
        df, "dom", {"a": 0.5, "b": 0.5}, 600).collect()}
    assert plan["a"].avail_tokens == 1000
    assert plan["a"].fraction == pytest.approx(0.3)     # 300/1000
    assert plan["b"].fraction == pytest.approx(0.75)    # 300/400
    assert plan["c"].fraction == 0.0                    # unlisted
    # capped at 1 when the budget exceeds availability
    plan2 = {r.domain: r for r in pipeline.mixture_plan(
        df, "dom", {"c": 1.0}, 10_000).collect()}
    assert plan2["c"].fraction == 1.0

    out = pipeline.mixture_sample(df, "dom", "doc_id",
                                  {"a": 0.5, "b": 0.5}, 600)
    got = out.groupBy("dom").count().collect()
    by = {r.dom: r["count"] for r in got}
    assert "c" not in by                                # fraction 0
    assert set(by) <= {"a", "b"}
    # determinism: same call, same rows
    out2 = pipeline.mixture_sample(df, "dom", "doc_id",
                                   {"a": 0.5, "b": 0.5}, 600)
    assert sorted(r.doc_id for r in out.collect()) == \
        sorted(r.doc_id for r in out2.collect())
    # fraction 1.0 keeps every doc of the domain
    keep_all = pipeline.mixture_sample(df, "dom", "doc_id",
                                       {"c": 1.0}, 10_000)
    assert sorted(r.doc_id for r in keep_all.collect()) == [14, 15]
    with pytest.raises(ValueError):
        pipeline.mixture_plan(df, "dom", {"a": 0.0}, 100)


# -- BM25 retrieval ---------------------------------------------------------

def test_bm25_topk_self_retrieval(docs, spark):
    # each query is a document's own text -> that document ranks first
    q = docs.select(F.col("doc_id").alias("query_id"),
                    F.col("text").alias("query_text"))
    out = pipeline.bm25_topk(docs, q, k=3).collect()
    first = {r["query_id"]: r["doc_id"] for r in out if r["rank"] == 1}
    for qid, did in first.items():
        assert did == qid
    # scores are positive and ranks dense per query
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r["rank"])
        assert r["score"] > 0
    for ranks in by_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_bm25_rare_term_beats_common(spark):
    corpus = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta delta"),
         (3, "alpha zeta unique")],
        "doc_id long, text string")
    q = spark.createDataFrame([(0, "unique")],
                              "query_id long, query_text string")
    out = pipeline.bm25_topk(corpus, q, k=3).collect()
    assert len(out) == 1 and out[0]["doc_id"] == 3


# -- DSIR (Xie 2023) ---------------------------------------------------------

def test_dsir_weights_favor_target_like_docs(spark):
    """Docs sharing the target domain's vocabulary must carry higher
    importance log-weights than off-domain docs."""
    raw = spark.createDataFrame(
        [(1, "alpha beta gamma alpha beta"),       # target-like
         (2, "alpha beta gamma beta alpha gamma"),  # target-like
         (3, "zulu yankee xray whiskey victor"),    # off-domain
         (4, "zulu zulu yankee yankee xray")],      # off-domain
        "doc_id long, text string")
    target = spark.createDataFrame(
        [(100, "alpha beta gamma alpha gamma beta alpha")],
        "doc_id long, text string")
    w = {r.id: r.logw for r in pipeline.dsir_log_weights(
        raw, target, buckets=64).collect()}
    assert min(w[1], w[2]) > max(w[3], w[4])
    # per-doc feature counts: unigrams + bigrams, multiplicity kept
    nf = {r.id: r.n_feat for r in pipeline.dsir_log_weights(
        raw, target, buckets=64).collect()}
    assert nf[1] == 5 + 4 and nf[3] == 5 + 4


def test_dsir_select_deterministic_and_weighted(spark):
    raw = spark.createDataFrame(
        [(i, "alpha beta gamma" if i % 2 == 0 else
          "zulu yankee xray") for i in range(40)],
        "doc_id long, text string")
    target = spark.createDataFrame(
        [(100, "alpha beta gamma beta alpha")],
        "doc_id long, text string")
    sel1 = sorted(r.id for r in pipeline.dsir_select(
        raw, target, k=10, buckets=64, seed="t").collect())
    sel2 = sorted(r.id for r in pipeline.dsir_select(
        raw, target, k=10, buckets=64, seed="t").collect())
    assert sel1 == sel2 and len(sel1) == 10       # deterministic
    # the on-domain half dominates the Gumbel-top-k draw: the weight
    # gap (orders of magnitude in logw) swamps Gumbel noise
    assert sum(1 for i in sel1 if i % 2 == 0) >= 9
    sel3 = sorted(r.id for r in pipeline.dsir_select(
        raw, target, k=10, buckets=64, seed="other").collect())
    assert sel3 != sel1 or True  # different seed may differ; no crash


def test_dsir_empty_docs_excluded(spark):
    raw = spark.createDataFrame(
        [(1, "alpha beta"), (2, ""), (3, "   ")],
        "doc_id long, text string")
    target = spark.createDataFrame(
        [(9, "alpha beta alpha")], "doc_id long, text string")
    w = pipeline.dsir_log_weights(raw, target, buckets=32).collect()
    assert {r.id for r in w} == {1}
    sel = pipeline.dsir_select(raw, target, k=5, buckets=32).collect()
    assert [r.id for r in sel] == [1]


def test_dsir_select_release_frees_percount(spark):
    """dsir_select carries the persisted per-doc count table of its
    weights, so release() on the selection leaves no live pin."""
    from arctic_spark.cache import pinned, release
    raw = spark.createDataFrame(
        [(i, "alpha beta" if i % 2 else "zulu xray") for i in range(8)],
        "doc_id long, text string")
    target = spark.createDataFrame(
        [(9, "alpha beta alpha")], "doc_id long, text string")
    sel = pipeline.dsir_select(raw, target, k=3, buckets=32)
    handles = pinned(sel)
    assert handles and all(h.is_cached for h in handles)
    assert len(sel.collect()) == 3
    assert release(sel) == len(handles)
    assert pinned(sel) == []
    assert not any(h.is_cached or h.storageLevel.useMemory
                   or h.storageLevel.useDisk for h in handles)

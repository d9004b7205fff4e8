"""Randomized differential tests (FIXTURES.md F6, mirrors
`TestWANDScorer.java:729-831`): pruned block-max WAND plan ≡ exhaustive
DataFrame plan ≡ naive single-node reference, on every (docID, score).
"""

from collections import Counter

import numpy as np
import pandas as pd
import pytest

from lucene_spark.functions.bm25 import BM25, bm25_idf
from lucene_spark.functions.smallfloat import int_to_byte4
from lucene_spark.index import InvertedIndex
from lucene_spark.search import (
    BooleanClause,
    BooleanQuery,
    BoostQuery,
    ConstantScoreQuery,
    DisjunctionMaxQuery,
    IndexSearcher,
    Occur,
    PhraseQuery,
    TermQuery,
)
from tests.ref_impl import NaiveIndex
from tests.test_positional import naive_phrase_freq, naive_tokens, pidx  # noqa: F401 (fixture)


def _random_corpus(rng, n_docs, vocab_size):
    vocab = [f"w{i}" for i in range(vocab_size)]
    docs = {}
    for d in range(n_docs):
        n = int(rng.zipf(1.5)) % 60
        # zipf-skewed term draw
        idx = np.minimum(rng.zipf(1.3, size=n) - 1, vocab_size - 1)
        docs[d] = [vocab[i] for i in idx]
    return docs


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_wand_equals_exhaustive_equals_naive(spark, seed):
    rng = np.random.RandomState(seed)
    docs = _random_corpus(rng, n_docs=400, vocab_size=30)
    naive = NaiveIndex(docs)
    pdf = pd.DataFrame(
        {"doc_id": list(docs), "text": [" ".join(t) for t in docs.values()]}
    )
    idx = InvertedIndex.build(
        spark.createDataFrame(pdf), analyzer="simple", docs_per_segment=100
    )
    searcher = IndexSearcher(idx)

    for trial in range(3):
        n_terms = rng.randint(2, 5)
        terms = [f"w{rng.randint(0, 30)}" for _ in range(n_terms)]
        boosts = [float(b) for b in rng.choice([0.5, 1.0, 2.0, 3.0], size=n_terms)]
        term_boosts = {}
        for t, b in zip(terms, boosts):
            term_boosts[t] = term_boosts.get(t, 0) + b
        k = int(rng.choice([5, 10, 50]))
        q = BooleanQuery.of(
            *[
                BooleanClause(BoostQuery(TermQuery(t), b), Occur.SHOULD)
                for t, b in term_boosts.items()
            ]
        )
        expected = naive.disjunction_topk(term_boosts, k)
        ex = [(r["doc_id"], r["score"]) for r in searcher.search(q, k, "exhaustive").collect()]
        wd = [(r["doc_id"], r["score"]) for r in searcher.search(q, k, "wand").collect()]
        assert [d for d, _ in ex] == [d for d, _ in expected], (seed, trial, terms)
        assert [d for d, _ in wd] == [d for d, _ in expected], (seed, trial, terms)
        for (d1, s1), (d2, s2) in zip(ex, expected):
            assert s1 == pytest.approx(s2, abs=0), (d1, s1, d2, s2)
        assert wd == ex


def test_term_query_scores_match_naive(spark):
    rng = np.random.RandomState(7)
    docs = _random_corpus(rng, n_docs=200, vocab_size=10)
    naive = NaiveIndex(docs)
    pdf = pd.DataFrame(
        {"doc_id": list(docs), "text": [" ".join(t) for t in docs.values()]}
    )
    idx = InvertedIndex.build(
        spark.createDataFrame(pdf), analyzer="simple", docs_per_segment=64
    )
    searcher = IndexSearcher(idx)
    got = {
        r["doc_id"]: r["score"]
        for r in searcher.search(TermQuery("w0"), k=10_000, mode="exhaustive").collect()
    }
    expect = naive.term_scores("w0")
    assert got.keys() == expect.keys()
    for d in got:
        assert got[d] == np.float32(expect[d]), d


def test_flat_fast_path_equals_general_path(spark, documents):
    """The single-pass flat-boolean evaluator must agree with the
    general per-clause evaluator on randomized boolean queries."""
    import random

    from lucene_spark.index import InvertedIndex
    from lucene_spark.search import (
        BooleanClause,
        BooleanQuery,
        BoostQuery,
        IndexSearcher,
        Occur,
        TermQuery,
    )

    idx = InvertedIndex.build(documents, analyzer="simple", docs_per_segment=128)
    s = IndexSearcher(idx)
    vocab = ["hash", "join", "merge", "sort", "scan", "spark", "query", "window", "batch"]
    rng = random.Random(17)
    for trial in range(12):
        terms = rng.sample(vocab, rng.randint(2, 5))
        clauses = []
        for i, t in enumerate(terms):
            occ = rng.choice([Occur.SHOULD, Occur.SHOULD, Occur.MUST, Occur.MUST_NOT])
            q = TermQuery(t)
            if rng.random() < 0.3:
                q = BoostQuery(q, rng.choice([0.5, 2.0, 3.0]))
            clauses.append(BooleanClause(q, occ))
        if not any(c.occur in (Occur.SHOULD, Occur.MUST) for c in clauses):
            clauses[0] = BooleanClause(clauses[0].query, Occur.SHOULD)
        msm = rng.choice([0, 0, 1, 2])
        bq = BooleanQuery.of(*clauses, min_should_match=msm)
        flat = s._flat_term_clauses(bq)
        ctx = s._bind(bq)
        if flat is None:
            continue
        fast = {
            (r["doc_id"], round(r["score"], 6))
            for r in s._frame(s._flat_plan(flat, bq, ctx, 1.0)).collect()
        }
        # force the general path by bypassing the fast-path branch
        should = [c for c in bq.clauses if c.occur != Occur.MUST_NOT]
        nots = [c for c in bq.clauses if c.occur == Occur.MUST_NOT]
        slow_df = None
        # general evaluator: reuse _eval_boolean internals via a Boolean
        # with a non-flat wrapper that defeats _flat_term_clauses
        from lucene_spark.search.query import ConstantScoreQuery

        class _Opaque:
            pass

        # simplest: temporarily disable the fast path
        orig = s._flat_term_clauses
        s._flat_term_clauses = lambda q: None
        try:
            slow = {
                (r["doc_id"], round(r["score"], 6))
                for r in s._eval_boolean(bq, ctx, 1.0).collect()
            }
        finally:
            s._flat_term_clauses = orig
        assert fast == slow, (trial, bq)


def test_wand_differential_zipf_corpus(spark):
    """WAND == exhaustive on a realistic Zipf web corpus for randomized
    disjunctions (mirrors TestWANDScorer.java:729-831 randomized runs,
    at a scale where pruning actually skips blocks)."""
    import random

    from lucene_spark.corpus import synthetic_corpus
    from lucene_spark.index import InvertedIndex
    from lucene_spark.search import (
        BooleanClause,
        BooleanQuery,
        BoostQuery,
        IndexSearcher,
        Occur,
        TermQuery,
    )

    corpus = synthetic_corpus(spark, 20000, seed=5, num_partitions=16, with_doc_id=True)
    idx = InvertedIndex.build(corpus, analyzer="standard", docs_per_segment=1024)
    s = IndexSearcher(idx)
    vocab = [
        "spark", "index", "segment", "merge", "posting", "bm25", "score",
        "query", "term", "doc", "block", "shuffle", "partition", "crawl",
    ]
    rng = random.Random(99)
    for trial in range(6):
        terms = rng.sample(vocab, rng.randint(2, 4))
        clauses = tuple(
            BooleanClause(
                BoostQuery(TermQuery(t), rng.choice([0.5, 1.0, 2.0, 3.0])),
                Occur.SHOULD,
            )
            for t in terms
        )
        q = BooleanQuery.of(*clauses)
        k = rng.choice([3, 10, 50])
        wand = [(r["doc_id"], r["score"]) for r in s.search(q, k, "wand").collect()]
        exh = [(r["doc_id"], r["score"]) for r in s.search(q, k, "exhaustive").collect()]
        assert wand == exh, (trial, terms, k)


def test_grouped_fast_path_equals_general(spark, documents):
    """Nested term-disjunction groups through the single-pass evaluator
    must equal the general per-clause evaluator."""
    from lucene_spark.index import InvertedIndex
    from lucene_spark.search import IndexSearcher, parse_query

    idx = InvertedIndex.build(documents, analyzer="simple", docs_per_segment=128)
    s = IndexSearcher(idx)
    shapes = [
        "(hash OR sort) AND join",
        "(hash OR sort) AND (join OR merge)",
        "(hash OR sort^2) join -scan",
        "+(merge OR batch) -(scan OR window) query",
        "(hash OR sort) AND join^2",
    ]
    for qs in shapes:
        q = parse_query(qs)
        ctx = s._bind(q)
        flat = s._flat_term_clauses(q)
        assert flat is not None, qs  # shape must take the fast path
        fast = {
            (r["doc_id"], round(r["score"], 6))
            for r in s._frame(s._flat_plan(flat, q, ctx, 1.0)).collect()
        }
        orig = s._flat_term_clauses
        s._flat_term_clauses = lambda _q: None
        try:
            slow = {
                (r["doc_id"], round(r["score"], 6))
                for r in s._eval_boolean(q, ctx, 1.0).collect()
            }
        finally:
            s._flat_term_clauses = orig
        assert fast == slow, qs


@pytest.mark.parametrize("seed", [0, 3])
def test_wand_boosted_disjunction_equals_naive(spark, seed):
    """Block-max WAND over random boosted disjunctions (2-6 terms,
    boosts up to 5, small k) must be result-identical to the naive
    reference on every (docID, score) of the top-k."""
    rng = np.random.RandomState(seed)
    docs = _random_corpus(rng, n_docs=400, vocab_size=30)
    naive = NaiveIndex(docs)
    pdf = pd.DataFrame(
        {"doc_id": list(docs), "text": [" ".join(t) for t in docs.values()]}
    )
    idx = InvertedIndex.build(
        spark.createDataFrame(pdf), analyzer="simple", docs_per_segment=100
    )
    searcher = IndexSearcher(idx)
    for trial in range(3):
        n_terms = rng.randint(2, 7)
        terms = [f"w{rng.randint(0, 30)}" for _ in range(n_terms)]
        boosts = [float(b) for b in rng.choice([0.5, 1.0, 2.0, 5.0], size=n_terms)]
        term_boosts = {}
        for t, b in zip(terms, boosts):
            term_boosts[t] = term_boosts.get(t, 0) + b
        k = int(rng.choice([3, 10]))
        q = BooleanQuery.of(
            *[
                BooleanClause(BoostQuery(TermQuery(t), b), Occur.SHOULD)
                for t, b in term_boosts.items()
            ]
        )
        expected = naive.disjunction_topk(term_boosts, k)
        got = [
            (r["doc_id"], r["score"])
            for r in searcher.search(q, k=k, mode="wand").collect()
        ]
        assert [(d, pytest.approx(s, abs=1e-5)) for d, s in got] == expected


def test_wand_exact_beside_weak_rare_term(spark):
    """A strong co-occurring pair + a weak rare term: θ exceeds the
    weak term's max ub, so its blocks are prunable, and results must
    still be exact."""
    texts = []
    for i in range(300):
        t = ["big", "big", "strong", "strong"] if i < 40 else ["filler"]
        if i % 97 == 0:
            t = t + ["weakterm"]
        texts.append((i, " ".join(t)))
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    idx = InvertedIndex.build(docs, analyzer="simple", docs_per_segment=64)
    s = IndexSearcher(idx)
    q = BooleanQuery.of(
        BooleanClause(TermQuery("big"), Occur.SHOULD),
        BooleanClause(TermQuery("strong"), Occur.SHOULD),
        BooleanClause(TermQuery("weakterm"), Occur.SHOULD),
    )
    exh = [(r["doc_id"], r["score"]) for r in s.search(q, 10, "exhaustive").collect()]
    wand = [(r["doc_id"], r["score"]) for r in s.search(q, 10, "wand").collect()]
    assert wand == exh
    # a removed or misspelled mode fails loudly instead of silently
    # running exhaustive
    for mode in ("maxscore", "exhuastive", ""):
        with pytest.raises(ValueError, match="unknown search mode"):
            s.search(q, 10, mode)


# --- non-flat booleans: one clause-keyed combine vs a naive evaluation -----


def _naive_scores(q):
    """doc → double score of ``q`` over the positional fixture's tokens,
    with the engine's float32 term/phrase scores and double combines."""
    toks = naive_tokens()
    n, sttf = len(toks), sum(len(t) for t in toks.values())
    norms = {d: int(int_to_byte4(len(t))) for d, t in toks.items()}
    tf = {d: Counter(t) for d, t in toks.items()}
    df = lambda t: sum(1 for c in tf.values() if c[t])
    boost = 1.0
    if isinstance(q, BoostQuery):
        q, boost = q.query, q.boost
    if isinstance(q, TermQuery):
        s = BM25(doc_freq=df(q.term), doc_count=n, sum_total_term_freq=sttf, boost=boost)
        return {
            d: float(s.score([c[q.term]], [norms[d]])[0]) for d, c in tf.items() if c[q.term]
        }
    if isinstance(q, PhraseQuery):
        idf = np.float32(sum(float(bm25_idf(df(t), n)) for t in dict.fromkeys(q.terms)))
        w = np.float32(boost) * idf
        cache = BM25(doc_freq=1, doc_count=n, sum_total_term_freq=sttf).cache
        return {
            d: float(w - w / (np.float32(1.0) + np.float32(f) * cache[norms[d]]))
            for d, f in naive_phrase_freq(list(q.terms)).items()
        }
    if isinstance(q, DisjunctionMaxQuery):
        per_doc = {}
        for sub in q.queries:
            for d, s in _naive_scores(sub).items():
                per_doc.setdefault(d, []).append(s)
        return {d: max(ss) + (sum(ss) - max(ss)) * q.tie_breaker for d, ss in per_doc.items()}
    if isinstance(q, ConstantScoreQuery):
        return {d: 1.0 for d in _naive_scores(q.query)}
    if isinstance(q, BooleanQuery):
        scored = {d: 0.0 for d in toks}
        n_should = Counter()
        keep = set(toks)
        for c in q.clauses:
            hits = _naive_scores(c.query)
            if c.occur == Occur.MUST_NOT:
                keep -= set(hits)
                continue
            if c.occur in (Occur.MUST, Occur.FILTER):
                keep &= set(hits)
            if c.occur == Occur.SHOULD:
                n_should.update(list(hits))
            if c.occur in (Occur.SHOULD, Occur.MUST):
                for d, s in hits.items():
                    scored[d] += s
        has_req = any(c.occur in (Occur.MUST, Occur.FILTER) for c in q.clauses)
        need = q.minimum_number_should_match if has_req else max(q.minimum_number_should_match, 1)
        return {d: scored[d] for d in keep if n_should[d] >= need}
    raise NotImplementedError(type(q).__name__)


def _nonflat_shapes(msm):
    t = TermQuery
    dm = lambda *qs, tie: DisjunctionMaxQuery(tuple(qs), tie)
    return [
        BooleanQuery.of(
            BooleanClause(PhraseQuery(("hash", "join")), Occur.MUST),
            BooleanClause(dm(t("sort"), BoostQuery(t("side"), 2.0), tie=0.3), Occur.SHOULD),
            BooleanClause(t("the"), Occur.SHOULD),
            BooleanClause(
                ConstantScoreQuery(
                    BooleanQuery.of(*[BooleanClause(t(w)) for w in ("beats", "needs", "is", "avoids")])
                ),
                Occur.FILTER,
            ),
            BooleanClause(t("same"), Occur.MUST_NOT),
            min_should_match=msm,
        ),
        BooleanQuery.of(
            BooleanClause(PhraseQuery(("hash", "join")), Occur.MUST),
            BooleanClause(dm(t("sort"), BoostQuery(t("broadcast"), 2.0), tie=0.5), Occur.SHOULD),
            BooleanClause(BoostQuery(PhraseQuery(("hash", "hash")), 1.5), Occur.SHOULD),
            BooleanClause(ConstantScoreQuery(t("join")), Occur.FILTER),
            BooleanClause(t("table"), Occur.MUST_NOT),
            min_should_match=msm,
        ),
    ]


@pytest.mark.parametrize("msm", [0, 1, 2])
def test_nonflat_boolean_equals_naive(pidx, msm):  # noqa: F811 (the imported fixture)
    """Phrase MUST, DisMax SHOULD, ConstantScore FILTER and term
    MUST_NOT clauses combined once by clause key: the scored top-k and
    the unscored count both match a naive evaluation of the tokens."""
    s = IndexSearcher(pidx)
    for q in _nonflat_shapes(msm):
        expect = _naive_scores(q)
        got = {r["doc_id"]: r["score"] for r in s.search(q, 20, "exhaustive").collect()}
        assert set(got) == set(expect), (msm, q)
        for d, sc in expect.items():
            assert got[d] == pytest.approx(float(np.float32(sc)), rel=1e-6), (msm, d)
        assert s.count(q) == len(expect), (msm, q)

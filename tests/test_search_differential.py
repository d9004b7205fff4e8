"""Randomized differential tests (FIXTURES.md F6, mirrors
`TestWANDScorer.java:729-831`): pruned block-max WAND plan ≡ exhaustive
DataFrame plan ≡ naive single-node reference, on every (docID, score).
"""

import numpy as np
import pandas as pd
import pytest

from lucene_spark.index import InvertedIndex
from lucene_spark.search import (
    BooleanClause,
    BooleanQuery,
    BoostQuery,
    IndexSearcher,
    Occur,
    TermQuery,
)
from tests.ref_impl import NaiveIndex


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

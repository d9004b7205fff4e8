"""Aligned (zero-shuffle) build layout ≡ hash layout: same stats,
terms, norms and search results; CheckIndex clean even when partition
boundaries split segments into partial flushes."""

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lucene_spark.functions.bm25 import BM25
from lucene_spark.functions.forutil import fordelta_decode
from lucene_spark.index import InvertedIndex, check_index
from lucene_spark.search import BooleanClause, BooleanQuery, IndexSearcher, Occur, TermQuery

WORDS = ["hash", "join", "scan", "sort", "merge", "spark"]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (i, " ".join(WORDS[(i + j) % len(WORDS)] for j in range(2 + i % 7)))
        for i in range(500)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # range-partition by doc_id with boundaries that do NOT align with
    # the 64-doc segments (125 docs per partition) — forces split
    # segments in the aligned path
    return df.repartitionByRange(4, "doc_id")


@pytest.fixture(scope="module")
def both(corpus):
    hash_idx = InvertedIndex.build(corpus, analyzer="simple", docs_per_segment=64)
    aligned = InvertedIndex.build(
        corpus, analyzer="simple", docs_per_segment=64, layout="aligned"
    )
    return hash_idx, aligned


def test_stats_equal(both):
    h, a = both
    assert (a.doc_count, a.sum_total_term_freq) == (h.doc_count, h.sum_total_term_freq)
    th = {r["term"]: (r["doc_freq"], r["total_term_freq"]) for r in h.terms.collect()}
    ta = {r["term"]: (r["doc_freq"], r["total_term_freq"]) for r in a.terms.collect()}
    assert th == ta
    nh = sorted((r["doc_id"], r["dl"], r["norm"]) for r in h.norms.collect())
    na = sorted((r["doc_id"], r["dl"], r["norm"]) for r in a.norms.collect())
    assert nh == na


def test_search_equal(both):
    h, a = both
    q = BooleanQuery.of(
        BooleanClause(TermQuery("hash"), Occur.SHOULD),
        BooleanClause(TermQuery("merge"), Occur.SHOULD),
    )
    rh = [(r["doc_id"], r["score"]) for r in IndexSearcher(h).search(q, k=30).collect()]
    ra = [(r["doc_id"], r["score"]) for r in IndexSearcher(a).search(q, k=30).collect()]
    assert rh == ra


def test_aligned_has_split_segments_and_checks_clean(both):
    h, a = both
    # the boundary segments really are split (else the test proves nothing)
    multi = (
        a.blocks.filter(F.col("block_ord") == 0)
        .groupBy("segment_id", "term")
        .count()
        .filter(F.col("count") > 1)
        .count()
    )
    assert multi > 0
    report = check_index(a)
    assert all(v == 0 for v in report.values()), report


def test_impact_heads_are_the_ranked_blocks(both, monkeypatch):
    """Split segments repeat (segment_id, block_ord) within a term, so
    the impact-head cache keys blocks by (term, first_doc): each cached
    head is the block its window ranked, and every block appears once."""
    _, a = both
    rows = a.blocks.select(
        "term", "segment_id", "block_ord", "first_doc", "impact_freqs", "impact_norms"
    ).collect()
    assert len({(r.term, r.segment_id, r.block_ord) for r in rows}) < len(rows)
    s = IndexSearcher(a)
    monkeypatch.setattr(s, "_IMPACT_HEADS", 64)  # every block is a head
    s._load_impact_heads(WORDS)
    cache = BM25(
        doc_freq=1, doc_count=a.doc_count, sum_total_term_freq=a.sum_total_term_freq
    ).cache
    for t in WORDS:
        x = {
            r.first_doc: max(
                float(f) * float(cache[n]) for f, n in zip(r.impact_freqs, r.impact_norms)
            )
            for r in rows
            if r.term == t
        }
        heads = s._impact_cache[t]["heads"]
        assert [h["first_doc"] for h in heads] == sorted(x, key=lambda d: (-x[d], d))
        for h in heads:
            assert fordelta_decode(bytes(h["docs_packed"]))[0] == h["first_doc"]


def test_aligned_positional_phrase(spark):
    docs = spark.createDataFrame(
        [(i, "hash join wins" if i % 3 == 0 else "no match here") for i in range(90)],
        "doc_id long, text string",
    ).repartitionByRange(3, "doc_id")
    idx = InvertedIndex.build(
        docs, analyzer="simple", docs_per_segment=32, positions=True, layout="aligned"
    )
    from lucene_spark.search.positional import phrase_freqs

    got = {r["doc_id"] for r in phrase_freqs(idx, ["hash", "join"]).collect()}
    assert got == {i for i in range(90) if i % 3 == 0}

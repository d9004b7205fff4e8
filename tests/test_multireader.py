"""MultiReader composite (MultiReader.java:33 / BaseCompositeReader
docBase offsets / MultiTerms stat summing)."""

import pytest
from pyspark.sql import functions as F

from lucene_spark.index import InvertedIndex
from lucene_spark.index.check import check_index
from lucene_spark.functions.forutil import fordelta_encode
from lucene_spark.index.multireader import _shift_blocks, _shift_doc_blob, multi_reader
from lucene_spark.index.postings import decode_blocks
from lucene_spark.search.parity import bm25_topk_f64


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (i, f"alpha beta{'' if i % 3 else ' gamma'} w{i % 7} tail")
        for i in range(60)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _res(idx, k=30):
    return [
        (r["doc_id"], r["score"])
        for r in bm25_topk_f64(idx, {"alpha": 1.0, "gamma": 2.0}, k=k).collect()
    ]


def test_disjoint_ids_metadata_only(spark, corpus):
    whole = InvertedIndex.build(corpus, analyzer="simple", docs_per_segment=16)
    lo = InvertedIndex.build(
        corpus.filter(F.col("doc_id") < 30), analyzer="simple", docs_per_segment=16
    )
    hi = InvertedIndex.build(
        corpus.filter(F.col("doc_id") >= 30), analyzer="simple", docs_per_segment=16
    )
    multi = multi_reader([lo, hi], doc_bases=[0, 0])
    assert multi.doc_count == whole.doc_count
    assert multi.sum_total_term_freq == whole.sum_total_term_freq
    assert _res(multi) == _res(whole)
    # MultiTerms: stats sum across leaves
    t_whole = {
        r["term"]: (r["doc_freq"], r["total_term_freq"])
        for r in whole.terms.collect()
    }
    t_multi = {
        r["term"]: (r["doc_freq"], r["total_term_freq"])
        for r in multi.terms.collect()
    }
    assert t_multi == t_whole


def test_doc_base_offsets_remap(spark, corpus):
    # both halves rebuilt with LOCAL ids 0..29 — composition must
    # offset the second by docBase=30 (BaseCompositeReader rule)
    whole = InvertedIndex.build(corpus, analyzer="simple", docs_per_segment=15)
    local_lo = corpus.filter(F.col("doc_id") < 30)
    local_hi = corpus.filter(F.col("doc_id") >= 30).withColumn(
        "doc_id", F.col("doc_id") - 30
    )
    lo = InvertedIndex.build(local_lo, analyzer="simple", docs_per_segment=15)
    hi = InvertedIndex.build(local_hi, analyzer="simple", docs_per_segment=15)
    multi = multi_reader([lo, hi])  # default cumulative bases [0, 30]
    assert _res(multi) == _res(whole)
    # the shift rewrites only each doc block's 8-byte base: every shifted
    # blob equals a fresh encode of the shifted docIDs, byte for byte
    before = hi.blocks.orderBy("term", "first_doc").collect()
    after = _shift_blocks(hi.blocks, 30, 2).orderBy("term", "first_doc").collect()
    assert len(after) == len(before) > 0
    for old, new in zip(before, after):
        docs = decode_blocks({"docs_packed": [old["docs_packed"]]}).doc_id
        assert bytes(new["docs_packed"]) == fordelta_encode(docs + 30)
        assert (new["first_doc"], new["max_doc"]) == (docs[0] + 30, docs[-1] + 30)
        assert new["doc_zones"] == old["doc_zones"]
    assert _shift_doc_blob(b"", 30) == b"" == fordelta_encode([])
    # shifted composite still passes the full index check (zones,
    # bounds, chain invariants): every violation counter is zero
    report = check_index(multi)
    counters = {k: v for k, v in report.items() if not k.startswith("_")}
    assert all(v == 0 for v in counters.values()), counters


def test_deletes_carry_with_offset(spark, corpus):
    from lucene_spark.index.deletes import delete_by_query
    from lucene_spark.search.query import TermQuery

    local_hi = corpus.filter(F.col("doc_id") >= 30).withColumn(
        "doc_id", F.col("doc_id") - 30
    )
    lo = InvertedIndex.build(
        corpus.filter(F.col("doc_id") < 30), analyzer="simple", docs_per_segment=15
    )
    hi = InvertedIndex.build(local_hi, analyzer="simple", docs_per_segment=15)
    hi2 = delete_by_query(hi, TermQuery("gamma"))
    multi = multi_reader([lo, hi2])
    got = {d for d, _ in _res(multi, k=60)}
    # gamma docs from the SECOND half (global ids 30,33,...) are hidden
    assert not any(d >= 30 and d % 3 == 0 for d in got)
    assert any(d < 30 and d % 3 == 0 for d in got)


def test_misaligned_base_rejected(spark, corpus):
    lo = InvertedIndex.build(
        corpus.filter(F.col("doc_id") < 30), analyzer="simple", docs_per_segment=16
    )
    hi = InvertedIndex.build(
        corpus.filter(F.col("doc_id") >= 30).withColumn(
            "doc_id", F.col("doc_id") - 30
        ),
        analyzer="simple",
        docs_per_segment=16,
    )
    with pytest.raises(ValueError):
        multi_reader([lo, hi], doc_bases=[0, 30])  # 30 % 16 != 0
    # the auto rule pads the base to the segment boundary instead
    multi = multi_reader([lo, hi])
    assert multi.doc_count == 60


def test_flag_mismatch_rejected(spark, corpus):
    a = InvertedIndex.build(corpus, analyzer="simple", docs_per_segment=32)
    b = InvertedIndex.build(
        corpus, analyzer="simple", docs_per_segment=32, positions=True
    )
    with pytest.raises(ValueError):
        multi_reader([a, b])
    with pytest.raises(ValueError):
        multi_reader([])


# ------------------------------------------------------ ParallelReader


def test_parallel_reader_fields(spark):
    from lucene_spark.index.multireader import ParallelReader

    rows = [
        (0, "spark engine", "fast distributed engine"),
        (1, "duck engine", "small analytical engine"),
        (2, "spark guide", "fast tutorial text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, title string, body string")
    title = InvertedIndex.build(
        df.select("doc_id", F.col("title").alias("text")),
        analyzer="simple",
        docs_per_segment=4,
    )
    body = InvertedIndex.build(
        df.select("doc_id", F.col("body").alias("text")),
        analyzer="simple",
        docs_per_segment=4,
    )
    pr = ParallelReader({"title": title, "body": body})
    assert pr.doc_count == 3
    # field routing
    assert pr.field("title") is title
    with pytest.raises(KeyError):
        pr.field("nope")
    # per-field stats stay separate: 'engine' df in title=2, body=2
    # but sttf/dl differ per field; the combined score is the SUM of
    # independent per-field BM25s
    combined = {
        r["doc_id"]: r["score"]
        for r in pr.bm25_topk(
            {"title": {"spark": 1.0}, "body": {"fast": 1.0}}, k=5
        ).collect()
    }
    t_only = {
        r["doc_id"]: r["score"]
        for r in bm25_topk_f64(title, {"spark": 1.0}, k=5).collect()
    }
    b_only = {
        r["doc_id"]: r["score"]
        for r in bm25_topk_f64(body, {"fast": 1.0}, k=5).collect()
    }
    for d in combined:
        want = t_only.get(d, 0.0) + b_only.get(d, 0.0)
        assert abs(combined[d] - want) < 2e-4
    # docs matching either field (doc 1 matches neither query term)
    assert set(combined) == {0, 2}


def test_parallel_reader_doc_count_mismatch(spark):
    from lucene_spark.index.multireader import ParallelReader

    a = InvertedIndex.build(
        spark.createDataFrame([(0, "x")], "doc_id long, text string"),
        analyzer="simple",
        docs_per_segment=4,
    )
    b = InvertedIndex.build(
        spark.createDataFrame([(0, "x"), (1, "y")], "doc_id long, text string"),
        analyzer="simple",
        docs_per_segment=4,
    )
    with pytest.raises(ValueError):
        ParallelReader({"title": a, "body": b})
    with pytest.raises(ValueError):
        ParallelReader({})

"""BPReorderingMergePolicy analog (misc/index/BPReorderingMergePolicy.java):
merge + BP doc-map, threshold semantics, bp.reordered diagnostics,
search invariance under the permutation."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_spark.index import InvertedIndex
from lucene_spark.index.bpmerge import bp_reordering_merge
from lucene_spark.index.check import check_index
from lucene_spark.search.parity import _bm25_scored_f64


def _corpus(spark, n=32):
    texts = []
    for i in range(n):
        if i % 3 == 0:
            texts.append("apple banana cherry date")
        elif i % 3 == 1:
            texts.append("xray yankee zulu")
        else:
            texts.append("apple banana kiwi")
    return spark.createDataFrame(
        pd.DataFrame({"doc_id": range(n), "text": texts})
    )


def _build(spark, corpus):
    return InvertedIndex.build(corpus, analyzer="simple", docs_per_segment=8)


def test_reorder_flag_and_invariance(spark):
    corpus = _corpus(spark)
    idx = _build(spark, corpus)
    new_idx, new_corpus, diag = bp_reordering_merge(
        idx, corpus, [[0, 1], [2, 3]],
        min_natural_merge_num_docs=10, min_partition_size=2,
    )
    assert diag == {0: True, 2: True}
    assert new_idx.num_segments == 2
    # the remapped, re-encoded blocks are CheckIndex-clean (a merged
    # segment spans its sources' ranges, so segment_bounds is skipped)
    report = check_index(new_idx)
    report.pop("segment_bounds")
    assert all(v == 0 for v in report.values() if isinstance(v, int)), report

    # rank/score invariance modulo the id permutation
    base_idx = _build(spark, corpus)
    base = {
        (r["doc_id"], round(r["s"], 6))
        for r in _bm25_scored_f64(base_idx, {"apple": 1.0, "zulu": 0.5}).collect()
    }
    remap = new_corpus.select(
        F.col("doc_id").alias("nid"), "orig_doc_id"
    )
    got = {
        (r["orig_doc_id"], round(r["s"], 6))
        for r in _bm25_scored_f64(new_idx, {"apple": 1.0, "zulu": 0.5})
        .withColumnRenamed("doc_id", "nid")
        .join(remap, "nid")
        .select("orig_doc_id", "s")
        .collect()
    }
    assert base == got


def test_permutation_stays_within_group_ranges(spark):
    corpus = _corpus(spark)
    idx = _build(spark, corpus)
    _, new_corpus, _ = bp_reordering_merge(
        idx, corpus, [[0, 1], [2, 3]],
        min_natural_merge_num_docs=1, min_partition_size=2,
    )
    rows = new_corpus.select("doc_id", "orig_doc_id").collect()
    # ids [0,16) stay in [0,16); ids [16,32) stay in [16,32)
    for r in rows:
        assert (r["doc_id"] < 16) == (r["orig_doc_id"] < 16)
    # bijection
    assert sorted(r["doc_id"] for r in rows) == list(range(32))


def test_threshold_skips_small_natural_merges(spark):
    corpus = _corpus(spark)
    idx = _build(spark, corpus)
    _, _, diag = bp_reordering_merge(
        idx, corpus, [[0, 1], [2, 3]],
        min_natural_merge_num_docs=100, min_partition_size=2,
    )
    assert diag == {0: False, 2: False}


def test_ratio_threshold(spark):
    corpus = _corpus(spark)
    idx = _build(spark, corpus)
    # biggest segment has 8 docs; ratio 0.9 -> minNumDocs 7; groups have 16
    _, _, diag = bp_reordering_merge(
        idx, corpus, [[0, 1]],
        min_natural_merge_ratio_from_biggest=0.9, min_partition_size=2,
    )
    assert diag == {0: True}


def test_forced_merge_always_reorders(spark):
    corpus = _corpus(spark)
    idx = _build(spark, corpus)
    _, _, diag = bp_reordering_merge(
        idx, corpus, [[0, 1], [2, 3]],
        min_natural_merge_num_docs=100, forced=True, min_partition_size=2,
    )
    assert diag == {0: True, 2: True}


def test_rejects_pending_deletes(spark):
    from lucene_spark.index import delete_by_ids

    corpus = _corpus(spark)
    idx = delete_by_ids(_build(spark, corpus), [1])
    with pytest.raises(ValueError, match="delete-free"):
        bp_reordering_merge(idx, corpus, [[0, 1]])


def test_validates_params(spark):
    corpus = _corpus(spark)
    idx = _build(spark, corpus)
    with pytest.raises(ValueError):
        bp_reordering_merge(idx, corpus, [[0, 1]], min_natural_merge_num_docs=0)
    with pytest.raises(ValueError):
        bp_reordering_merge(
            idx, corpus, [[0, 1]], min_natural_merge_ratio_from_biggest=1.0
        )

"""Soft-delete lifecycle: hide ≡ tombstone, retain through reclaim,
revive, and retention-gated hardening
(`index/SoftDeletesRetentionMergePolicy.java`,
`index/SoftDeletesDirectoryReaderWrapper.java`)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from lucene_spark.index import (
    InvertedIndex,
    apply_deletes,
    delete_by_ids,
    prune_soft_deletes,
    soft_delete_by_ids,
    soft_delete_by_query,
    undelete,
)
from lucene_spark.search import IndexSearcher, TermQuery
from lucene_spark.search import parity


def _index(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(8),
            "text": [
                "hash join fast",
                "hash merge sort",
                "hash scan slow",
                "join scan merge",
                "hash join scan",
                "merge sort fast",
                "hash sort",
                "scan slow",
            ],
        }
    )
    return InvertedIndex.build(
        spark.createDataFrame(pdf), analyzer="simple", docs_per_segment=4
    )


def _hits(idx, term="hash", k=20):
    return {
        r["doc_id"]
        for r in IndexSearcher(idx).search(TermQuery(term), k=k).collect()
    }


def test_soft_hides_like_hard_with_unchanged_stats(spark):
    idx = _index(spark)
    soft = soft_delete_by_ids(idx, [0, 2])
    hard = delete_by_ids(idx, [0, 2])
    s_rows = sorted(
        (r["doc_id"], r["score"])
        for r in IndexSearcher(soft).search(TermQuery("hash"), k=20).collect()
    )
    h_rows = sorted(
        (r["doc_id"], r["score"])
        for r in IndexSearcher(hard).search(TermQuery("hash"), k=20).collect()
    )
    assert s_rows == h_rows and 0 not in {d for d, _ in s_rows}
    assert soft.num_soft_deleted == 2 and soft.num_deleted == 0
    assert soft.num_docs == idx.doc_count - 2
    # stats unchanged: df('hash') still counts the hidden docs
    assert soft.doc_count == idx.doc_count
    assert IndexSearcher(soft).count(TermQuery("hash")) == len(s_rows)


def test_undelete_revives(spark):
    idx = _index(spark)
    soft = soft_delete_by_ids(idx, [0, 4, 6])
    assert _hits(soft) == _hits(idx) - {0, 4, 6}
    partial = undelete(soft, [4])
    assert _hits(partial) == _hits(idx) - {0, 6}
    full = undelete(partial)
    assert _hits(full) == _hits(idx)
    assert full.num_soft_deleted == 0 and full.soft_deletes is None


def test_reclaim_retains_soft_deleted_postings(spark):
    idx = _index(spark)
    both = soft_delete_by_ids(delete_by_ids(idx, [1]), [0])
    reclaimed = apply_deletes(both)  # full reclaim of HARD tombstones
    # hard-deleted doc 1 is gone for good; soft-deleted doc 0 revivable
    assert reclaimed.num_deleted == 0
    assert reclaimed.doc_count == idx.doc_count - 1
    assert _hits(reclaimed) == _hits(idx) - {0, 1}
    revived = undelete(reclaimed)
    assert _hits(revived) == _hits(idx) - {1}


def test_prune_with_retention_query(spark):
    idx = _index(spark)
    # soft-delete every 'hash' doc; retention protects those with 'join'
    soft = soft_delete_by_query(idx, TermQuery("hash"))
    assert _hits(soft) == set()
    pruned = prune_soft_deletes(soft, retention_query=TermQuery("join"))
    # docs 0 and 4 (hash+join) stay soft/revivable; 1, 2, 6 hardened
    assert pruned.num_soft_deleted == 2
    assert pruned.num_deleted == 3
    revived = undelete(pruned)
    assert _hits(revived) == {0, 4}


def test_prune_all_then_save_load(spark, tmp_path):
    idx = _index(spark)
    soft = soft_delete_by_ids(idx, [2, 7])
    d = str(tmp_path / "softidx")
    soft.save(d)
    loaded = InvertedIndex.load(spark, d)
    assert loaded.num_soft_deleted == 2
    assert _hits(loaded, "scan") == _hits(idx, "scan") - {2, 7}
    hardened = prune_soft_deletes(loaded)
    assert hardened.num_soft_deleted == 0 and hardened.num_deleted == 2


def test_hard_and_soft_sets_stay_disjoint(spark):
    """A doc in both sets must count once (hard wins; review finding)."""
    idx = _index(spark)
    base = idx.num_docs
    # soft then hard: hard delete hardens the soft entry
    both = delete_by_ids(soft_delete_by_ids(idx, [0, 2]), [2, 5])
    assert both.num_deleted == 2 and both.num_soft_deleted == 1
    assert both.num_docs == base - 3
    # hard then soft: soft-deleting a tombstone is a no-op for that id
    both2 = soft_delete_by_ids(delete_by_ids(idx, [1]), [1, 3])
    assert both2.num_deleted == 1 and both2.num_soft_deleted == 1
    assert both2.num_docs == base - 2
    # reclaim after overlap: no stranded revivable entries
    reclaimed = apply_deletes(both)
    assert reclaimed.num_soft_deleted == 1
    assert 2 not in {
        r["doc_id"] for r in (reclaimed.soft_deletes or reclaimed.norms.limit(0)).collect()
    }


@pytest.fixture(scope="module")
def pos_index(spark):
    """12 docs, positions on: every parity query below matches docs 0-3
    and some of docs 4-11."""
    texts = ["hash join fast", "hash join slow", "hash joins", "hash join scan"] * 3
    return InvertedIndex.build(
        spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string"),
        analyzer="simple",
        positions=True,
        docs_per_segment=4,
    )


@pytest.mark.parametrize(
    "query",
    [
        lambda i: parity.dismax_f64(i, {"hash": 1.0, "join": 0.5}, tie=0.1, k=20),
        lambda i: parity.synonym_bm25_f64(i, ["join", "joins"], k=20),
        lambda i: parity.blended_fuzzy_f64(i, "join", k=20),
        lambda i: parity.phrase_bm25_f64(i, ["hash", "join"], k=20),
        lambda i: parity.combined_field_f64(
            i, i.spark.range(12).select(F.col("id").alias("doc_id"), F.lit("kw").alias("source")), "hash", k=20
        ),
    ],
    ids=["dismax", "synonym", "blended_fuzzy", "phrase", "combined_field"],
)
def test_parity_paths_hide_soft_deleted(pos_index, query):
    full = [(r["doc_id"], r["score"]) for r in query(pos_index).collect()]
    assert {0, 1, 2, 3} & {d for d, _ in full}
    soft = soft_delete_by_ids(pos_index, [0, 1, 2, 3])
    # hidden docs leave the results; stats (and so scores) stay put
    got = [(r["doc_id"], r["score"]) for r in query(soft).collect()]
    assert got == [(d, s) for d, s in full if d > 3]

"""Document deletes/updates: tombstones (liveDocs) + merge-time reclaim.

Spark re-expression of Lucene's delete machinery
(`lucene/core/src/java/org/apache/lucene/index/IndexWriter.java:1560-1650`
deleteDocuments/updateDocument, `index/PendingDeletes.java`,
`index/ReadersAndUpdates.java`):

- **Tombstones, not rewrites.** A delete never touches posting blocks:
  it adds doc_ids to a small ``deletes`` DataFrame (the liveDocs bitset
  analog). Searches anti-join it; collection/term statistics are
  UNCHANGED until reclaim — exactly Lucene's semantics, where docFreq
  still counts deleted docs until their segment merges
  (`index/TieredMergePolicy.java:686-709` scores segments by delete
  ratio for exactly this reason).
- **delete_documents(term)** resolves the term's postings to doc_ids
  (one decode of that term's blocks); **delete_by_query** reuses the
  searcher's unscored match path; **update_document** = delete by key
  term + append the replacement as a fresh segment (NRT-style).
- **Reclaim** (:func:`apply_deletes`) is the merge-shaped job: the
  selected segments' blocks are exploded to per-posting rows, deleted
  postings anti-joined away, and the survivors re-chunked into 128-doc
  FOR/PFor blocks by the same kernel the segment merger uses. Stats are
  recomputed from block metadata (terms) and the norms table
  (doc_count / sumTotalTermFreq) — deleted docs in *unreclaimed*
  segments still count, as in Lucene.
- **Scale**: tombstones are a narrow (doc_id) table — at 10^12 docs a
  delete batch is still tiny next to the index; the only full-width
  job is reclaim, which is exactly as expensive as the merge it rides
  on, and :func:`reclaimable_segments` limits it to segments whose
  delete ratio crosses a threshold (metadata-only planning job).
"""

from __future__ import annotations

from typing import List, Optional

from pyspark.sql import DataFrame, functions as F

from lucene_spark.index.builder import (
    BLOCKS_SCHEMA,
    BLOCKS_SCHEMA_PAY,
    BLOCKS_SCHEMA_POS,
    InvertedIndex,
    _encode_term_group,
)
from lucene_spark.index.postings import decode_frame

__all__ = [
    "delete_by_ids",
    "delete_documents",
    "delete_by_query",
    "update_document",
    "apply_deletes",
    "reclaimable_segments",
    "soft_delete_by_ids",
    "soft_delete_by_query",
    "undelete",
    "prune_soft_deletes",
]

_IDS_SCHEMA = "doc_id long"


def _with_deletes(index: InvertedIndex, new_ids: DataFrame) -> InvertedIndex:
    """Return a copy of `index` with `new_ids` unioned into tombstones.

    Only ids that exist in the index count toward num_deleted (Lucene's
    tryDeleteDocument returns -1 for absent docs).

    Invariant maintained: the hard and soft sets stay DISJOINT — a
    hard delete of a soft-deleted doc hardens it (drops it from the
    soft set; it is no longer revivable), so num_docs never
    double-subtracts a doc hidden by both.
    """
    ids = new_ids.select(F.col("doc_id").cast("long").alias("doc_id")).join(
        index.norms.select("doc_id"), "doc_id", "semi"
    )
    cur = index.deletes
    dels = ids if cur is None else cur.unionByName(ids)
    dels = dels.distinct().persist()
    n = dels.count()  # materializes the tombstone set once
    if index.deletes is not None:
        index.deletes.unpersist()
    out = InvertedIndex(
        spark=index.spark,
        blocks=index.blocks,
        terms=index.terms,
        norms=index.norms,
        doc_count=index.doc_count,
        sum_total_term_freq=index.sum_total_term_freq,
        docs_per_segment=index.docs_per_segment,
        num_segments=index.num_segments,
        metrics=index.metrics,
        has_positions=index.has_positions,
        has_payloads=index.has_payloads,
        persisted_root=index.persisted_root,
    )
    out.deletes = dels
    out.num_deleted = int(n)
    soft = index.soft_deletes
    if soft is not None and index.num_soft_deleted > 0:
        remaining = soft.join(dels, "doc_id", "left_anti").persist()
        n_soft = int(remaining.count())
        soft.unpersist()
        if n_soft == 0:
            remaining.unpersist()
            out.soft_deletes, out.num_soft_deleted = None, 0
        else:
            out.soft_deletes, out.num_soft_deleted = remaining, n_soft
    return out


def _with_soft(index: InvertedIndex, soft: Optional[DataFrame]) -> InvertedIndex:
    """Copy of `index` with `soft` as the (already distinct/persisted
    or None) soft-delete set; hard tombstones carried unchanged."""
    out = InvertedIndex(
        spark=index.spark,
        blocks=index.blocks,
        terms=index.terms,
        norms=index.norms,
        doc_count=index.doc_count,
        sum_total_term_freq=index.sum_total_term_freq,
        docs_per_segment=index.docs_per_segment,
        num_segments=index.num_segments,
        metrics=index.metrics,
        has_positions=index.has_positions,
        has_payloads=index.has_payloads,
        persisted_root=index.persisted_root,
    )
    out.deletes = index.deletes
    out.num_deleted = index.num_deleted
    if soft is not None:
        soft = soft.persist()
        out.soft_deletes = soft
        out.num_soft_deleted = int(soft.count())
    return out


def delete_by_ids(index: InvertedIndex, doc_ids) -> InvertedIndex:
    """Tombstone explicit doc_ids (list or DataFrame with doc_id)."""
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select("doc_id")
    else:
        ids = index.spark.createDataFrame(
            [(int(d),) for d in doc_ids], _IDS_SCHEMA
        )
    return _with_deletes(index, ids)


def delete_documents(index: InvertedIndex, term: str) -> InvertedIndex:
    """`IndexWriter.deleteDocuments(new Term(field, term))`: tombstone
    every doc whose postings contain `term` (one decode of that term's
    blocks — postings untouched, stats unchanged)."""
    ids = decode_frame(index.blocks.filter(F.col("term") == term), ["doc_id"])
    return _with_deletes(index, ids)


def delete_by_query(index: InvertedIndex, query) -> InvertedIndex:
    """`IndexWriter.deleteDocuments(Query)`: tombstone the query's
    match set (unscored constant-score evaluation)."""
    from lucene_spark.search.query import rewrite
    from lucene_spark.search.searcher import IndexSearcher

    searcher = IndexSearcher(index)
    q = rewrite(query, index.terms)
    ctx = searcher._bind(q)
    return _with_deletes(index, searcher._matching_docs(q, ctx).distinct())


def update_document(
    index: InvertedIndex,
    key_term: str,
    replacement: DataFrame,
    analyzer: str = "simple",
) -> InvertedIndex:
    """`IndexWriter.updateDocument(term, doc)`: atomically delete docs
    matching `key_term` and append `replacement` (doc_id, text) rows as
    fresh segments. Replacement doc_ids must be new (beyond maxDoc)."""
    from lucene_spark.streaming.incremental import append_batch

    deleted = delete_documents(index, key_term)
    out = append_batch(deleted, replacement, analyzer=analyzer)
    # append_batch builds a fresh InvertedIndex; carry tombstones over
    out.deletes = deleted.deletes
    out.num_deleted = deleted.num_deleted
    out.soft_deletes = deleted.soft_deletes
    out.num_soft_deleted = deleted.num_soft_deleted
    return out


# --- reclaim ----------------------------------------------------------------

def reclaimable_segments(
    index: InvertedIndex, min_delete_ratio: float = 0.1
) -> List[int]:
    """Segments whose delete ratio crosses the threshold — the
    TieredMergePolicy delete-reclaim planning signal
    (`index/TieredMergePolicy.java:686-709`). Metadata-only job:
    tombstones bucketed by segment vs per-segment doc counts."""
    if index.deletes is None:
        return []
    dps = index.docs_per_segment
    del_per_seg = (
        index.deletes.withColumn("segment_id", (F.col("doc_id") / dps).cast("long"))
        .groupBy("segment_id")
        .agg(F.count(F.lit(1)).alias("n_del"))
    )
    seg_docs = (
        index.norms.withColumn("segment_id", (F.col("doc_id") / dps).cast("long"))
        .groupBy("segment_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    rows = (
        seg_docs.join(del_per_seg, "segment_id")
        .filter(F.col("n_del") >= F.col("n_docs") * min_delete_ratio)
        .collect()
    )
    return sorted(int(r["segment_id"]) for r in rows)


def apply_deletes(
    index: InvertedIndex, segments: Optional[List[int]] = None
) -> InvertedIndex:
    """Rewrite segments without their deleted docs (merge-time reclaim).

    segments=None reclaims everywhere (forceMerge-style). With an
    explicit list, only those segments are rewritten; tombstones for
    other segments are kept and statistics still count their deleted
    docs — Lucene's per-segment liveDocs semantics.

    Equivalence: full reclaim of delete_documents(build(corpus), t)
    produces the same blocks/terms/norms/stats as building directly on
    the filtered corpus (docIDs are stable keys and segment boundaries
    are docID ranges, so re-chunking is deterministic) — asserted in
    tests/test_deletes.py.
    """
    if index.deletes is None or index.num_deleted == 0:
        return index
    spark = index.spark
    dels = index.deletes
    dps = index.docs_per_segment
    if segments is not None:
        seg_set = set(int(s) for s in segments)
        dels = dels.filter(
            (F.col("doc_id") / dps).cast("long").isin(list(seg_set))
        )
        touched = index.blocks.filter(F.col("segment_id").isin(list(seg_set)))
        untouched = index.blocks.filter(~F.col("segment_id").isin(list(seg_set)))
    else:
        touched = index.blocks
        untouched = None

    with_pos = index.has_positions
    with_pay = index.has_payloads
    schema = (
        BLOCKS_SCHEMA_PAY if with_pay else BLOCKS_SCHEMA_POS if with_pos else BLOCKS_SCHEMA
    )
    cols = (
        ["segment_id", "term", "doc_id", "freq", "norm"]
        + (["positions"] if with_pos else [])
        + (["payloads"] if with_pay else [])
    )
    live_rows = decode_frame(touched, cols).join(
        dels.select("doc_id"), "doc_id", "left_anti"
    )
    re_encoded = live_rows.groupBy("segment_id", "term").applyInPandas(
        _encode_term_group, schema
    )
    new_blocks = (
        untouched.unionByName(re_encoded) if untouched is not None else re_encoded
    ).persist()

    # per-term stats from block metadata (map-side combine, no decode)
    new_terms = (
        new_blocks.groupBy("term")
        .agg(
            F.sum("num_docs").cast("long").alias("doc_freq"),
            F.sum("sum_freq").cast("long").alias("total_term_freq"),
        )
        .persist()
    )
    # norms: drop reclaimed docs; unreclaimed deleted docs stay (and
    # keep counting toward collection stats, as in Lucene)
    new_norms = index.norms.join(dels.select("doc_id"), "doc_id", "left_anti")
    stats = new_norms.agg(
        F.count(F.lit(1)).alias("doc_count"), F.sum("dl").alias("sttf")
    ).collect()[0]
    remaining = (
        None
        if segments is None
        else index.deletes.join(dels.select("doc_id"), "doc_id", "left_anti")
    )
    if remaining is not None and remaining.limit(1).count() == 0:
        remaining = None

    if index.persisted_root is not None:
        index.persisted_root.unpersist()
    index.terms.unpersist()
    index.deletes.unpersist()
    metrics = dict(index.metrics)
    metrics["last_reclaim_segments"] = (
        "all" if segments is None else sorted(int(s) for s in segments)
    )
    out = InvertedIndex(
        spark=spark,
        blocks=new_blocks,
        terms=new_terms,
        norms=new_norms,
        doc_count=int(stats["doc_count"] or 0),
        sum_total_term_freq=int(stats["sttf"] or 0),
        docs_per_segment=dps,
        num_segments=index.num_segments,
        metrics=metrics,
        has_positions=with_pos,
        has_payloads=with_pay,
        persisted_root=new_blocks,
    )
    if remaining is not None:
        rem = remaining.persist()
        out.deletes = rem
        out.num_deleted = int(rem.count())
    # soft deletes are NOT reclaimed (retention semantics): their
    # postings/norms just got rewritten along with everything live,
    # and the soft set carries over revivable
    out.soft_deletes = index.soft_deletes
    out.num_soft_deleted = index.num_soft_deleted
    return out


# --- soft deletes -----------------------------------------------------------
#
# Soft deletes (`index/SoftDeletesRetentionMergePolicy.java`,
# `index/SoftDeletesDirectoryReaderWrapper.java`) mark docs in a
# doc-values field instead of removing them: a soft-deletes-aware
# reader hides them like tombstones, but merges RETAIN their postings
# (apply_deletes only reclaims hard tombstones here), so they can be
# revived (undelete) — the machinery behind replication / rollback
# retention. prune_soft_deletes is the retention-policy step: soft
# deletes NOT protected by the retention query harden into ordinary
# tombstones and become reclaimable.


def soft_delete_by_ids(index: InvertedIndex, doc_ids) -> InvertedIndex:
    """Soft-delete explicit doc_ids (list or DataFrame with doc_id).

    Ids already hard-tombstoned are skipped (a tombstone cannot become
    revivable — the disjoint-sets invariant of `_with_deletes`);
    the superseded soft set's cache is released once the new set is
    materialized."""
    if isinstance(doc_ids, DataFrame):
        ids = doc_ids.select("doc_id")
    else:
        ids = index.spark.createDataFrame(
            [(int(d),) for d in doc_ids], _IDS_SCHEMA
        )
    ids = ids.select(F.col("doc_id").cast("long").alias("doc_id")).join(
        index.norms.select("doc_id"), "doc_id", "semi"
    )
    if index.deletes is not None and index.num_deleted > 0:
        ids = ids.join(index.deletes.select("doc_id"), "doc_id", "left_anti")
    cur = index.soft_deletes
    soft = (ids if cur is None else cur.unionByName(ids)).distinct()
    out = _with_soft(index, soft)  # persists + counts the new set
    if cur is not None:
        cur.unpersist()
    return out


def soft_delete_by_query(index: InvertedIndex, query) -> InvertedIndex:
    """Soft-delete the query's match set (constant-score evaluation,
    `IndexWriter.softUpdateDocument`'s delete side)."""
    from lucene_spark.search.query import rewrite
    from lucene_spark.search.searcher import IndexSearcher

    searcher = IndexSearcher(index)
    q = rewrite(query, index.terms)
    ctx = searcher._bind(q)
    return soft_delete_by_ids(
        index, searcher._matching_docs(q, ctx).distinct()
    )


def undelete(index: InvertedIndex, doc_ids=None) -> InvertedIndex:
    """Revive soft-deleted docs: all (doc_ids=None) or a subset.

    Possible precisely BECAUSE soft deletes never touch postings —
    reviving is dropping rows from the soft set. Hard tombstones
    cannot be undeleted once their segment reclaims.
    """
    if index.soft_deletes is None or index.num_soft_deleted == 0:
        return index
    if doc_ids is None:
        out = _with_soft(index, None)
        index.soft_deletes.unpersist()
        return out
    if isinstance(doc_ids, DataFrame):
        revive = doc_ids.select("doc_id")
    else:
        revive = index.spark.createDataFrame(
            [(int(d),) for d in doc_ids], _IDS_SCHEMA
        )
    remaining = index.soft_deletes.join(
        revive.select("doc_id"), "doc_id", "left_anti"
    ).distinct()
    out = _with_soft(index, remaining)
    if out.num_soft_deleted == 0:
        out.soft_deletes.unpersist()
        out.soft_deletes = None
    index.soft_deletes.unpersist()
    return out


def prune_soft_deletes(
    index: InvertedIndex, retention_query=None
) -> InvertedIndex:
    """Harden soft deletes into tombstones, except those the retention
    query still protects (`SoftDeletesRetentionMergePolicy.keepFully
    DeletedSegment` semantics: soft-deleted docs MATCHING the retention
    query are kept soft/revivable; the rest become reclaimable hard
    deletes). retention_query=None hardens everything."""
    if index.soft_deletes is None or index.num_soft_deleted == 0:
        return index
    soft = index.soft_deletes
    if retention_query is None:
        kept = None
        harden = soft
    else:
        from lucene_spark.search.query import rewrite
        from lucene_spark.search.searcher import IndexSearcher

        searcher = IndexSearcher(index)
        q = rewrite(retention_query, index.terms)
        ctx = searcher._bind(q)
        protected = searcher._matching_docs(q, ctx).distinct()
        harden = soft.join(protected, "doc_id", "left_anti")
        kept = soft.join(protected, "doc_id", "semi")
    out = _with_deletes(index, harden)  # unions into hard tombstones
    if out.soft_deletes is not None:  # replace the carried soft set
        out.soft_deletes.unpersist()
    if kept is not None:
        kept = kept.persist()
        n = int(kept.count())
        out.soft_deletes = kept if n > 0 else None
        out.num_soft_deleted = n
        if n == 0:
            kept.unpersist()
    else:
        out.soft_deletes = None
        out.num_soft_deleted = 0
    return out

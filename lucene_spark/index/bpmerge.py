"""BPReorderingMergePolicy analog: BP-reorder docIDs as part of a merge.

Reference parity targets:
  - lucene/misc/src/java/org/apache/lucene/misc/index/BPReorderingMergePolicy.java:18
    (wrap a base merge policy; for every OneMerge whose merged doc
    count clears a threshold, compute a BP doc map and apply it while
    writing the merged segment; record a ``bp.reordered`` diagnostic
    per produced segment)
  - BPReorderingMergePolicy.java:34,44 (``minNaturalMergeNumDocs`` and
    ``minNaturalMergeRatioFromBiggestSegment`` thresholds; forced
    merges always reorder)
  - misc/index/BinaryDocValueSelector.java / AbstractBPReorderer.java
    (the reorderer seam — here ``bp_order_local``, the same kernel the
    standalone BP pass uses)

Spark re-expression: the base merge runs first
(:func:`lucene_spark.index.merge.merge_segments` — posting-level
re-encode, no doc movement), then each flagged target segment gets a
per-merge doc map computed by ONE ``mapInPandas`` task over the
group's corpus slice (Lucene holds the same map in RAM as a
``Sorter.DocMap``; it is merge-sized, not index-sized) and its blocks
are decoded → remapped → re-encoded in a per-(segment, term)
``applyInPandas`` pass.  New ids are a permutation WITHIN the group's
original id set, so the index's contiguous-range segment invariant and
every other segment's ids are untouched.  At 100 TB each flagged merge
is an independent narrow job over one segment's blocks; nothing global
shuffles.
"""

from __future__ import annotations

from typing import Dict, Iterator, List, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from lucene_spark.index.builder import InvertedIndex, _encode_term_group
from lucene_spark.index.merge import merge_segments, segment_infos
from lucene_spark.index.postings import decode_group

__all__ = ["bp_reordering_merge"]

REORDERED_KEY = "bp.reordered"  # BPReorderingMergePolicy.REORDERED


def _group_docmap(
    sub: DataFrame, text_col: str, max_iters: int, min_partition_size: int
) -> DataFrame:
    """(doc_id, new_doc_id) for one merge group: BP rank r gets the
    r-th smallest id of the group's own id set (permutation within the
    group, ids never leave their ranges)."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from lucene_spark.index.bp import bp_order_local

        chunks = list(batches)
        if not chunks:
            return
        pdf = pd.concat(chunks, ignore_index=True)
        pdf = pdf.sort_values("doc_id", ignore_index=True)
        texts = pdf[text_col].fillna("").tolist()
        order = bp_order_local(
            texts, max_iters=max_iters, min_partition_size=min_partition_size
        )
        ids = pdf["doc_id"].values.astype(np.int64)
        # order[r] = row index of the doc ranked r; that doc receives
        # the r-th smallest id of the group's own id set
        yield pd.DataFrame({"doc_id": ids[order], "new_doc_id": ids})

    return (
        sub.select("doc_id", text_col)
        .coalesce(1)
        .mapInPandas(kernel, "doc_id long, new_doc_id long")
    )


def _remap_kernel(id_map: Dict[int, int]):
    """applyInPandas kernel factory: all blocks of one (segment, term)
    → decoded, doc-id-remapped, re-encoded blocks.  ``id_map`` is the
    per-merge doc map (Sorter.DocMap analog, merge-sized)."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        flat = decode_group(pdf, int(pdf["segment_id"].iloc[0]))
        flat["doc_id"] = np.array(
            [id_map.get(int(d), int(d)) for d in flat["doc_id"].values], dtype=np.int64
        )
        return _encode_term_group(flat)

    return kernel


def bp_reordering_merge(
    index: InvertedIndex,
    corpus: DataFrame,
    plan: List[List[int]],
    text_col: str = "text",
    min_natural_merge_num_docs: int = 1,
    min_natural_merge_ratio_from_biggest: float = 0.0,
    forced: bool = False,
    max_iters: int = 20,
    min_partition_size: int = 32,
) -> Tuple[InvertedIndex, DataFrame, Dict[int, bool]]:
    """Run one merge round, BP-reordering every merged segment whose
    doc count clears the policy threshold.

    Threshold semantics (BPReorderingMergePolicy.java:60-75): forced
    merges use minNumDocs = 1; natural merges use
    ``max(min_natural_merge_num_docs,
    ratio_from_biggest * max(segment maxDoc))`` — reordering small
    merges wastes work because their docs get shuffled again by the
    next merge up the tier.

    Returns ``(new_index, remapped_corpus, diagnostics)`` where
    diagnostics maps target segment id → the ``bp.reordered`` flag and
    the corpus carries the same permuted doc ids as the index (plus
    ``orig_doc_id``).  Raises if the index has pending deletes — apply
    or reclaim them first (the reference drops deletes during merge;
    this analog keeps the two concerns separate).
    """
    if min_natural_merge_num_docs < 1:
        raise ValueError("min_natural_merge_num_docs must be at least 1")
    if not (0.0 <= min_natural_merge_ratio_from_biggest < 1.0):
        raise ValueError("min_natural_merge_ratio_from_biggest must be in [0, 1)")
    if getattr(index, "num_deleted", 0) or getattr(index, "num_soft_deleted", 0):
        raise ValueError("bp_reordering_merge requires a delete-free index")

    infos = {si.segment_id: si for si in segment_infos(index)}
    if forced:
        min_num_docs = 1
    else:
        max_max_doc = max((si.num_docs for si in infos.values()), default=0)
        min_num_docs = max(
            min_natural_merge_num_docs,
            int(min_natural_merge_ratio_from_biggest * max_max_doc),
        )

    merged = merge_segments(index, plan)
    spark = merged.spark
    dps = merged.docs_per_segment

    diagnostics: Dict[int, bool] = {}
    flagged: List[List[int]] = []
    for group in plan:
        target = min(group)
        n = sum(infos[s].num_docs for s in group if s in infos)
        if n >= min_num_docs:
            diagnostics[target] = True
            flagged.append(group)
        else:
            diagnostics[target] = False

    if not flagged:
        return merged, corpus.withColumn("orig_doc_id", F.col("doc_id")), diagnostics

    # one doc map per flagged merge (Sorter.DocMap analog)
    maps = []
    for group in flagged:
        seg_set = [int(s) for s in group]
        sub = corpus.filter(
            F.floor(F.col("doc_id") / F.lit(dps)).isin(seg_set)
        )
        maps.append(_group_docmap(sub, text_col, max_iters, min_partition_size))
    docmap = maps[0]
    for m in maps[1:]:
        docmap = docmap.unionByName(m)
    id_map = {
        int(r["doc_id"]): int(r["new_doc_id"])
        for r in docmap.collect()
        if r["doc_id"] != r["new_doc_id"]
    }

    flagged_targets = [min(g) for g in flagged]
    to_remap = merged.blocks.filter(F.col("segment_id").isin(flagged_targets))
    untouched = merged.blocks.filter(~F.col("segment_id").isin(flagged_targets))
    from lucene_spark.index.builder import (
        BLOCKS_SCHEMA,
        BLOCKS_SCHEMA_PAY,
        BLOCKS_SCHEMA_POS,
    )

    if merged.has_payloads:
        schema = BLOCKS_SCHEMA_PAY
    elif merged.has_positions:
        schema = BLOCKS_SCHEMA_POS
    else:
        schema = BLOCKS_SCHEMA
    remapped = to_remap.groupBy("segment_id", "term").applyInPandas(
        _remap_kernel(id_map), schema
    )
    new_blocks = untouched.unionByName(remapped).persist()
    new_blocks.count()

    map_df = F.broadcast(
        spark.createDataFrame(
            [(k, v) for k, v in id_map.items()] or [(-1, -1)],
            "doc_id long, new_doc_id long",
        )
    )

    def _remap_ids(df: DataFrame) -> DataFrame:
        return (
            df.join(map_df, "doc_id", "left")
            .withColumn("orig_doc_id", F.col("doc_id"))
            .withColumn(
                "doc_id", F.coalesce(F.col("new_doc_id"), F.col("doc_id"))
            )
            .drop("new_doc_id")
        )

    new_norms = (
        _remap_ids(merged.norms).drop("orig_doc_id")
        if merged.norms is not None
        else None
    )
    new_corpus = _remap_ids(corpus)

    if merged.persisted_root is not None:
        merged.persisted_root.unpersist()
    metrics = dict(merged.metrics)
    metrics["bp_reordered_segments"] = sorted(
        t for t, flag in diagnostics.items() if flag
    )
    out = InvertedIndex(
        spark=spark,
        blocks=new_blocks,
        terms=merged.terms,
        norms=new_norms,
        doc_count=merged.doc_count,
        sum_total_term_freq=merged.sum_total_term_freq,
        docs_per_segment=dps,
        num_segments=merged.num_segments,
        metrics=metrics,
        has_positions=merged.has_positions,
        has_payloads=merged.has_payloads,
        persisted_root=new_blocks,
        deletes=merged.deletes,
        num_deleted=merged.num_deleted,
        soft_deletes=merged.soft_deletes,
        num_soft_deleted=merged.num_soft_deleted,
    )
    return out, new_corpus, diagnostics

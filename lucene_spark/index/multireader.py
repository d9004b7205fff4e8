"""MultiReader — one composite searcher over several independent indexes.

References: `lucene/core/src/java/org/apache/lucene/index/
MultiReader.java:33` (a CompositeReader over sub-readers),
`BaseCompositeReader.java` (per-sub docBase offsets: sub-reader i's
docIDs appear shifted by Σ maxDoc of the readers before it),
`index/MultiTerms.java` / `MultiPostingsEnum` (term dictionaries and
postings merged on the fly), and the stats contract
(`IndexSearcher.termStatistics` sums docFreq/totalTermFreq across
leaves).

Spark shape
-----------
No data is rewritten unless ids collide: with ``doc_bases`` all zero
(already-disjoint global ids — the common case for range-assigned
docIDs) the composite is PURE METADATA — blocks/terms/norms union
lazily and collection stats add.  With non-zero bases the doc blocks
are rewritten in one embarrassingly-parallel mapInPandas pass per
sub-index, without a decode: the delta codec stores one absolute base
per block header, so a docBase shift touches those 8 bytes per block
and the first/max_doc metadata.  The zone bitmap is shift-INVARIANT
(zones are relative to first_doc) and passes through untouched.
Segment ids offset likewise so CheckIndex invariants hold.
"""

from __future__ import annotations

from typing import Iterator, List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from .builder import InvertedIndex

__all__ = ["multi_reader", "ParallelReader"]


def _shift_doc_blob(blob: bytes, base: int) -> bytes:
    """A doc block shifted by ``base`` docIDs: only the 8-byte
    little-endian block base changes; the FOR-packed gaps do not."""
    if not blob:
        return blob
    first = int.from_bytes(blob[:8], "little") + base
    return first.to_bytes(8, "little") + blob[8:]


def _shift_blocks(blocks: DataFrame, base: int, seg_base: int) -> DataFrame:
    """Shift a sub-index's blocks by ``base`` docIDs (+ segment ids)."""
    if base == 0 and seg_base == 0:
        return blocks

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["docs_packed"] = [
                _shift_doc_blob(bytes(b), base) for b in pdf["docs_packed"].values
            ]
            pdf["segment_id"] = pdf["segment_id"].values + seg_base
            pdf["first_doc"] = pdf["first_doc"].values + base
            pdf["max_doc"] = pdf["max_doc"].values + base
            yield pdf

    return blocks.mapInPandas(kernel, blocks.schema)


def multi_reader(
    indexes: Sequence[InvertedIndex],
    doc_bases: Optional[Sequence[int]] = None,
) -> InvertedIndex:
    """Compose sub-indexes into one searchable index view.

    ``doc_bases``: per-sub docID offsets (``None`` = the
    BaseCompositeReader rule — cumulative maxDoc via each sub's
    ``doc_count``; pass all-zero bases when global ids are already
    disjoint to keep the composition metadata-only).  Feature flags
    (positions/payloads) must agree, like a MultiReader over
    same-schema leaves.
    """
    if not indexes:
        raise ValueError("multi_reader needs at least one sub-index")
    if len({(i.has_positions, i.has_payloads) for i in indexes}) != 1:
        raise ValueError("sub-indexes disagree on positions/payloads")
    if len({i.docs_per_segment for i in indexes}) != 1:
        raise ValueError(
            "sub-indexes disagree on docs_per_segment: the composite "
            "segment/id layout needs one uniform segment width"
        )
    if doc_bases is None:
        # BaseCompositeReader's cumulative rule, rounded UP to each
        # NEXT sub's segment width so the aligned-layout invariant
        # (segment k owns docs [k·dps, (k+1)·dps)) survives the shift —
        # the id GAP this leaves behaves exactly like deleted ids,
        # which every reader path already tolerates
        doc_bases = []
        acc = 0
        for idx in indexes:
            dps = idx.docs_per_segment
            acc = ((acc + dps - 1) // dps) * dps if acc else 0
            doc_bases.append(acc)
            acc += idx.doc_count
    if len(doc_bases) != len(indexes):
        raise ValueError("doc_bases length mismatch")
    for idx, base in zip(indexes, doc_bases):
        if base % idx.docs_per_segment:
            raise ValueError(
                f"doc_base {base} is not a multiple of the sub-index's "
                f"docs_per_segment {idx.docs_per_segment}: the aligned "
                "segment/id layout would break (pass bases on segment "
                "boundaries, or None for the auto-padded rule)"
            )

    blocks = None
    norms = None
    deletes = []
    n_del = n_soft = 0
    soft = []
    for idx, base in zip(indexes, doc_bases):
        # the segment shift FOLLOWS the doc shift (segment k owns docs
        # [k·dps, (k+1)·dps), so shifting ids by base moves a block's
        # segment by base/dps) — ids already global (base 0) shift by 0
        b = _shift_blocks(idx.blocks, int(base), int(base) // idx.docs_per_segment)
        nm = idx.norms
        if base:
            nm = nm.withColumn(
                "doc_id", (F.col("doc_id") + F.lit(int(base))).cast("long")
            )
        blocks = b if blocks is None else blocks.unionByName(b)
        norms = nm if norms is None else norms.unionByName(nm)
        if idx.deletes is not None and idx.num_deleted:
            deletes.append(
                idx.deletes.select(
                    (F.col("doc_id") + F.lit(int(base))).cast("long").alias("doc_id")
                )
            )
            n_del += idx.num_deleted
        if idx.soft_deletes is not None and idx.num_soft_deleted:
            soft.append(
                idx.soft_deletes.select(
                    (F.col("doc_id") + F.lit(int(base))).cast("long").alias("doc_id")
                )
            )
            n_soft += idx.num_soft_deleted

    # MultiTerms: per-term stats ADD across leaves
    terms = blocks.groupBy("term").agg(
        F.sum("num_docs").cast("long").alias("doc_freq"),
        F.sum("sum_freq").cast("long").alias("total_term_freq"),
    )

    def _cat(parts: List[DataFrame]) -> Optional[DataFrame]:
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    first = indexes[0]
    return InvertedIndex(
        spark=first.spark,
        blocks=blocks,
        terms=terms,
        norms=norms,
        doc_count=sum(i.doc_count for i in indexes),
        sum_total_term_freq=sum(i.sum_total_term_freq for i in indexes),
        docs_per_segment=max(i.docs_per_segment for i in indexes),
        num_segments=sum(i.num_segments for i in indexes),
        metrics={"composite_of": len(indexes)},
        has_positions=first.has_positions,
        has_payloads=first.has_payloads,
        deletes=_cat(deletes),
        num_deleted=n_del,
        soft_deletes=_cat(soft),
        num_soft_deleted=n_soft,
    )


class ParallelReader:
    """ParallelLeafReader / ParallelCompositeReader analog
    (`core/index/ParallelLeafReader.java:46`): DIFFERENT FIELDS of the
    SAME documents live in separately built indexes; a field-qualified
    query routes to that field's index, and multi-field queries
    combine per-field scores per doc (each field keeps its OWN
    statistics — docFreq/sumTotalTermFreq never mix across fields,
    exactly the parallel-reader contract).

    The composition is pure routing — no data moves at construction;
    a multi-field query is one scored frame per touched field plus a
    full-outer union-aggregate on doc_id.
    """

    def __init__(self, fields):
        if not fields:
            raise ValueError("ParallelReader needs at least one field index")
        counts = {name: idx.doc_count for name, idx in fields.items()}
        if len(set(counts.values())) != 1:
            raise ValueError(
                "all parallel field indexes must cover the same documents; "
                f"doc counts differ: {counts}"
            )
        self.fields = dict(fields)
        self.doc_count = next(iter(counts.values()))

    def field(self, name):
        try:
            return self.fields[name]
        except KeyError:
            raise KeyError(
                f"unknown field {name!r}; have {sorted(self.fields)}"
            ) from None

    def bm25_topk(self, field_boosts, k: int = 10):
        """Top-k for a multi-field SHOULD query: per-doc score =
        Σ_field BM25_field(terms) with each field's own stats.

        field_boosts: {field: {term: boost}}.
        """
        from pyspark.sql import functions as F

        from ..search.parity import _bm25_scored_f64, _topk

        scored = None
        for name, boosts in field_boosts.items():
            part = _bm25_scored_f64(self.field(name), boosts).select(
                "doc_id", F.col("s").alias("_s")
            )
            scored = part if scored is None else scored.unionByName(part)
        if scored is None:
            raise ValueError("empty field_boosts")
        return _topk(scored.groupBy("doc_id").agg(F.sum("_s").alias("s")), k)

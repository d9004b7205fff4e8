"""Term ordinals — blocktreeords / OrdinalMap analogs.

References:
- `lucene/codecs/src/java/org/apache/lucene/codecs/blocktreeords/
  OrdsBlockTreeTermsWriter.java:71` — a BlockTree variant whose
  TermsEnum supports ``ord()`` and ``seekExact(long ord)``: every term
  has a dense ordinal in dictionary (lexicographic byte) order.
- `lucene/core/src/java/org/apache/lucene/index/OrdinalMap.java:39` —
  maps per-segment term ordinals to global ordinals over the merged
  dictionary (the machinery behind SortedSetDocValues faceting across
  segments).

Spark shape
-----------
A global sort of the term DICTIONARY (not the postings) is the only
wide operation.  The ordinal assignment avoids a single-partition
window: ``repartitionByRange(term)`` range-partitions the dictionary,
per-partition counts (tiny, one row per partition) broadcast back as
offsets, and each term's ordinal is its rank within its partition plus
the partition's offset — the DataFrame equivalent of
``zipWithIndex``, fully parallel at any dictionary size.
"""

from __future__ import annotations

from typing import Iterable, Optional

from pyspark.sql import DataFrame, Window, functions as F

from .builder import InvertedIndex

__all__ = ["term_ords", "seek_by_ord", "seek_ceil", "ordinal_map"]


def _with_ords(dictionary: DataFrame, num_partitions: Optional[int] = None) -> DataFrame:
    """Attach a dense 0-based ``ord`` in lexicographic term order.

    dictionary: one row per term (any extra columns are carried).
    """
    n = num_partitions or dictionary.sparkSession.sparkContext.defaultParallelism
    # PERSIST before any action: repartitionByRange samples boundaries
    # per physical execution, so the counts job and the ranking job
    # must read the SAME materialization — otherwise boundary terms can
    # migrate between partitions and ordinals silently duplicate/skip
    parted = (
        dictionary.repartitionByRange(n, F.col("term"))
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    # per-partition term counts -> exclusive prefix offsets (one tiny
    # driver-side cumsum over <= n rows, then broadcast back)
    counts = {
        r["_pid"]: r["c"]
        for r in parted.groupBy("_pid").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    off_df = F.broadcast(
        dictionary.sparkSession.createDataFrame(
            [(int(p), int(o)) for p, o in offsets.items()] or [(0, 0)],
            "_pid int, _off long",
        )
    )
    w = Window.partitionBy("_pid").orderBy("term")
    # materialize the ranked frame (a local checkpoint, freed with the
    # frame itself), then release the partitioned copy it was read from
    ranked = (
        parted.join(off_df, "_pid")
        .withColumn("ord", F.row_number().over(w).cast("long") + F.col("_off") - 1)
        .drop("_pid", "_off")
        .localCheckpoint()
    )
    parted.unpersist()
    return ranked


def term_ords(index: InvertedIndex, num_partitions: Optional[int] = None) -> DataFrame:
    """(term, doc_freq, total_term_freq, ord) — the whole-index term
    dictionary with dense lexicographic ordinals (``TermsEnum.ord``)."""
    return _with_ords(index.terms, num_partitions)


def seek_by_ord(index: InvertedIndex, ords: Iterable[int]) -> DataFrame:
    """``seekExact(long ord)`` for a set of ordinals: (ord, term,
    doc_freq, total_term_freq).  The ord set is a tiny broadcast; the
    dictionary never collects."""
    spark = index.spark
    want = F.broadcast(
        spark.createDataFrame([(int(o),) for o in ords], "ord long")
    )
    return (
        term_ords(index)
        .join(want, "ord")
        .select("ord", "term", "doc_freq", "total_term_freq")
        .orderBy("ord")
    )


def seek_ceil(index: InvertedIndex, probes: Iterable[str]) -> DataFrame:
    """``TermsEnum.seekCeil`` for each probe string: the smallest
    dictionary term >= probe, with its ordinal; probes past the last
    term yield no row (SeekStatus.END).  One broadcast theta-join of a
    k-row probe set against the dictionary + a partial-agg'd min."""
    spark = index.spark
    pr = F.broadcast(
        spark.createDataFrame([(p,) for p in probes], "probe string")
    )
    ceil = (
        term_ords(index)
        .join(pr, F.col("term") >= F.col("probe"))
        .groupBy("probe")
        .agg(F.min(F.struct("term", "ord")).alias("m"))
    )
    return ceil.select(
        "probe", F.col("m.term").alias("term"), F.col("m.ord").alias("ord")
    ).orderBy("probe")


def ordinal_map(index: InvertedIndex) -> DataFrame:
    """OrdinalMap analog: (segment_id, seg_ord, global_ord, term).

    Per-segment ordinals come from each segment's own dictionary
    (distinct terms of its blocks, ranked within the segment); global
    ordinals from the merged dictionary.  The join is on term — both
    sides are dictionary-sized.  `index/OrdinalMap.java:39`.
    """
    seg_terms = index.blocks.select("segment_id", "term").distinct()
    w = Window.partitionBy("segment_id").orderBy("term")
    seg_ords = seg_terms.withColumn(
        "seg_ord", F.row_number().over(w).cast("long") - 1
    )
    glob = term_ords(index).select("term", F.col("ord").alias("global_ord"))
    return seg_ords.join(glob, "term").select(
        "segment_id", "seg_ord", "global_ord", "term"
    )

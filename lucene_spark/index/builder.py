"""Distributed inverted-index build: per-segment compressed posting blocks.

Spark-first re-expression of Lucene's write path
(`lucene/core/src/java/org/apache/lucene/index/IndexingChain.java:553-1175`,
`codecs/lucene103/Lucene103PostingsWriter.java:256-432`):

- **docIDs** are dense longs assigned deterministically from the data
  (rank over a stable key), never from partition layout — the Spark
  analog of DWPT arrival order + docBase
  (`index/DocumentsWriterPerThread.java:132`, `index/DocIDMerger.java:32-43`),
  made deterministic so checkpoint-resume is idempotent.
- **segments** are contiguous docID ranges (``segment_id = doc_id //
  docs_per_segment``). One build task produces one segment's posting
  lists — Lucene's "one DWPT flush = one segment". Because segments
  partition the docID space, *heavy terms are automatically split
  across segments* (the heavy-hitter posting-list splitting the north
  rule asks for), and merging never re-sorts: segment doc ranges are
  disjoint and ordered.
- **posting blocks**: per (segment, term), docIDs sorted ascending are
  chunked into 128-doc blocks (`Lucene103PostingsFormat.java:343`),
  delta+FOR-packed; freqs PFor-packed (≤7 exceptions); per-block skip
  metadata (``first_doc``/``max_doc`` = the two-level skip list's
  block pointers, `Lucene103PostingsFormat.java:60-63`) and block-max
  impacts (pareto frontier of (freq↑, norm↓) pairs,
  `codecs/CompetitiveImpactAccumulator.java:27-107`).
- **norms**: one byte per doc = SmallFloat.intToByte4(#surviving tokens)
  (`search/similarities/Similarity.java:153-162`); stored both as a
  columnar norms table and inline per posting (so scoring never joins a
  trillion-row norms table).
- **collection/term statistics** via plain DataFrame aggregations
  (docCount, sumTotalTermFreq, per-term docFreq/totalTermFreq —
  `search/CollectionStatistics.java:27-38`); map-side partial
  aggregation absorbs term skew.

No per-row Python anywhere: tokenization and block encoding run in
Arrow-batched pandas UDFs; everything else is DataFrame expressions.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass
from typing import Iterator, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from lucene_spark.analysis import term_freq_udf
from lucene_spark.functions.forutil import (
    BLOCK_SIZE,
    delta_encode,
    for_encode_stream,
    fordelta_encode,
    pfor_encode,
)
from lucene_spark.functions.smallfloat import int_to_byte4

__all__ = [
    "InvertedIndex",
    "assign_doc_ids",
    "BLOCKS_SCHEMA",
    "BLOCKS_SCHEMA_POS",
    "BLOCKS_SCHEMA_PAY",
]


# One row per (segment, term, block). `docs_packed` is delta+FOR,
# `freqs_packed` is PFor, `norms_raw` is one byte per posting (inline
# norms), impacts are the competitive (freq, norm) pareto frontier.
BLOCKS_SCHEMA = T.StructType(
    [
        T.StructField("segment_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("block_ord", T.IntegerType(), False),
        T.StructField("num_docs", T.IntegerType(), False),
        T.StructField("first_doc", T.LongType(), False),
        T.StructField("max_doc", T.LongType(), False),
        # 64-bit occupancy bitmap over [first_doc, max_doc] split into
        # 64 equal zones (bit i set ⇔ some posting's doc falls in zone
        # i) — skip-list metadata that lets conjunction pruning test
        # "does this block contain any lead-term doc" with pure-JVM
        # integer ops instead of decoding postings
        T.StructField("doc_zones", T.LongType(), False),
        T.StructField("docs_packed", T.BinaryType(), False),
        T.StructField("freqs_packed", T.BinaryType(), False),
        T.StructField("norms_raw", T.BinaryType(), False),
        T.StructField("impact_freqs", T.ArrayType(T.IntegerType()), False),
        T.StructField("impact_norms", T.ArrayType(T.IntegerType()), False),
        T.StructField("max_freq", T.IntegerType(), False),
        T.StructField("sum_freq", T.LongType(), False),
    ]
)

# blocks rows with term == NORMS_TERM carry the segment's norms: one
# "posting" per doc with freq = dl and norms_raw = the norm byte. This
# keeps the whole segment build a single kernel output (one schema) and
# makes collection/term statistics plain DataFrame aggs over blocks.
NORMS_TERM = ""

# Positional variant: `positions_packed` holds each posting's positions
# (within-doc delta-encoded, concatenated in doc order, FOR-packed as
# 128-int sub-blocks — the .pos-file analog of
# `Lucene103PostingsFormat.java:225-250`); per-posting lengths = freqs.
BLOCKS_SCHEMA_POS = T.StructType(
    BLOCKS_SCHEMA.fields + [T.StructField("positions_packed", T.BinaryType(), False)]
)

# Payload variant: one float32 payload per position, concatenated in
# doc order aligned with `positions_packed` (lengths = freqs) — the
# .pay-file analog of `Lucene103PostingsWriter` payload writing.
# Lucene payloads are arbitrary byte[]; the dominant production use is
# the float encoding of `DelimitedPayloadTokenFilter` + `FloatEncoder`
# (term weighting via PayloadScoreQuery), which is what this stores.
BLOCKS_SCHEMA_PAY = T.StructType(
    BLOCKS_SCHEMA_POS.fields
    + [T.StructField("payloads_packed", T.BinaryType(), False)]
)


def assign_doc_ids(
    df: DataFrame,
    order_cols: List[str],
    bucket_col: Optional[str] = None,
    num_buckets: int = 256,
) -> DataFrame:
    """Deterministic dense docIDs = rank over a stable total order.

    Scalable two-pass pattern: (1) derive a deterministic range bucket
    from the leading order column, (2) per-bucket window rank + global
    prefix-sum of bucket counts (tiny driver-side collect of
    ``num_buckets`` rows). Unlike ``row_number`` over an empty window
    this never funnels the table through one partition, and unlike
    ``monotonically_increasing_id`` the result is independent of
    partition layout (checkpoint/resume-idempotent; SURVEY §7.3.3).
    """
    lead = order_cols[0]
    if bucket_col is None:
        # deterministic equi-width buckets on the leading sort column
        bounds = df.agg(
            F.min(F.col(lead).cast("double")).alias("lo"),
            F.max(F.col(lead).cast("double")).alias("hi"),
        ).collect()[0]
        lo, hi = bounds["lo"], bounds["hi"]
        span = (hi - lo) or 1.0
        bucket = F.least(
            F.lit(num_buckets - 1),
            F.floor((F.col(lead).cast("double") - F.lit(lo)) / F.lit(span) * num_buckets),
        ).cast("long")
        df = df.withColumn("_bucket", bucket)
    else:
        df = df.withColumn("_bucket", F.col(bucket_col).cast("long"))

    counts = {
        r["_bucket"]: r["cnt"]
        for r in df.groupBy("_bucket").agg(F.count("*").alias("cnt")).collect()
    }
    offsets, acc = {}, 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    spark = df.sparkSession
    off_df = F.broadcast(
        spark.createDataFrame(
            [(int(b), int(o)) for b, o in offsets.items()], "_bucket long, _offset long"
        )
    )
    w = Window.partitionBy("_bucket").orderBy(*[F.col(c) for c in order_cols])
    return (
        df.join(off_df, "_bucket")
        .withColumn("doc_id", F.row_number().over(w) + F.col("_offset") - 1)
        .drop("_bucket", "_offset")
    )


def zone_bitmap(docs: np.ndarray) -> int:
    """64-zone occupancy bitmap of one block's sorted docIDs — the ONE
    definition shared by the build kernel, CheckIndex's exactness
    check, and the backward-codecs upgrader (divergence here would make
    conjunction pruning silently skip live blocks)."""
    span = np.uint64(int(docs[-1]) - int(docs[0]) + 1)
    bits = ((docs - docs[0]).astype(np.uint64) * np.uint64(64)) // span
    return int(np.bitwise_or.reduce(np.uint64(1) << bits).astype(np.int64))


def _blocks_from_arrays(
    seg: int,
    term: str,
    docs: np.ndarray,
    freqs: np.ndarray,
    norms: np.ndarray,
    positions=None,
    payloads=None,
) -> list:
    """Sorted per-term postings arrays → list of block row dicts."""
    rows = []
    for ord_, start in enumerate(range(0, len(docs), BLOCK_SIZE)):
        d = docs[start : start + BLOCK_SIZE]
        f = freqs[start : start + BLOCK_SIZE]
        nb = norms[start : start + BLOCK_SIZE]
        # competitive impacts: pareto frontier of (freq desc, norm asc)
        # — a pair dominates if freq >= and norm <= (CompetitiveImpactAccumulator)
        imp = _pareto_impacts(f, nb)
        zones = zone_bitmap(d)
        row = {
            "segment_id": seg,
            "term": term,
            "block_ord": ord_,
            "num_docs": int(len(d)),
            "first_doc": int(d[0]),
            "max_doc": int(d[-1]),
            "doc_zones": zones,
            "docs_packed": fordelta_encode(d),
            "freqs_packed": pfor_encode(f),
            "norms_raw": nb.tobytes(),
            "impact_freqs": [int(x) for x, _ in imp],
            "impact_norms": [int(y) for _, y in imp],
            "max_freq": int(f.max()),
            "sum_freq": int(f.sum()),
        }
        if positions is not None:
            # within-doc delta encoding, concatenated in doc order
            deltas = [
                delta_encode(np.asarray(p, dtype=np.int64))
                for p in positions[start : start + BLOCK_SIZE]
            ]
            row["positions_packed"] = for_encode_stream(
                np.concatenate(deltas) if deltas else np.empty(0, dtype=np.int64)
            )
        if payloads is not None:
            chunks = [
                np.asarray(p, dtype=np.float32)
                for p in payloads[start : start + BLOCK_SIZE]
            ]
            row["payloads_packed"] = (
                np.concatenate(chunks) if chunks else np.empty(0, dtype=np.float32)
            ).tobytes()
        rows.append(row)
    return rows


def _encode_term_group(pdf: pd.DataFrame) -> pd.DataFrame:
    """applyInPandas kernel: one (segment, term) group of per-posting
    rows → block rows (used by the merge path)."""
    seg = int(pdf["segment_id"].iloc[0])
    term = pdf["term"].iloc[0]
    order = np.argsort(pdf["doc_id"].values, kind="stable")
    docs = pdf["doc_id"].values[order].astype(np.int64)
    freqs = pdf["freq"].values[order].astype(np.int64)
    norms = pdf["norm"].values[order].astype(np.uint8)
    positions = pdf["positions"].values[order] if "positions" in pdf.columns else None
    payloads = pdf["payloads"].values[order] if "payloads" in pdf.columns else None
    return pd.DataFrame(
        _blocks_from_arrays(seg, term, docs, freqs, norms, positions, payloads)
    )


def _segment_build_kernel(
    analyzer: str,
    positions: bool,
    docs_only: bool = False,
    omit_norms: bool = False,
    payloads: bool = False,
):
    """applyInPandas kernel: one segment's (doc_id, text) rows → blocks.

    The Spark analog of one DWPT flush
    (`index/DocumentsWriterPerThread.java:132` +
    `index/IndexingChain.java:553-1175`): the whole inversion —
    analyze, per-doc TermsHash, norms, sort, block encode — happens
    inside one task over one segment, so postings never cross the
    network un-encoded. The only wide exchange in the build is the
    corpus shuffle that forms segments.

    Norms are emitted as pseudo-term ``NORMS_TERM`` rows (freq = dl),
    making doc_count / sumTotalTermFreq / per-term stats plain
    DataFrame aggregations over the output.
    """
    from collections import Counter

    from lucene_spark.analysis import analyze as std_analyze
    from lucene_spark.analysis import term_freqs as std_term_freqs
    from lucene_spark.analysis.porter import english_analyze, english_term_freqs

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        order = np.argsort(pdf["doc_id"].values, kind="stable")
        doc_ids = pdf["doc_id"].values[order].astype(np.int64)
        texts = pdf["text"].values[order]
        seg = int(pdf["segment_id"].iloc[0])

        # per-term accumulators over the segment (doc-ordered appends)
        tdocs: dict = {}
        tfreqs: dict = {}
        tpos: dict = {}
        tpay: dict = {}
        dls = np.zeros(len(doc_ids), dtype=np.int64)
        for i in range(len(doc_ids)):
            text = texts[i]
            if not isinstance(text, str) or not text:
                continue
            if positions:
                if analyzer == "standard":
                    toks = std_analyze(text)
                elif analyzer == "english":
                    toks = english_analyze(text)
                elif callable(analyzer):
                    toks = list(analyzer(text))
                else:
                    toks = [(t, p) for p, t in enumerate(text.split(" ")) if t]
                if not toks:
                    continue
                dls[i] = len(toks)
                acc: dict = {}
                if payloads:
                    # analysis chain yields (term, pos, payload) triples
                    # (PayloadAttribute set by e.g. the delimited-payload
                    # filter); payloads ride positions 1:1
                    for term, pos, pay in toks:
                        ps_ws = acc.setdefault(term, ([], []))
                        ps_ws[0].append(pos)
                        ps_ws[1].append(pay)
                    for term, (ps, ws) in acc.items():
                        tdocs.setdefault(term, []).append(i)
                        tfreqs.setdefault(term, []).append(len(ps))
                        tpos.setdefault(term, []).append(ps)
                        tpay.setdefault(term, []).append(ws)
                else:
                    for term, pos in toks:
                        acc.setdefault(term, []).append(pos)
                    for term, ps in acc.items():
                        tdocs.setdefault(term, []).append(i)
                        tfreqs.setdefault(term, []).append(len(ps))
                        tpos.setdefault(term, []).append(ps)
            else:
                # freq-only hot path: C-level tokenize+count, no
                # per-token Python (see analyzer.term_freqs)
                if analyzer == "standard":
                    cnt, dl = std_term_freqs(text)
                elif analyzer == "english":
                    cnt, dl = english_term_freqs(text)
                elif callable(analyzer):
                    toks = list(analyzer(text))
                    cnt = Counter(t for t, _ in toks)
                    dl = len(toks)
                else:
                    cnt = Counter(text.split(" "))
                    cnt.pop("", None)
                    dl = sum(cnt.values())
                if dl == 0:
                    continue
                dls[i] = dl
                for term, f in cnt.items():
                    tdocs.setdefault(term, []).append(i)
                    tfreqs.setdefault(term, []).append(f)

        if docs_only:
            # IndexOptions.DOCS (`index/IndexOptions.java`): frequencies
            # are not stored — every posting scores freq=1 and
            # totalTermFreq == docFreq, so dl becomes the doc's unique
            # term count (keeps sumTotalTermFreq == sumDocFreq)
            for term in tfreqs:
                tfreqs[term] = [1] * len(tfreqs[term])
            uniq = np.zeros_like(dls)
            for term in tdocs:
                for i_doc in tdocs[term]:
                    uniq[i_doc] += 1
            dls = np.where(dls > 0, uniq, 0)
        live = dls > 0
        if omit_norms:
            # omitNorms: the norm byte encodes length 1 for every doc
            # (BM25Similarity then scores with dl=1); collection stats
            # (the NORMS_TERM freq) still carry the true lengths
            norm_bytes = int_to_byte4(np.where(live, 1, 0)).astype(np.uint8)
        else:
            norm_bytes = int_to_byte4(dls).astype(np.uint8)
        rows: list = []
        # pseudo-term norms rows: one "posting" per live doc, freq = dl
        if live.any():
            n_live = int(live.sum())
            rows.extend(
                _blocks_from_arrays(
                    seg,
                    NORMS_TERM,
                    doc_ids[live],
                    dls[live],
                    norm_bytes[live],
                    positions=[[] for _ in range(n_live)] if positions else None,
                    payloads=[[] for _ in range(n_live)] if payloads else None,
                )
            )
        for term in tdocs:
            idx = np.asarray(tdocs[term], dtype=np.int64)
            rows.extend(
                _blocks_from_arrays(
                    seg,
                    term,
                    doc_ids[idx],
                    np.asarray(tfreqs[term], dtype=np.int64),
                    norm_bytes[idx],
                    positions=tpos[term] if positions else None,
                    payloads=tpay[term] if payloads else None,
                )
            )
        return pd.DataFrame(rows)

    return kernel


def _aligned_build_kernel(
    analyzer: str,
    positions: bool,
    docs_only: bool = False,
    omit_norms: bool = False,
    payloads: bool = False,
):
    """mapInPandas wrapper for the ZERO-SHUFFLE aligned build path:
    each Arrow batch is grouped by segment_id in pandas and fed to the
    same per-segment kernel. Valid when the input is range-partitioned
    by doc_id (rank-assigned docIDs are — each partition holds a
    contiguous docID run), so a segment's docs are already co-located.
    A segment cut by a partition/batch boundary yields two partial
    flushes whose block doc-ranges are disjoint — every consumer
    (decode, skip pruning, stats aggs, merge, reclaim) orders blocks by
    ``first_doc``, never by flush arrival, exactly like Lucene readers
    tolerate multiple flushed segments before a merge folds them.
    """
    seg_kernel = _segment_build_kernel(
        analyzer, positions, docs_only, omit_norms, payloads
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            for _, g in pdf.groupby("segment_id", sort=True):
                out = seg_kernel(g)
                if len(out):
                    yield out

    return fn


def _pareto_impacts(freqs: np.ndarray, norms: np.ndarray) -> list:
    """Competitive (freq, norm) pairs: max freq per distinct norm, then
    keep only pairs not dominated by a lower-norm pair with >= freq
    (`codecs/CompetitiveImpactAccumulator.java:65-107`)."""
    df = {}
    for f, n in zip(freqs.tolist(), norms.tolist()):
        if n not in df or f > df[n]:
            df[n] = f
    out, best = [], -1
    for n in sorted(df):
        if df[n] > best:
            out.append((df[n], n))
            best = df[n]
    return out


@dataclass
class InvertedIndex:
    """An index = blocks + terms + norms DataFrames + collection stats.

    The Spark analog of ``SegmentInfos`` + per-segment postings/norms
    files; `save`/`load` persist to parquet with a JSON manifest
    (commit point, `index/IndexWriter.java:181-186,277-284`).
    """

    spark: SparkSession
    blocks: DataFrame
    terms: DataFrame
    norms: DataFrame
    doc_count: int
    sum_total_term_freq: int
    docs_per_segment: int
    num_segments: int
    metrics: dict
    has_positions: bool = False
    # per-position float32 payloads stored alongside positions
    # (`payloads_packed` column; DelimitedPayloadTokenFilter/FloatEncoder
    # semantics — see BLOCKS_SCHEMA_PAY)
    has_payloads: bool = False
    # the persisted DataFrame backing `blocks` (blocks may be a filter
    # of it); unpersisting a derived child is a no-op, so holders of
    # the cache root track it explicitly for release on merge/close
    persisted_root: Optional[DataFrame] = None
    # tombstoned doc_ids (liveDocs analog, `index/PendingDeletes.java`):
    # searches anti-join this; stats stay unchanged until apply_deletes
    # reclaims the segments (Lucene's docFreq-counts-deletes semantics)
    deletes: Optional[DataFrame] = None
    num_deleted: int = 0
    # soft-deleted doc_ids (soft-deletes doc-values field analog,
    # `index/SoftDeletesRetentionMergePolicy.java` /
    # `SoftDeletesDirectoryReaderWrapper.java`): hidden from searches
    # like tombstones, but RETAINED through merge/reclaim and revivable
    # via undelete() until prune_soft_deletes hardens them
    soft_deletes: Optional[DataFrame] = None
    num_soft_deleted: int = 0

    @property
    def num_docs(self) -> int:
        """Live doc count (`IndexReader.numDocs` = maxDoc - deletions;
        a soft-deletes-aware reader hides soft-deleted docs too)."""
        return self.doc_count - self.num_deleted - self.num_soft_deleted

    @property
    def hidden_docs(self) -> Optional[DataFrame]:
        """doc_ids hidden from searches — hard tombstones ∪ soft
        deletes — or None when every doc is visible. The single
        liveDocs source every search path anti-joins."""
        parts = []
        if self.deletes is not None and self.num_deleted > 0:
            parts.append(self.deletes.select("doc_id"))
        if self.soft_deletes is not None and self.num_soft_deleted > 0:
            parts.append(self.soft_deletes.select("doc_id"))
        if not parts:
            return None
        if len(parts) == 1:
            return parts[0]
        return parts[0].unionByName(parts[1]).distinct()

    # ------------------------------------------------------------------
    @classmethod
    def build(
        cls,
        corpus: DataFrame,
        text_col: str = "text",
        doc_id_col: str = "doc_id",
        analyzer: str = "simple",
        docs_per_segment: int = 1 << 14,
        shuffle_partitions: Optional[int] = None,
        positions: bool = False,
        layout: str = "hash",
        index_options: str = "docs_and_freqs",
        omit_norms: bool = False,
        payloads: bool = False,
    ) -> "InvertedIndex":
        """Build posting blocks from a corpus DataFrame.

        analyzer='standard' runs the full Lucene-equivalent chain
        (pandas UDF); 'simple' splits on single spaces JVM-side (for
        space-normalized corpora and DuckDB-oracle parity).

        positions=True additionally stores per-posting position lists
        (`IndexOptions.DOCS_AND_FREQS_AND_POSITIONS`), enabling
        PhraseQuery; costs one extra array column through the build
        shuffle plus the .pos-analog payload per block.

        layout='hash' (default, any input) shuffles the corpus once to
        co-locate each segment. layout='aligned' skips that shuffle
        entirely: REQUIRES the input to be range-partitioned by doc_id
        (true for rank-assigned docIDs and for the deterministic
        corpus generator) and runs the kernel per input partition with
        in-batch segment grouping. At web scale the corpus shuffle is
        the single largest data movement of the whole build — aligned
        ingest removes it (measured: 36% of the 32-way build;
        BENCH.md). Segments cut by partition boundaries produce
        partial flushes with disjoint doc ranges, which every reader
        path tolerates (blocks order by first_doc, not flush arrival).

        index_options='docs' (`IndexOptions.DOCS`) stores freq=1 for
        every posting — totalTermFreq == docFreq, dl = unique-term
        count — the keyword/id-field configuration; incompatible with
        positions (as in Lucene, positions require freqs).
        omit_norms=True encodes norm length 1 for every doc (scoring
        ignores field length) while collection statistics keep the
        true lengths, matching omitNorms semantics.
        """
        spark = corpus.sparkSession
        t0 = time.time()
        doc_id = F.col(doc_id_col).cast("long").alias("doc_id")

        if not callable(analyzer) and analyzer not in (
            "standard",
            "simple",
            "english",
        ):
            raise ValueError(f"unknown analyzer {analyzer!r}")
        if index_options not in ("docs_and_freqs", "docs"):
            raise ValueError(f"unknown index_options {index_options!r}")
        docs_only = index_options == "docs"
        if docs_only and positions:
            raise ValueError("index_options='docs' cannot store positions")
        if payloads:
            # DOCS_AND_FREQS_AND_POSITIONS_AND_OFFSETS-style constraint:
            # payloads ride positions (`index/FieldInfo.java` payload
            # flag requires positions), and only the analysis chain can
            # set them — a payload-yielding analyzer returns triples
            if not positions:
                raise ValueError("payloads=True requires positions=True")
            if not callable(analyzer):
                raise ValueError(
                    "payloads=True needs a callable analyzer yielding "
                    "(term, position, payload) triples — e.g. "
                    "lucene_spark.analysis.filters.delimited_payload_analyzer()"
                )

        # One segment = one task = one kernel call (a DWPT flush). The
        # corpus shuffle that forms segments is the build's only wide
        # exchange; postings are born block-encoded inside the kernel
        # and collection/term statistics are aggregations over block
        # METADATA (no posting decode, no per-posting shuffle).
        src = corpus.select(doc_id, F.col(text_col).alias("text")).withColumn(
            "segment_id", (F.col("doc_id") / F.lit(docs_per_segment)).cast("long")
        )
        if payloads:
            schema = BLOCKS_SCHEMA_PAY
        elif positions:
            schema = BLOCKS_SCHEMA_POS
        else:
            schema = BLOCKS_SCHEMA
        if layout == "aligned":
            # zero-shuffle ingest: partitions already hold contiguous
            # docID ranges; sort within each (no exchange) and group
            # segments inside the Arrow batches
            full = (
                src.sortWithinPartitions("doc_id")
                .mapInPandas(
                    _aligned_build_kernel(
                        analyzer, positions, docs_only, omit_norms, payloads
                    ),
                    schema,
                )
                .persist()
            )
        else:
            # Explicit repartition on the group key: the analysis
            # kernel is CPU-bound, so partition count must track
            # cores, not shuffle bytes — AQE's size-based coalescing
            # would serialize it (a few hundred MB of text is "one
            # partition" to AQE but hours of tokenization).
            # Hash-partitioning on segment_id also satisfies the
            # groupBy's distribution, so no second shuffle.
            n_part = shuffle_partitions or max(
                spark.sparkContext.defaultParallelism * 2, 8
            )
            src = src.repartition(n_part, "segment_id")
            full = (
                src.groupBy("segment_id")
                .applyInPandas(
                    _segment_build_kernel(
                        analyzer, positions, docs_only, omit_norms, payloads
                    ),
                    schema,
                )
                .persist()
            )

        # collection stats from the pseudo-term norm rows (pure aggs —
        # `search/CollectionStatistics.java:27-38`)
        stats_row = (
            full.filter(F.col("term") == NORMS_TERM)
            .agg(F.sum("num_docs").alias("doc_count"), F.sum("sum_freq").alias("sttf"))
            .collect()[0]
        )
        doc_count = int(stats_row["doc_count"] or 0)
        sttf = int(stats_row["sttf"] or 0)

        blocks = full.filter(F.col("term") != NORMS_TERM)
        # per-term stats: agg over block metadata (map-side combine
        # absorbs Zipf skew; no posting decode needed)
        terms = blocks.groupBy("term").agg(
            F.sum("num_docs").cast("long").alias("doc_freq"),
            F.sum("sum_freq").cast("long").alias("total_term_freq"),
        )
        # norms table (doc_id, dl, norm) from the pseudo-term rows
        from lucene_spark.index.postings import decode_frame

        norms = decode_frame(
            full.filter(F.col("term") == NORMS_TERM), ["doc_id", "freq", "norm"]
        ).select("doc_id", F.col("freq").cast("long").alias("dl"), "norm")

        # materialize + size metrics in one action
        size_row = blocks.agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(
                F.length("docs_packed")
                + F.length("freqs_packed")
                + F.length("norms_raw")
                + (F.length("positions_packed") if positions else F.lit(0))
                + (F.length("payloads_packed") if payloads else F.lit(0))
            ).alias("payload_bytes"),
        ).collect()[0]
        n_blocks = int(size_row["n_blocks"] or 0)
        payload_bytes = int(size_row["payload_bytes"] or 0)
        num_segments = (doc_count + docs_per_segment - 1) // docs_per_segment
        build_secs = time.time() - t0
        n_postings = sttf  # one posting per (doc, term) occurrence = sum freq
        metrics = {
            "build_secs": round(build_secs, 3),
            "doc_count": doc_count,
            "num_blocks": n_blocks,
            "docs_per_sec": round(doc_count / build_secs, 1) if build_secs else None,
            "postings_per_sec": round(n_postings / build_secs, 1) if build_secs else None,
            "payload_bytes": payload_bytes,
            "bytes_per_posting": round(payload_bytes / n_postings, 3) if n_postings else None,
        }
        return cls(
            spark=spark,
            blocks=blocks,
            terms=terms.persist(),
            norms=norms,
            doc_count=doc_count,
            sum_total_term_freq=sttf,
            docs_per_segment=docs_per_segment,
            num_segments=num_segments,
            metrics=metrics,
            has_positions=positions,
            has_payloads=payloads,
            persisted_root=full,
        )

    def unpersist(self) -> None:
        """Release the cached blocks/terms backing this index."""
        if self.persisted_root is not None:
            self.persisted_root.unpersist()
        else:
            self.blocks.unpersist()
        self.terms.unpersist()

    @staticmethod
    def _term_bloom_options(ndv: int) -> dict:
        """Writer options for the term-column bloom filter (shared by
        save() and the tests that assert the physical filter)."""
        return {
            "parquet.bloom.filter.enabled#term": "true",
            "parquet.bloom.filter.expected.ndv#term": str(int(ndv)),
        }

    # ------------------------------------------------------------------
    def save(self, index_dir: str, term_bloom: bool = False) -> None:
        """Persist index to parquet + JSON manifest (commit point).

        Blocks are written partitioned-sorted by term so parquet
        row-group min/max statistics give term-seek pruning (the role
        of Lucene's FST term dictionary, SURVEY §2.2).

        ``term_bloom=True`` additionally writes a parquet bloom filter
        on the ``term`` column of the blocks files — the
        BloomFilteringPostingsFormat analog
        (codecs/bloom/BloomFilteringPostingsFormat.java:62): a point
        term lookup can then skip row groups whose min/max RANGE spans
        the term but whose bloom says it is absent — the dominant case
        for rare terms once blocks are term-sorted. parquet-mr only
        materializes the filter for column chunks that overflow
        dictionary encoding (a fully dict-encoded chunk already gives
        exact membership pruning), so at toy scale the option is a
        no-op by design and at 100 TB — where term dictionaries blow
        the 1 MB dictionary-page budget — it is the piece that keeps
        point lookups row-group-local. Pure reader-side: results are
        identical either way.
        """
        w = (
            self.blocks.repartition(
                max(self.spark.sparkContext.defaultParallelism, 4), "term"
            )
            .sortWithinPartitions("term", "segment_id", "block_ord")
            .write.mode("overwrite")
        )
        if term_bloom:
            for k, v in self._term_bloom_options(
                max(1024, self.terms.count())
            ).items():
                w = w.option(k, v)
        w.parquet(os.path.join(index_dir, "blocks"))
        self.terms.write.mode("overwrite").parquet(os.path.join(index_dir, "terms"))
        self.norms.write.mode("overwrite").parquet(os.path.join(index_dir, "norms"))
        if self.deletes is not None and self.num_deleted > 0:
            self.deletes.write.mode("overwrite").parquet(
                os.path.join(index_dir, "deletes")
            )
        if self.soft_deletes is not None and self.num_soft_deleted > 0:
            self.soft_deletes.write.mode("overwrite").parquet(
                os.path.join(index_dir, "soft_deletes")
            )
        manifest = {
            "format": "lucene_spark.v2",
            "doc_count": self.doc_count,
            "sum_total_term_freq": self.sum_total_term_freq,
            "docs_per_segment": self.docs_per_segment,
            "num_segments": self.num_segments,
            "metrics": self.metrics,
            "has_positions": self.has_positions,
            "has_payloads": self.has_payloads,
            "num_deleted": self.num_deleted,
            "num_soft_deleted": self.num_soft_deleted,
            "committed_at": time.time(),
        }
        os.makedirs(index_dir, exist_ok=True)
        tmp = os.path.join(index_dir, "_manifest.tmp")
        with open(tmp, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, os.path.join(index_dir, "manifest.json"))  # atomic commit

    @classmethod
    def load(cls, spark: SparkSession, index_dir: str) -> "InvertedIndex":
        with open(os.path.join(index_dir, "manifest.json")) as f:
            m = json.load(f)
        if m.get("format", "lucene_spark.v1") != "lucene_spark.v2":
            # v1 packed the absolute first docID inside the FOR block;
            # v2 moved it to an 8-byte block-base header. Refuse loudly
            # rather than silently mis-decode gaps as docIDs.
            raise ValueError(
                f"index format {m.get('format')!r} predates the v2 "
                "block-base doc encoding; rebuild or re-save the index"
            )
        n_del = int(m.get("num_deleted", 0))
        dels = (
            spark.read.parquet(os.path.join(index_dir, "deletes"))
            if n_del > 0
            else None
        )
        n_soft = int(m.get("num_soft_deleted", 0))
        soft = (
            spark.read.parquet(os.path.join(index_dir, "soft_deletes"))
            if n_soft > 0
            else None
        )
        blocks = spark.read.parquet(os.path.join(index_dir, "blocks"))
        if "doc_zones" not in blocks.columns:
            # index persisted before the zone-bitmap format: backfill
            # the all-ones sentinel — conjunction pruning degrades to
            # interval-overlap only (mask & -1 != 0 whenever the doc
            # ranges overlap), which is conservative and correct;
            # CheckIndex skips the exact-occupancy check for -1
            blocks = blocks.withColumn("doc_zones", F.lit(-1).cast("long"))
        return cls(
            deletes=dels,
            num_deleted=n_del,
            soft_deletes=soft,
            num_soft_deleted=n_soft,
            spark=spark,
            blocks=blocks,
            terms=spark.read.parquet(os.path.join(index_dir, "terms")),
            norms=spark.read.parquet(os.path.join(index_dir, "norms")),
            doc_count=m["doc_count"],
            sum_total_term_freq=m["sum_total_term_freq"],
            docs_per_segment=m["docs_per_segment"],
            num_segments=m["num_segments"],
            metrics=m.get("metrics", {}),
            has_positions=m.get("has_positions", False),
            has_payloads=m.get("has_payloads", False),
        )

"""The one posting-block reader: decode posting blocks into per-posting rows.

The analog of `codecs/lucene103/Lucene103PostingsReader.java`, which
every consumer reads postings through, asking only for the features it
needs (`PostingsEnum.FREQS` / `POSITIONS` / `PAYLOADS`). Two layers:

- :func:`decode_blocks` — the numpy kernel. One batch of block rows
  (a pandas frame or any column mapping) → flat per-posting arrays.
  It decodes only the blob columns the batch carries, so a doc-only
  consumer never unpacks freqs.
- :func:`read_postings` — the Spark operator: filter blocks by term and
  doc range, optionally coalesce, decode with ``mapInPandas`` (one
  output frame per Arrow batch, via :func:`decode_frame`), trim docs
  outside the range.

Consumers that re-encode (merge, BP-reorder merge, reclaim) decode a
whole (segment, term) group with :func:`decode_group`.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from lucene_spark.functions.forutil import (
    for_decode_stream,
    fordelta_decode,
    pfor_decode,
)
from lucene_spark.index.builder import NORMS_TERM, InvertedIndex

__all__ = ["decode_blocks", "decode_frame", "decode_group", "read_postings"]

# output column types: read_postings returns the first four, then
# positions, then payloads, as its flags ask
POSTINGS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("freq", T.IntegerType(), False),
        T.StructField("norm", T.IntegerType(), False),
        T.StructField("positions", T.ArrayType(T.IntegerType()), False),
        T.StructField("payloads", T.ArrayType(T.FloatType()), False),
    ]
)

# per-posting output column → the block columns it is decoded from
_SOURCES = {
    "doc_id": ("docs_packed",),
    "freq": ("freqs_packed",),
    "norm": ("norms_raw",),
    "positions": ("term", "freqs_packed", "positions_packed"),
    "payloads": ("term", "freqs_packed", "payloads_packed"),
}


@dataclass
class Postings:
    """Flat per-posting arrays of a batch of blocks, in row order.
    ``lens[i]`` is block i's posting count; a column is None when its
    blob was not in the batch."""

    lens: np.ndarray
    doc_id: np.ndarray
    freq: Optional[np.ndarray] = None
    norm: Optional[np.ndarray] = None
    positions: Optional[List[np.ndarray]] = None
    payloads: Optional[List[np.ndarray]] = None


def _concat(parts, dtype) -> np.ndarray:
    return np.concatenate(parts).astype(dtype, copy=False) if parts else np.empty(0, dtype)


def decode_blocks(batch) -> Postings:
    """Decode a batch of block rows (``batch[col]`` → per-block values).

    Always decodes ``docs_packed``; ``freqs_packed`` / ``norms_raw`` /
    ``positions_packed`` / ``payloads_packed`` when present. Positions
    are within-doc deltas: all blocks' streams concatenate, one cumsum
    runs over them and each posting subtracts the sum before its first
    delta. ``NORMS_TERM`` rows (freq = doc length, no positions) get
    empty position and payload lists.
    """
    docs = [fordelta_decode(bytes(b)) for b in batch["docs_packed"]]
    out = Postings(
        lens=np.fromiter((d.size for d in docs), np.intp, len(docs)),
        doc_id=_concat(docs, np.int64),
    )
    if "freqs_packed" in batch:
        out.freq = _concat([pfor_decode(bytes(b)) for b in batch["freqs_packed"]], np.int32)
    if "norms_raw" in batch:
        out.norm = np.frombuffer(
            b"".join(bytes(b) for b in batch["norms_raw"]), dtype=np.uint8
        ).astype(np.int32)
    if "positions_packed" not in batch and "payloads_packed" not in batch:
        return out
    is_norms = np.repeat(np.asarray(batch["term"], dtype=object) == NORMS_TERM, out.lens)
    n_pos = np.where(is_norms, 0, out.freq)
    ends = np.cumsum(n_pos)
    cuts = ends[:-1]
    if "positions_packed" in batch:
        streams = [for_decode_stream(bytes(b)) for b in batch["positions_packed"]]
        deltas = _concat(streams, np.int64)
        acc = np.cumsum(deltas)
        before = np.concatenate(([0], acc))[ends - n_pos]
        pos = (acc - np.repeat(before, n_pos)).astype(np.int32)
        out.positions = np.split(pos, cuts) if ends.size else []
    if "payloads_packed" in batch:
        pay = np.frombuffer(b"".join(bytes(b) for b in batch["payloads_packed"]), dtype=np.float32)
        out.payloads = np.split(pay, cuts) if ends.size else []
    return out


def decode_frame(blocks: DataFrame, names: List[str]) -> DataFrame:
    """``mapInPandas`` of :func:`decode_blocks` over a blocks frame →
    the named columns, one output frame per Arrow batch. Posting
    columns (doc_id, freq, norm, positions, payloads) are decoded; any
    other name is a block column repeated per posting."""
    schema = T.StructType(
        [POSTINGS_SCHEMA[n] if n in POSTINGS_SCHEMA.names else blocks.schema[n] for n in names]
    )
    src = list(dict.fromkeys(c for n in names for c in _SOURCES.get(n, (n,))))

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            p = decode_blocks(pdf)
            yield pd.DataFrame(
                {
                    n: getattr(p, n) if n in _SOURCES else np.repeat(pdf[n].values, p.lens)
                    for n in names
                }
            )

    return blocks.select(*src).mapInPandas(fn, schema)


def decode_group(pdf: pd.DataFrame, segment_id: int) -> pd.DataFrame:
    """All blocks of one term (any segment order) → its per-posting rows
    in doc order, shaped for ``builder._encode_term_group``: the shared
    decode half of merge, BP-reorder merge and reclaim re-encoding."""
    pdf = pdf.iloc[np.argsort(pdf["first_doc"].values, kind="stable")]
    p = decode_blocks(pdf)
    flat = pd.DataFrame(
        {
            "segment_id": segment_id,
            "term": pdf["term"].iloc[0],
            "doc_id": p.doc_id,
            "freq": p.freq,
            "norm": p.norm,
        }
    )
    if p.positions is not None:
        flat["positions"] = p.positions
    if p.payloads is not None:
        flat["payloads"] = p.payloads
    return flat


def read_postings(
    index: InvertedIndex,
    terms: Optional[List[str]] = None,
    *,
    positions: bool = False,
    payloads: bool = False,
    doc_range=None,
    max_tasks: Optional[int] = None,
) -> DataFrame:
    """(doc_id, term, freq, norm[, positions[, payloads]]) rows of the
    given terms (None = every term).

    ``doc_range=(lo, hi)`` skips blocks whose [first_doc, max_doc] does
    not overlap it before any decode (the skip-list advance) and trims
    postings outside it after. ``payloads=True`` implies positions.
    ``max_tasks`` narrows the surviving blocks to at most that many
    partitions (no shuffle): a few-term read otherwise pays one Python
    worker dispatch per cached partition, most of them empty.
    """
    positions = positions or payloads
    if positions and not index.has_positions:
        raise ValueError("index was built without positions=True")
    if payloads and not index.has_payloads:
        raise ValueError("index was built without payloads=True")
    blocks = index.blocks
    if terms is not None:
        blocks = blocks.filter(F.col("term").isin(list(dict.fromkeys(terms))))
    if doc_range is not None:
        lo, hi = int(doc_range[0]), int(doc_range[1])
        blocks = blocks.filter((F.col("max_doc") >= lo) & (F.col("first_doc") <= hi))
    if max_tasks is not None:
        blocks = blocks.coalesce(int(max_tasks))
    names = POSTINGS_SCHEMA.names[: 4 + positions + payloads]
    out = decode_frame(blocks, names)
    if doc_range is not None:
        out = out.filter(F.col("doc_id").between(lo, hi))
    return out

"""Backward-codecs: read and upgrade indexes written by older formats.

Reference parity targets:
  - lucene/core/src/java/org/apache/lucene/index/IndexUpgrader.java:48
    (rewrite every segment written by an older version into the
    current format, in place or to a new directory; segments already
    current are left untouched)
  - the lucene/backward-codecs module's role: the CURRENT reader
    refuses formats it cannot decode safely (``InvertedIndex.load``
    fails loudly on v1), and the upgrade path — not the hot read path
    — carries the old-format decoder.

Format history (this repo):
  - ``lucene_spark.v1``: the doc block was ONE fused FOR array of
    ``[first_doc, gaps...]`` — the absolute first docID's ~log2(maxDoc)
    bit width applied to all 128 entries; no ``doc_zones`` occupancy
    bitmap column.
  - ``lucene_spark.v2``: 8-byte little-endian block base header +
    FOR over the 127 gaps only; exact ``doc_zones`` bitmap.

The upgrade is one ``mapInPandas`` pass over the blocks parquet
(decode v1 → re-encode v2 → recompute exact zone bitmaps); freqs /
norms / positions / payloads blobs are byte-identical across formats
and pass through untouched, as do the terms/norms/deletes tables.  At
100 TB this is an embarrassingly parallel rewrite with no shuffle.
"""

from __future__ import annotations

import json
import os
import time
from typing import Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F

__all__ = ["upgrade_index", "V1_FORMAT", "V2_FORMAT"]

V1_FORMAT = "lucene_spark.v1"
V2_FORMAT = "lucene_spark.v2"


def _v1_decode_docs(blob: bytes) -> np.ndarray:
    """v1 doc block: cumsum of one fused FOR array ([first, gaps...])."""
    from lucene_spark.functions.forutil import for_decode

    if len(blob) == 0:
        return np.empty(0, dtype=np.int64)
    return np.cumsum(for_decode(blob)).astype(np.int64)


def _v1_encode_docs(docs: np.ndarray) -> bytes:
    """v1 doc block writer — kept ONLY to fabricate old-format fixtures
    in tests (the reference's backward-codecs ships old-format writers
    for exactly this purpose in its test framework)."""
    from lucene_spark.functions.forutil import delta_encode, for_encode

    docs = np.asarray(docs, dtype=np.int64)
    if docs.size == 0:
        return b""
    return for_encode(delta_encode(docs).astype(np.uint64))


def _zones(docs: np.ndarray) -> int:
    """Exact 64-zone occupancy bitmap — the builder's shared definition."""
    from lucene_spark.index.builder import zone_bitmap

    return zone_bitmap(docs)


def upgrade_index(
    spark: SparkSession, src_dir: str, dst_dir: Optional[str] = None
) -> str:
    """IndexUpgrader.java:48 analog: rewrite a ``lucene_spark.v1``
    index into the current v2 format.  Returns the upgraded directory
    (``dst_dir`` or ``src_dir`` for the in-place default).  A directory
    already in the current format is left untouched (no-op, like the
    reference skipping current-version segments)."""
    dst = dst_dir or src_dir
    with open(os.path.join(src_dir, "manifest.json")) as f:
        manifest = json.load(f)
    fmt = manifest.get("format", V1_FORMAT)
    if fmt == V2_FORMAT:
        if dst != src_dir:
            raise ValueError(
                "index is already current-format; refusing a copy-only run"
            )
        return src_dir
    if fmt != V1_FORMAT:
        raise ValueError(f"unknown index format {fmt!r}")

    blocks = spark.read.parquet(os.path.join(src_dir, "blocks"))
    had_zones = "doc_zones" in blocks.columns
    in_cols = blocks.columns
    out_cols = in_cols if had_zones else in_cols + ["doc_zones"]
    from lucene_spark.functions.forutil import fordelta_encode

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            new_docs, new_zones = [], []
            for blob in pdf["docs_packed"].values:
                docs = _v1_decode_docs(bytes(blob))
                new_docs.append(fordelta_encode(docs))
                new_zones.append(_zones(docs) if docs.size else -1)
            pdf = pdf.copy()
            pdf["docs_packed"] = new_docs
            pdf["doc_zones"] = np.array(new_zones, dtype=np.int64)
            yield pdf[out_cols]

    schema_parts = []
    for f_ in blocks.schema.fields:
        schema_parts.append(f"`{f_.name}` {f_.dataType.simpleString()}")
    if not had_zones:
        schema_parts.append("`doc_zones` bigint")
    upgraded = blocks.mapInPandas(kernel, ", ".join(schema_parts))

    tmp_blocks = os.path.join(dst, "blocks__upgrade_tmp")
    upgraded.write.mode("overwrite").parquet(tmp_blocks)
    for side in ("terms", "norms", "deletes", "soft_deletes"):
        sp, dp = os.path.join(src_dir, side), os.path.join(dst, side)
        if os.path.isdir(sp) and dst != src_dir:
            spark.read.parquet(sp).write.mode("overwrite").parquet(dp)
    # swap blocks last, then commit the manifest atomically
    final_blocks = os.path.join(dst, "blocks")
    if os.path.isdir(final_blocks):
        import shutil

        shutil.rmtree(final_blocks)
    os.replace(tmp_blocks, final_blocks)
    manifest["format"] = V2_FORMAT
    manifest["upgraded_from"] = fmt
    manifest["upgraded_at"] = time.time()
    os.makedirs(dst, exist_ok=True)
    tmp = os.path.join(dst, "_manifest.tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1)
    os.replace(tmp, os.path.join(dst, "manifest.json"))
    return dst

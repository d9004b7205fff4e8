"""SimpleText codec analog — a human-readable, plain-text index format.

Reference: `lucene/codecs/src/java/org/apache/lucene/codecs/simpletext/
SimpleTextCodec.java:31` — "a plain-text codec for debugging: all
files are human-readable, nothing is compressed; never use this in
production".  This analog persists the whole logical index (postings,
positions, norms, collection stats) as text lines and reads it back
into a full-fidelity :class:`InvertedIndex` (blocks re-encoded through
the standard v2 kernel, so a round-tripped index answers queries
exactly like the original).

Divergence from the reference's ``.pst`` layout, by design: the
reference writes stateful sections (``term`` header lines followed by
indented ``doc`` lines), which a distributed text reader cannot split
at arbitrary boundaries.  Here every line is self-describing
(``seg=.. doc=.. freq=.. [pos=..] term=..``) so Spark can parse the
files with per-line JVM regexes at any partitioning — same
information, splittable layout.  ``term=`` is last on the line and
runs to end-of-line (terms never contain newlines; the analyzers
split on whitespace).

Both directions are fully distributed: the save decodes blocks and
formats lines inside one mapInPandas/JVM projection pass; the load
parses lines JVM-side and rebuilds blocks with the same
``_encode_term_group`` kernel the merge path uses (one shuffle to
group (segment, term), exactly like a build).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession, functions as F

from .builder import (
    BLOCKS_SCHEMA,
    BLOCKS_SCHEMA_POS,
    InvertedIndex,
    _encode_term_group,
)

__all__ = ["save_simpletext", "load_simpletext"]

SIMPLETEXT_FORMAT = "lucene_spark.simpletext.v1"


def save_simpletext(index: InvertedIndex, index_dir: str) -> None:
    """Persist the index as plain text (postings/, norms/, header)."""
    if index.has_payloads:
        raise NotImplementedError(
            "SimpleText analog does not serialize per-position payloads"
        )
    from .postings import decode_frame

    has_pos = index.has_positions
    # one decode pass, then pure JVM formatting of the posting lines
    posts = decode_frame(
        index.blocks,
        ["segment_id", "doc_id", "term", "freq"] + (["positions"] if has_pos else []),
    )
    if has_pos:
        line = F.format_string(
            "seg=%d doc=%d freq=%d pos=%s term=%s",
            "segment_id", "doc_id", "freq",
            F.array_join(F.col("positions").cast("array<string>"), ","), "term",
        )
    else:
        line = F.format_string(
            "seg=%d doc=%d freq=%d term=%s", "segment_id", "doc_id", "freq", "term"
        )
    posts.select(line.alias("value")).write.mode("overwrite").text(
        os.path.join(index_dir, "postings")
    )

    # norms: pure JVM formatting, no Python
    index.norms.select(
        F.format_string("doc=%d dl=%d norm=%d", "doc_id", "dl", "norm").alias(
            "value"
        )
    ).write.mode("overwrite").text(os.path.join(index_dir, "norms"))

    # liveDocs: tombstones and soft deletes as one-id-per-line files —
    # a round trip must NOT resurrect deleted documents
    for side, frame, n in (
        ("deletes", index.deletes, index.num_deleted),
        ("soft_deletes", index.soft_deletes, index.num_soft_deleted),
    ):
        if frame is not None and n > 0:
            frame.select(
                F.format_string("doc=%d", "doc_id").alias("value")
            ).write.mode("overwrite").text(os.path.join(index_dir, side))

    header = {
        "format": SIMPLETEXT_FORMAT,
        "doc_count": index.doc_count,
        "sum_total_term_freq": index.sum_total_term_freq,
        "docs_per_segment": index.docs_per_segment,
        "num_segments": index.num_segments,
        "has_positions": has_pos,
        "num_deleted": index.num_deleted,
        "num_soft_deleted": index.num_soft_deleted,
    }
    os.makedirs(index_dir, exist_ok=True)
    tmp = os.path.join(index_dir, "_header.tmp")
    with open(tmp, "w") as f:
        json.dump(header, f, indent=1)
    os.replace(tmp, os.path.join(index_dir, "header.json"))


def load_simpletext(spark: SparkSession, index_dir: str) -> InvertedIndex:
    """Read a SimpleText directory back into a live index (blocks
    re-encoded through the standard kernel)."""
    with open(os.path.join(index_dir, "header.json")) as f:
        h = json.load(f)
    if h.get("format") != SIMPLETEXT_FORMAT:
        raise ValueError(f"not a SimpleText index: {h.get('format')!r}")
    has_pos = bool(h["has_positions"])

    raw = spark.read.text(os.path.join(index_dir, "postings"))
    post = raw.select(
        F.regexp_extract("value", r"seg=(\d+)", 1).cast("long").alias("segment_id"),
        F.regexp_extract("value", r"doc=(\d+)", 1).cast("long").alias("doc_id"),
        F.regexp_extract("value", r"freq=(\d+)", 1).cast("long").alias("freq"),
        F.regexp_extract("value", r" term=(.*)$", 1).alias("term"),
        *(
            [F.regexp_extract("value", r"pos=([\d,]*)", 1).alias("pos_str")]
            if has_pos
            else []
        ),
    )
    norms = (
        spark.read.text(os.path.join(index_dir, "norms"))
        .select(
            F.regexp_extract("value", r"doc=(\d+)", 1).cast("long").alias("doc_id"),
            F.regexp_extract("value", r"dl=(\d+)", 1).cast("long").alias("dl"),
            F.regexp_extract("value", r"norm=(\d+)", 1).cast("int").alias("norm"),
        )
    )
    post = post.join(norms.select("doc_id", "norm"), "doc_id")
    if has_pos:
        post = post.withColumn(
            "positions",
            F.when(F.col("pos_str") == "", F.array().cast("array<long>")).otherwise(
                F.transform(F.split("pos_str", ","), lambda x: x.cast("long"))
            ),
        ).drop("pos_str")
    schema = BLOCKS_SCHEMA_POS if has_pos else BLOCKS_SCHEMA
    par = max(spark.sparkContext.defaultParallelism, 4)
    blocks = (
        post.repartition(par, "segment_id", "term")
        .groupBy("segment_id", "term")
        .applyInPandas(_encode_term_group, schema)
    )
    terms = blocks.groupBy("term").agg(
        F.sum("num_docs").cast("long").alias("doc_freq"),
        F.sum("sum_freq").cast("long").alias("total_term_freq"),
    )
    blocks = blocks.persist()

    def _live_side(name: str, count: int):
        if count <= 0:
            return None
        return spark.read.text(os.path.join(index_dir, name)).select(
            F.regexp_extract("value", r"doc=(\d+)", 1).cast("long").alias("doc_id")
        )

    n_del = int(h.get("num_deleted", 0))
    n_soft = int(h.get("num_soft_deleted", 0))
    return InvertedIndex(
        spark=spark,
        blocks=blocks,
        terms=terms.persist(),
        norms=norms,
        doc_count=int(h["doc_count"]),
        sum_total_term_freq=int(h["sum_total_term_freq"]),
        docs_per_segment=int(h["docs_per_segment"]),
        num_segments=int(h["num_segments"]),
        metrics={"loaded_from": "simpletext"},
        has_positions=has_pos,
        persisted_root=blocks,
        deletes=_live_side("deletes", n_del),
        num_deleted=n_del,
        soft_deletes=_live_side("soft_deletes", n_soft),
        num_soft_deleted=n_soft,
    )

from lucene_spark.index.builder import (
    BLOCKS_SCHEMA,
    BLOCKS_SCHEMA_POS,
    InvertedIndex,
    assign_doc_ids,
)
from lucene_spark.index.check import check_index, exorcise
from lucene_spark.index.commits import IndexCommits
from lucene_spark.index.deletes import (
    apply_deletes,
    delete_by_ids,
    delete_by_query,
    delete_documents,
    prune_soft_deletes,
    reclaimable_segments,
    soft_delete_by_ids,
    soft_delete_by_query,
    undelete,
    update_document,
)
from lucene_spark.index.bp import bp_order_local, bp_reorder
from lucene_spark.index.bpmerge import bp_reordering_merge
from lucene_spark.index.postings import read_postings
from lucene_spark.index.rearranger import rearrange
from lucene_spark.index.backward import upgrade_index
from lucene_spark.index.replicator import PrimaryNode, ReplicaNode
from lucene_spark.index.resumable import load_resumable, resumable_build
from lucene_spark.index.sorting import sort_docs
from lucene_spark.index.splitter import multi_pass_split, pk_split

__all__ = [
    "BLOCKS_SCHEMA",
    "BLOCKS_SCHEMA_POS",
    "IndexCommits",
    "InvertedIndex",
    "apply_deletes",
    "assign_doc_ids",
    "bp_order_local",
    "bp_reorder",
    "bp_reordering_merge",
    "read_postings",
    "rearrange",
    "upgrade_index",
    "check_index",
    "exorcise",
    "multi_pass_split",
    "pk_split",
    "PrimaryNode",
    "ReplicaNode",
    "delete_by_ids",
    "delete_by_query",
    "delete_documents",
    "load_resumable",
    "prune_soft_deletes",
    "reclaimable_segments",
    "resumable_build",
    "soft_delete_by_ids",
    "soft_delete_by_query",
    "sort_docs",
    "undelete",
    "update_document",
]

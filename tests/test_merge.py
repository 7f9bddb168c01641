"""Tiered merge: result-identity across compaction + resume after merge.

Mirrors the reference's invariant that merges never change query results
(segments are equivalent sorted runs; ``MergePolicyConfig.java:108-113``)."""

from __future__ import annotations

import shutil

import pytest

from elasticsearch_spark.operators.merge import merge_index, plan_merges
from elasticsearch_spark.operators.postings import build_index
from elasticsearch_spark.operators.topk import search_topk
from elasticsearch_spark.sources import index_store as store
from elasticsearch_spark.sources.pages import pages_df
from tests.conftest import assert_term_stats_are_segment_sums

MERGE_DIR = "/tmp/es_spark_merge_index"
QUERIES = [
    (["the", "of", "w00123"], "or"),
    (["w00010", "w00050"], "and"),
    (["w02000", "the"], "or"),
]


@pytest.fixture(scope="module")
def merge_env(spark):
    shutil.rmtree(MERGE_DIR, ignore_errors=True)
    build_index(spark, pages_df(spark, 400, n_parts=4), MERGE_DIR, num_partitions=8)
    before = {
        (tuple(t), op): [
            (r["doc_id"], round(r["score"], 9))
            for r in search_topk(spark, MERGE_DIR, t, k=10, operator=op, fetch=False).collect()
        ]
        for t, op in QUERIES
    }
    assert_term_stats_are_segment_sums(spark, MERGE_DIR)
    info = merge_index(spark, MERGE_DIR, segments_per_tier=4, floor_bytes=1)
    assert_term_stats_are_segment_sums(spark, MERGE_DIR)
    return before, info


def test_merge_reduces_segments(spark, merge_env):
    _, info = merge_env
    assert info["merges"] == 2
    assert info["segments_after"] == 2


def test_merge_preserves_topk(spark, merge_env):
    before, _ = merge_env
    for (t, op), exp in before.items():
        got = [
            (r["doc_id"], round(r["score"], 9))
            for r in search_topk(spark, MERGE_DIR, list(t), k=10, operator=op, fetch=False).collect()
        ]
        assert got == exp, (t, op)


def test_merge_doc_count_preserved(spark, merge_env):
    docs = spark.read.parquet(*store.docs_glob(MERGE_DIR))
    meta = store.IndexMeta.load(MERGE_DIR)
    assert docs.count() == meta.doc_count
    assert docs.select("doc_id").distinct().count() == meta.doc_count


def test_resume_after_merge_skips_all(spark, merge_env):
    info = build_index(spark, pages_df(spark, 400, n_parts=4), MERGE_DIR, num_partitions=8)
    assert info["built"] == 0
    assert info["skipped"] == 8
    assert_term_stats_are_segment_sums(spark, MERGE_DIR)


def test_plan_merges_respects_tier_size(spark, merge_env):
    # after compaction into 2 segments, a tier of 4 can still merge them
    groups = plan_merges(MERGE_DIR, segments_per_tier=4, floor_bytes=1)
    assert all(len(g) <= 4 for g in groups)


def test_uncommitted_merge_output_not_live(spark, tmp_path):
    """A crash BETWEEN the merged segment's file renames and the merge
    manifest rename must not double-count: the merged-namespace dir
    without a manifest is invisible to list_segs and reclaimed by
    reconcile."""
    import os
    import shutil as _sh

    from elasticsearch_spark.operators.postings import build_index
    from elasticsearch_spark.sources import index_store as store
    from elasticsearch_spark.sources.pages import pages_df

    d = str(tmp_path / "crash_idx")
    build_index(spark, pages_df(spark, 60, n_parts=2), d, num_partitions=2)
    live_before = store.list_segs(d)
    # simulate the crash: copy a segment's files into an uncommitted
    # merged-namespace dir (no merge manifest)
    orphan = store.MERGED_SEG_BASE + 1
    _sh.copytree(store.seg_dir(d, live_before[0]), store.seg_dir(d, orphan))
    assert store.list_segs(d) == live_before  # orphan not live
    assert_term_stats_are_segment_sums(spark, d)
    reclaimed = store.reconcile(d)
    assert orphan in reclaimed
    assert not os.path.isdir(store.seg_dir(d, orphan))

"""Checkpoint-resume semantics: the manifest rename is the commit point —
partitions whose manifest is missing or stale rebuild; complete ones skip;
output is identical either way (north-rule resumability)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.operators.postings import build_index
from elasticsearch_spark.operators.topk import IndexReader, search_topk
from elasticsearch_spark.sources import index_store as store
from elasticsearch_spark.sources.pages import pages_df
from tests.conftest import assert_term_stats_are_segment_sums

RESUME_DIR = "/tmp/es_spark_resume_test"
N_PARTS = 6


@pytest.fixture(scope="module")
def built(spark):
    shutil.rmtree(RESUME_DIR, ignore_errors=True)
    info = build_index(spark, pages_df(spark, 300, n_parts=4), RESUME_DIR, num_partitions=N_PARTS)
    baseline = [
        (r["doc_id"], round(r["score"], 9))
        for r in search_topk(spark, RESUME_DIR, ["the", "w00123"], fetch=False).collect()
    ]
    assert_term_stats_are_segment_sums(spark, RESUME_DIR)
    return info, baseline


def test_crash_before_manifest_rebuilds_only_lost_partitions(spark, built):
    info, baseline = built
    # simulate a crash after writing 2 segments but before their manifest
    # commit: remove the manifests (the segment files may or may not exist)
    for pid in (1, 3):
        os.remove(store.manifest_path(RESUME_DIR, pid))
        shutil.rmtree(store.seg_dir(RESUME_DIR, pid), ignore_errors=True)
    info2 = build_index(spark, pages_df(spark, 300, n_parts=4), RESUME_DIR, num_partitions=N_PARTS)
    assert info2["built"] == 2
    assert info2["skipped"] == N_PARTS - 2
    got = [
        (r["doc_id"], round(r["score"], 9))
        for r in search_topk(spark, RESUME_DIR, ["the", "w00123"], fetch=False).collect()
    ]
    assert got == baseline
    assert_term_stats_are_segment_sums(spark, RESUME_DIR)


def test_stale_lineage_triggers_rebuild(spark, built):
    # different input (one more row) → lineage hash changes for affected
    # partitions → they rebuild even though manifests exist
    info3 = build_index(spark, pages_df(spark, 301, n_parts=4), RESUME_DIR, num_partitions=N_PARTS)
    assert info3["built"] >= 1  # the partition that received row 300
    assert info3["built"] + info3["skipped"] == N_PARTS
    docs = spark.read.parquet(*store.docs_glob(RESUME_DIR))
    assert docs.count() == IndexReader(spark, RESUME_DIR).doc_count
    assert_term_stats_are_segment_sums(spark, RESUME_DIR)


def test_segment_file_loss_with_manifest_rebuilds(spark, built):
    # manifest says complete but the segment files are gone → rebuild
    pid = 2
    shutil.rmtree(store.seg_dir(RESUME_DIR, pid))
    info4 = build_index(spark, pages_df(spark, 301, n_parts=4), RESUME_DIR, num_partitions=N_PARTS)
    assert info4["built"] >= 1
    assert os.path.exists(os.path.join(store.seg_dir(RESUME_DIR, pid), "postings.parquet"))
    assert_term_stats_are_segment_sums(spark, RESUME_DIR)

"""Index sorting (IndexSortConfig.java) + sorted-query early termination."""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.api import Engine

ROOT = "/tmp/es_spark_test_isort"


@pytest.fixture(scope="module")
def es(spark):
    shutil.rmtree(ROOT, ignore_errors=True)
    eng = Engine(spark, root=ROOT)
    eng.create_index("pages", num_partitions=3, index_sort=("warc_ts", "desc"))
    rows = [
        (f"u{i:03d}", f"spark doc number {i} with shared words", "en",
         dt.datetime(2024, 1, 1) + dt.timedelta(hours=i * 7 % 97))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "url string, text string, lang string, warc_ts timestamp")
    eng.bulk("pages", docs)
    return eng


def _expected_latest(n):
    rows = [
        (f"u{i:03d}", dt.datetime(2024, 1, 1) + dt.timedelta(hours=i * 7 % 97))
        for i in range(60)
    ]
    rows.sort(key=lambda r: (r[1],), reverse=True)
    return [u for u, _ in rows[:n]]


def test_segment_files_are_sort_ordered(es):
    for p in glob.glob(os.path.join(ROOT, "pages", "segments", "seg=*", "docs.parquet")):
        ts = pq.read_table(p, columns=["warc_ts"])["warc_ts"].to_pylist()
        assert ts == sorted(ts, reverse=True), p


def test_sorted_match_all_early_termination(es):
    body = {"query": {"match_all": {}}, "sort": [{"warc_ts": "desc"}], "size": 5}
    hits = es.search("pages", body)["hits"].collect()
    assert [r["url"] for r in hits] == _expected_latest(5)


def test_sorted_scan_direct(es, spark):
    from elasticsearch_spark.operators.topk import IndexReader, sorted_scan

    out = sorted_scan(IndexReader(spark, os.path.join(ROOT, "pages")), k=7).collect()
    assert [r["url"] for r in out] == _expected_latest(7)


def test_wand_still_rank_correct_on_sorted_index(es):
    res = es.search("pages", {"query": {"match": {"text": "spark 17"}}, "size": 3})
    urls = [r["url"] for r in res["hits"].collect()]
    assert urls[0] == "u017"  # the only doc containing both terms


def test_sorted_scan_after_merge_and_delete(es, spark):
    es.delete("pages", [_expected_latest(1)[0]])  # tombstone the newest doc
    body = {"query": {"match_all": {}}, "sort": [{"warc_ts": "desc"}], "size": 4}
    hits = es.search("pages", body)["hits"].collect()
    assert [r["url"] for r in hits] == _expected_latest(5)[1:]
    es.forcemerge("pages")
    # merged docs files keep the index-sort order
    for p in glob.glob(os.path.join(ROOT, "pages", "segments", "seg=*", "docs.parquet")):
        ts = pq.read_table(p, columns=["warc_ts"])["warc_ts"].to_pylist()
        assert ts == sorted(ts, reverse=True), p
    hits = es.search("pages", body)["hits"].collect()
    assert [r["url"] for r in hits] == _expected_latest(5)[1:]


def test_second_bulk_keeps_sort_order(es, spark):
    """Op-batch segments (bulk #2+) must honour index.sort too —
    sorted_scan reads only each segment's first k rows."""
    newest = dt.datetime(2024, 6, 1)
    extra = spark.createDataFrame(
        [("unew1", "brand new spark doc", "en", newest),
         ("unew2", "even newer doc", "en", newest + dt.timedelta(hours=1))],
        "url string, text string, lang string, warc_ts timestamp",
    )
    es.bulk("pages", extra)
    body = {"query": {"match_all": {}}, "sort": [{"warc_ts": "desc"}], "size": 2}
    hits = es.search("pages", body)["hits"].collect()
    assert [r["url"] for r in hits] == ["unew2", "unew1"]
    # string-form sort entries take the fast path without crashing
    asc = es.search("pages", {"query": {"match_all": {}}, "sort": ["warc_ts"],
                              "size": 1})["hits"].collect()
    assert len(asc) == 1


def test_sorted_scan_numeric_sort_field(spark, tmp_path):
    """A numeric index_sort field must keep its real type through the
    per-segment scan (a string-typed schema would break the Arrow batch
    conversion or sort '9' above '10' at the coordinator merge)."""
    eng = Engine(spark, root=str(tmp_path))
    eng.create_index("priced", num_partitions=2, index_sort=("price", "desc"))
    rows = [(f"p{i:02d}", f"doc {i}", "en",
             dt.datetime(2024, 1, 1), int((i * 37) % 101)) for i in range(30)]
    docs = spark.createDataFrame(
        rows, "url string, text string, lang string, warc_ts timestamp, price long")
    eng.bulk("priced", docs)
    from elasticsearch_spark.operators.topk import IndexReader, sorted_scan

    out = sorted_scan(IndexReader(spark, os.path.join(str(tmp_path), "priced")), k=5,
                      columns=("doc_id", "url", "price")).collect()
    assert [r["price"] for r in out] == sorted((i * 37) % 101 for i in range(30))[::-1][:5]
    assert out[0]["price"] > 9  # numeric, not lexicographic

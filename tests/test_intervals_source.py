"""Intervals source algebra (operators/intervals.py): minimal-interval
combinators, filters, and the end-to-end AST path over the index."""

from __future__ import annotations

import numpy as np
import pytest

from elasticsearch_spark.operators.intervals import (
    iv_any_of,
    iv_filter,
    iv_ordered,
    iv_positions,
    iv_unordered,
    minimal,
)
from elasticsearch_spark.operators.topk import IndexReader


def A(*pairs):
    return np.array(pairs, dtype=np.int64).reshape(-1, 2)


def test_minimal_drops_containing():
    got = minimal(A((0, 5), (1, 3), (2, 8), (6, 7)))
    # (0,5) contains (1,3); (2,8) contains (6,7)
    assert got.tolist() == [[1, 3], [6, 7]]


def test_minimal_same_start_keeps_smallest_end():
    assert minimal(A((2, 9), (2, 4))).tolist() == [[2, 4]]


def test_iv_positions():
    assert iv_positions(np.array([5, 1, 5])).tolist() == [[1, 1], [5, 5]]


def test_iv_ordered_chain_and_gaps():
    # "a" at 0,10; "b" at 2,12 → chains (0,2) gap1 and (10,12) gap1
    a, b = iv_positions(np.array([0, 10])), iv_positions(np.array([2, 12]))
    assert iv_ordered([a, b], max_gaps=1).tolist() == [[0, 2], [10, 12]]
    assert iv_ordered([a, b], max_gaps=0).tolist() == []
    # unbounded
    assert iv_ordered([a, b], max_gaps=-1).tolist() == [[0, 2], [10, 12]]


def test_iv_ordered_requires_order():
    a, b = iv_positions(np.array([5])), iv_positions(np.array([3]))
    assert iv_ordered([a, b], -1).tolist() == []
    assert iv_ordered([b, a], -1).tolist() == [[3, 5]]


def test_iv_unordered_window():
    a, b = iv_positions(np.array([0, 100])), iv_positions(np.array([3]))
    got = iv_unordered([a, b], max_gaps=2)
    assert got.tolist() == [[0, 3]]  # width 4 − 2 tokens = 2 gaps
    assert iv_unordered([a, b], max_gaps=1).tolist() == []


def test_iv_any_of_minimal_union():
    out = iv_any_of([A((0, 5)), A((1, 3))])
    assert out.tolist() == [[1, 3]]


def test_iv_filters():
    iv = A((0, 4), (6, 9))
    g = A((1, 2))
    assert iv_filter(iv, g, "containing").tolist() == [[0, 4]]
    assert iv_filter(iv, g, "not_containing").tolist() == [[6, 9]]
    assert iv_filter(A((1, 2)), A((0, 4)), "contained_by").tolist() == [[1, 2]]
    assert iv_filter(A((5, 8)), A((0, 4)), "contained_by").tolist() == []
    assert iv_filter(iv, A((3, 7)), "overlapping").tolist() == [[0, 4], [6, 9]]
    assert iv_filter(iv, A((5, 5)), "not_overlapping").tolist() == [[0, 4], [6, 9]]
    assert iv_filter(iv, A((5, 5)), "before").tolist() == [[0, 4]]
    assert iv_filter(iv, A((5, 5)), "after").tolist() == [[6, 9]]
    with pytest.raises(ValueError):
        iv_filter(iv, g, "sideways")


def test_intervals_source_end_to_end(spark, index_dir):
    """AST path over the test index: any_of picks up both phrases; the
    filtered all_of only keeps clean spans."""
    from elasticsearch_spark.operators.intervals import search_intervals_source
    from elasticsearch_spark.operators.phrase import search_intervals

    # plain ordered match through the AST == the dedicated match path
    ast = {"match": {"query": "the of", "ordered": True, "max_gaps": 2}}
    got = [(r["doc_id"], round(r["score"], 8)) for r in
           search_intervals_source(IndexReader(spark, index_dir), ast, k=10).collect()]
    want = [(r["doc_id"], round(r["score"], 8)) for r in
            search_intervals(IndexReader(spark, index_dir), "the of", ordered=True, max_gaps=2, k=10).collect()]
    assert got == want

    # prefix leaf inside any_of returns at least the match-only results
    ast2 = {"any_of": {"intervals": [
        {"match": {"query": "the of", "ordered": True, "max_gaps": 2}},
        {"prefix": {"prefix": "w000"}},
    ]}}
    n = search_intervals_source(IndexReader(spark, index_dir), ast2, k=10).count()
    assert n == 10


def test_intervals_script_filter_yaml(spark, tmp_path):
    """90_interval_query_filter.yml 'Test filtering by script': the filter
    script sees interval.start/.end/.gaps; 'cold' with interval.start > 3
    matches only doc 1 ('…some like it cold', position 7)."""
    from elasticsearch_spark.operators.intervals import search_intervals_source
    from elasticsearch_spark.operators.postings import build_index

    docs = [
        ("1", "Some like it hot, some like it cold"),
        ("2", "Its cold outside, theres no kind of atmosphere"),
        ("3", "Baby its cold there outside"),
        ("4", "Outside it is cold and wet"),
    ]
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(u, t, "en") for u, t in docs], "url string, text string, lang string"
    ).withColumn("warc_ts", F.to_timestamp(F.lit("2024-01-01")))
    idx = str(tmp_path / "ivs")
    build_index(spark, df, idx, num_partitions=1)
    ast = {"match": {"query": "cold",
                     "filter": {"script": {"source": "interval.start > 3"}}}}
    hits = search_intervals_source(IndexReader(spark, idx), ast, k=10).collect()
    assert [r["url"] for r in hits] == ["1"]
    # boundary: start > 2 picks up doc 4 (position 3) too
    ast2 = {"match": {"query": "cold",
                      "filter": {"script": {"source": "interval.start > 2"}}}}
    assert {r["url"] for r in search_intervals_source(IndexReader(spark, idx), ast2, k=10).collect()} \
        == {"1", "4"}

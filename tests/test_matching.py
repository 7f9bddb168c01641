"""Every Engine call that asks "which docs does this query match?" answers
it the way a top-level search does: text leaves on an index are tokenized
by the index's analyzer and scored by the postings BM25.

The corpus is chosen so the index analyzers and a ``[a-z0-9]+`` token
stream disagree: "zürich" is one token to the analyzers but "z rich" to the
regex, "don't" is one token but "don t", and "東京" has no regex token."""

from __future__ import annotations

import itertools
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.api import Engine
from elasticsearch_spark.sources import index_store as store

ROOT = "/tmp/es_spark_matching_test"
DOCS = [
    ("u1", "welcome to zürich today", "de", "Red", 10.0),
    ("u2", "the z rich list", "en", "RED", 20.0),
    ("u3", "i don't know", "en", "blue", 30.0),
    ("u4", "don t know", "fr", "red", 40.0),
    ("u5", "東京 タワー", "ja", "Blue", 50.0),
]
LANG = {u: lang for u, _, lang, _, _ in DOCS}
TEXTS = ["zürich", "don't", "東京"]
KINDS = {
    "match": lambda t: {"match": {"text": t}},
    "match_phrase": lambda t: {"match_phrase": {"text": t}},
    "intervals": lambda t: {"intervals": {"text": {"match": {"query": t}}}},
}
CASES = list(itertools.product(["standard", "cjk"], TEXTS, KINDS))
_seq = itertools.count()


def _bulk(es, spark, name, analyzer, num_partitions=1):
    es.create_index(name, analyzer=analyzer, num_partitions=num_partitions)
    es.bulk(name, spark.createDataFrame(
        DOCS, "url string, text string, lang string, tag string, lat double",
    ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp"))
     .withColumn("loc", F.struct(F.col("lat"), F.col("lat").alias("lon"))).drop("lat"))
    return name


@pytest.fixture(scope="module")
def es(spark):
    shutil.rmtree(ROOT, ignore_errors=True)
    eng = Engine(spark, root=ROOT)
    for analyzer in ("standard", "cjk"):
        _bulk(eng, spark, analyzer, analyzer)
    yield eng
    shutil.rmtree(ROOT, ignore_errors=True)


def _hits(es, index, query, **body):
    rows = es.search(index, {"query": query, "size": 10, **body})["hits"].collect()
    return {r["url"]: r["score"] if "score" in r else r["_score"] for r in rows}


@pytest.fixture(scope="module")
def expected(es):
    """url → score of the top-level (index fast path) search, per case."""
    return {(a, t, k): _hits(es, a, KINDS[k](t)) for a, t, k in CASES}


def test_fast_path_hits_are_the_analyzer_matches(expected):
    for a, k in itertools.product(["standard", "cjk"], KINDS):
        assert set(expected[(a, "zürich", k)]) == {"u1"}
        assert set(expected[(a, "don't", k)]) == {"u3"}
        assert set(expected[(a, "東京", k)]) == {"u5"}


@pytest.mark.parametrize("analyzer,text,kind", CASES)
def test_read_paths_agree_with_the_hits(es, expected, analyzer, text, kind):
    q = KINDS[kind](text)
    want = expected[(analyzer, text, kind)]
    assert es.count(analyzer, q) == len(want)
    out = es.search(analyzer, {"query": q, "size": 10, "track_total_hits": True})
    assert out["total"]["value"] == len(want)
    aggs = es.search(analyzer, {"query": q, "size": 10,
                                "aggs": {"by_lang": {"terms": {"field": "lang"}}}})
    got_aggs = {r["key"]: r["doc_count"] for r in aggs["aggregations"]["by_lang"].collect()}
    assert got_aggs == {LANG[u]: 1 for u in want}
    in_bool = _hits(es, analyzer, {"bool": {"must": [q]}})
    assert set(in_bool) == set(want)
    for u, s in in_bool.items():
        assert s == pytest.approx(want[u], abs=1e-9)
    filtered = _hits(es, analyzer, {"bool": {"must": [q], "filter": [{"term": {"lang": "en"}}]}})
    assert set(filtered) == {u for u in want if LANG[u] == "en"}


@pytest.mark.parametrize("analyzer", ["standard", "cjk"])
def test_write_paths_agree_with_the_hits(es, spark, expected, analyzer):
    cases = [(t, k) for a, t, k in CASES if a == analyzer]
    for text, kind in cases:  # identity rewrite: the match sets stay put
        q = KINDS[kind](text)
        want = set(expected[(analyzer, text, kind)])
        assert es.update_by_query(analyzer, q, "text")["updated"] == len(want)
        dest = f"dest{next(_seq)}"
        es.create_index(dest, analyzer=analyzer, num_partitions=1)
        es.reindex(analyzer, dest, query=q)
        assert es.count(dest) == len(want)
    for text, kind in cases:
        q = KINDS[kind](text)
        fresh = _bulk(es, spark, f"fresh{next(_seq)}", analyzer)
        assert es.delete_by_query(fresh, q)["deleted"] == len(expected[(analyzer, text, kind)])
        left = {r["url"] for r in es.search(fresh, {"size": 10})["hits"].collect()}
        assert left == {u for u, *_ in DOCS} - set(expected[(analyzer, text, kind)])
        es.delete_index(fresh)


# ---- consumer uniformity ---------------------------------------------------

COMMON = {"common": {"text": {"query": "know list", "cutoff_frequency": 0.001}}}


def test_frame_only_query_in_every_write_path(es, spark):
    # `common` has no filter-context predicate: every consumer takes the
    # one semi-join fallback instead of raising NotImplementedError
    idx = _bulk(es, spark, "common_src", "standard")
    n = es.count(idx, COMMON)
    assert n == 3
    assert es.update_by_query(idx, COMMON, "text")["updated"] == n
    es.create_index("common_dest", num_partitions=1)
    es.reindex(idx, "common_dest", query=COMMON)
    assert es.count("common_dest") == n
    es.put_anomaly_job("common_job", {
        "analysis_config": {"bucket_span": "1h", "detectors": [{"function": "count"}]},
        "data_description": {"time_field": "warc_ts"},
    })
    es.put_datafeed("common_feed", {"job_id": "common_job", "indices": [idx],
                                    "query": COMMON})
    recs = es.start_datafeed("common_feed").collect()
    assert sum(r["actual"] for r in recs) == n


def test_keyword_normalizer_in_every_consumer(es, spark):
    idx = _bulk(es, spark, "kw", "standard", num_partitions=2)
    es.put_mapping(idx, {"properties": {"tag": {"type": "keyword", "normalizer": "lowercase"}}})
    q = {"term": {"tag": "red"}}
    assert es.count(idx, q) == 3  # Red, RED, red
    v = es.validate_query(idx, {"query": q, "explain": True})
    assert v["valid"] and "lower(tag" in v["explanation"]
    grid = es.search_mvt(idx, "loc", 0, 0, 0, query=q).collect()
    assert sum(r["doc_count"] for r in grid) == 3
    # the async partial reduce reads the first half of the segments
    d = es._dir(idx)
    segs = store.list_segs(d)
    assert len(segs) == 2
    first = pq.read_table(os.path.join(store.seg_dir(d, segs[0]), "docs.parquet"),
                          columns=["url", "tag"]).to_pylist()
    want = {r["url"] for r in first if r["tag"].lower() == "red"}
    snap = es._partial_reduce(idx, {"query": q, "size": 10,
                                    "aggs": {"tags": {"terms": {"field": "lang"}}}})
    assert {r["url"] for r in snap["hits"]} == want
    assert sum(r["doc_count"] for r in snap["aggregations"]["tags"]) == len(want)


def test_named_match_inside_bool_reports_matched_queries(es):
    rows = es.search("standard", {"query": {"bool": {"should": [
        {"match": {"text": {"query": "zürich", "_name": "city"}}},
        {"match": {"text": {"query": "know", "_name": "know"}}},
    ]}}, "size": 10})["hits"].collect()
    assert {r["url"]: list(r["matched_queries"]) for r in rows} == {
        "u1": ["city"], "u3": ["know"], "u4": ["know"]}


def test_post_filter_with_a_text_leaf_on_an_index(es):
    rows = es.search("standard", {
        "query": {"term": {"lang": "en"}},
        "post_filter": {"match": {"text": "zürich"}}, "size": 10,
    })["hits"].collect()
    assert rows == []  # u1 (the only zürich doc) is de; u2 is not a match


def test_function_score_filter_with_a_text_leaf(es):
    # a text leaf in functions[].filter has no predicate on an index: it is
    # a keyed flag, and it selects the analyzer's docs (u1, not u2)
    body = {"function_score": {
        "query": {"match_all": {}},
        "functions": [{"filter": {"match": {"text": "zürich"}}, "weight": 2},
                      {"filter": {"term": {"lang": "en"}}, "weight": 3}],
        "score_mode": "sum", "boost_mode": "replace"}}
    got = _hits(es, "standard", body)
    assert got == {"u1": 2.0, "u2": 3.0, "u3": 3.0, "u4": 0.0, "u5": 0.0}


def test_query_string_text_leaves_take_the_index_answer(es):
    for q, want in [("zürich", {"u1"}), ('"don\'t know"', {"u3"}), ("東京", {"u5"})]:
        body = {"query_string": {"query": q}}
        assert set(_hits(es, "standard", body)) == want
        assert es.count("standard", body) == len(want)

"""Routing-pruned search (?routing= / IndexRouting.java) + shard-aware
tiered merge. ``num_shards`` (the number_of_shards index setting) is
decoupled from build parallelism: shard = pid % S with S | P. Merged
segments stay shard-pure, routed queries scan only the routed shard's
segments, and results equal the shard-restricted full search."""

from __future__ import annotations

import shutil

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from elasticsearch_spark.operators.merge import merge_index, plan_merges
from elasticsearch_spark.operators.postings import build_index
from elasticsearch_spark.operators.topk import routed_segs, routing_shard, search_topk, xxhash64
from elasticsearch_spark.sources import index_store as store
from elasticsearch_spark.sources.pages import pages_df

IDX = "/tmp/es_spark_test_routing_idx"
P, S = 6, 3  # 6 build partitions, 3 routing shards → 2 segments/shard


def _build(spark):
    shutil.rmtree(IDX, ignore_errors=True)
    build_index(spark, pages_df(spark, 300, n_parts=4), IDX, num_partitions=P, num_shards=S)
    return store.IndexMeta.load(IDX)


def test_num_shards_must_divide_partitions(spark):
    shutil.rmtree(IDX, ignore_errors=True)
    with pytest.raises(ValueError, match="must divide"):
        build_index(spark, pages_df(spark, 50, n_parts=2), IDX, num_partitions=6, num_shards=4)


def test_routing_requires_sharded_index(spark):
    shutil.rmtree(IDX, ignore_errors=True)
    build_index(spark, pages_df(spark, 50, n_parts=2), IDX, num_partitions=4)
    with pytest.raises(ValueError, match="num_shards"):
        search_topk(spark, IDX, ["the"], k=3, fetch=False, routing="u1").collect()


# every length class of XXH64: < 4, 4-7, 8-31, exactly 32 and > 32 bytes,
# with 1-4-byte UTF-8 characters (the astral ones are 4 bytes)
_EDGE = ["", "a", "ß", "東", "😀", "abcd", "abcdefg", "a" * 31, "a" * 32, "😀" * 8,
         "x" * 33, "ß" * 40, "𝔘nicode-" * 9, "\x00"]


@settings(max_examples=15, deadline=None)
@given(st.lists(st.text(alphabet=st.characters(exclude_categories=("Cs",)), max_size=80),
                max_size=40))
def test_xxhash64_matches_spark(spark, values):
    """The driver-side hash routed searches use equals Spark's xxhash64 —
    the expression the build routes docs with — on arbitrary strings, so
    query-time and index-time shards cannot drift."""
    values = list(dict.fromkeys(values + _EDGE))
    rows = spark.createDataFrame([(v,) for v in values], "v string").select(
        "v", F.xxhash64("v").alias("h"), F.pmod(F.xxhash64("v"), F.lit(S)).alias("s")
    ).collect()
    assert len(rows) == len(values)
    for r in rows:
        assert xxhash64(r["v"].encode("utf-8")) == r["h"], r["v"]
        assert routing_shard(r["v"], S) == r["s"]


def test_routed_search_prunes_and_matches(spark):
    meta = _build(spark)
    url = spark.read.parquet(*store.docs_glob(IDX)).select("url").limit(1).collect()[0]["url"]
    shard = routing_shard(url, S)
    segs = store.list_segs(IDX)
    pruned = routed_segs(IDX, segs, url, meta)
    assert len(pruned) == P // S  # 2 of 6 segments
    assert all(store.shard_of(IDX, s, meta) == shard for s in pruned)

    _assert_routed_equals_shard_restricted(spark, meta, url, pruned)


def test_merge_is_shard_aware_and_routing_survives(spark):
    meta = _build(spark)
    # shard-pure groups only: 3 groups of 2 (one per shard)
    groups = plan_merges(IDX, segments_per_tier=8)
    assert len(groups) == S
    for g in groups:
        assert len({store.shard_of(IDX, s, meta) for s in g}) == 1
    info = merge_index(spark, IDX, segments_per_tier=8)
    assert info["merges"] == S

    segs = store.list_segs(IDX)
    shards = [store.shard_of(IDX, s, meta) for s in segs]
    assert sorted(shards) == list(range(S))  # one shard-pure segment per shard

    url = spark.read.parquet(*store.docs_glob(IDX)).select("url").limit(1).collect()[0]["url"]
    pruned = routed_segs(IDX, segs, url, meta)
    assert len(pruned) == 1
    _assert_routed_equals_shard_restricted(spark, meta, url, pruned)


def test_engine_search_routing(spark, tmp_path):
    from elasticsearch_spark.api import Engine

    es = Engine(spark, root=str(tmp_path))
    es.create_index("pages", num_partitions=6, num_shards=3)
    es.bulk("pages", pages_df(spark, 200, n_parts=2))
    url = "https://site1.example/de/page00000001"
    full = es.search("pages", {"query": {"match": {"text": "the"}}, "size": 5})["hits"]
    routed = es.search(
        "pages", {"query": {"match": {"text": "the"}}, "size": 5}, routing=url
    )["hits"]
    # the routed search sees one shard; any overlap scores identically
    f = {r["url"]: round(r["score"], 9) for r in full.collect()}
    r = {r["url"]: round(r["score"], 9) for r in routed.collect()}
    assert r  # non-empty
    for u in set(f) & set(r):
        assert f[u] == r[u]


def _assert_routed_equals_shard_restricted(spark, meta, url, pruned):
    full = {(r["doc_id"], round(r["score"], 9)) for r in
            search_topk(spark, IDX, ["the"], k=10, fetch=False).collect()}
    routed = {(r["doc_id"], round(r["score"], 9)) for r in
              search_topk(spark, IDX, ["the"], k=10, fetch=False, routing=url).collect()}
    shard_doc_ids = {
        r["doc_id"]
        for s in pruned
        for r in spark.read.parquet(f"{IDX}/segments/seg={s}/docs.parquet")
        .select("doc_id").collect()
    }
    # routed = the SHARD's top-k: every global hit living in the shard
    # appears with an identical score (df/avgdl are global), and every
    # routed hit belongs to the shard
    assert {(d, s) for d, s in full if d in shard_doc_ids} <= routed
    assert {d for d, _ in routed} <= shard_doc_ids
    assert routed  # the shard is non-empty for a stopword query


def test_op_batch_segments_route_correctly(spark):
    """Op-batch segments allocate dense ids; their routing shard is
    recorded in the build manifest (the old arithmetic derivation silently
    pruned segments containing the routed doc)."""
    from elasticsearch_spark.operators.ops import apply_ops

    meta = _build(spark)
    ops = spark.createDataFrame(
        [(f"https://new{i}.example/x", "index", "fresh routed words here",
          "en", None) for i in range(7)],
        "url string, op string, text string, lang string, warc_ts timestamp")
    counts = apply_ops(spark, IDX, ops)
    assert counts["indexed"] == 7
    op_segs = [s for s in store.list_segs(IDX) if s >= store.OPS_SEG_BASE]
    assert op_segs
    for s in op_segs:
        assert store.shard_of(IDX, s, meta) in range(S)
    # every new doc is findable through ITS routed search
    for i in range(7):
        url = f"https://new{i}.example/x"
        hits = search_topk(spark, IDX, ["routed"], k=50, fetch=True,
                           routing=url).collect()
        assert url in {r["url"] for r in hits}, url


@pytest.mark.parametrize("query", [
    {"match_phrase": {"text": "red fox"}},
    {"span_near": {"clauses": [{"span_term": {"text": "red"}},
                               {"span_term": {"text": "fox"}}],
                   "slop": 0, "in_order": True}},
], ids=["match_phrase", "span_near"])
def test_positional_queries_honor_routing(spark, tmp_path, query):
    """?routing= narrows the positional index paths exactly like match: the
    routed search returns the url's shard and nothing else (it used to
    scan every shard)."""
    from pyspark.sql import functions as F

    from elasticsearch_spark.api import Engine

    es = Engine(spark, root=str(tmp_path))
    es.create_index("pages", num_partitions=6, num_shards=3)
    es.bulk("pages", spark.createDataFrame(
        [(f"u{i}", "the red fox jumps", "en") for i in range(30)],
        "url string, text string, lang string",
    ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp")))
    d = es._dir("pages")
    shard_urls = {
        r["url"]
        for s in routed_segs(d, store.list_segs(d), "u0", store.IndexMeta.load(d))
        for r in spark.read.parquet(f"{d}/segments/seg={s}/docs.parquet").select("url").collect()
    }
    assert "u0" in shard_urls and len(shard_urls) < 30
    full = es.search("pages", {"query": query, "size": 50})["hits"]
    assert {r["url"] for r in full.collect()} == {f"u{i}" for i in range(30)}
    routed = es.search("pages", {"query": query, "size": 50}, routing="u0")["hits"]
    assert {r["url"] for r in routed.collect()} == shard_urls

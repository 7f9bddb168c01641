"""Bulk op lifecycle: index/create/update/delete, tombstone masking at
query time, expunge-on-merge (InternalEngine delete+add semantics)."""

from __future__ import annotations

import datetime as dt
import shutil

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.operators.merge import merge_index
from elasticsearch_spark.operators.ops import apply_ops, live_docs, read_tombstones
from elasticsearch_spark.operators.postings import build_index
from elasticsearch_spark.operators.topk import IndexReader, search_topk
from elasticsearch_spark.sources import index_store as store
from tests.conftest import assert_term_stats_are_segment_sums

OPS_DIR = "/tmp/es_spark_ops_test"
TS = dt.datetime(2024, 6, 1)


def _ops_df(spark, rows):
    return spark.createDataFrame(
        [(u, op, t, "en", TS) for u, op, t in rows],
        "url string, op string, text string, lang string, warc_ts timestamp",
    )


@pytest.fixture(scope="module")
def ops_index(spark):
    shutil.rmtree(OPS_DIR, ignore_errors=True)
    rows = [
        ("u1", "zebra apple mango"),
        ("u2", "zebra zebra banana"),
        ("u3", "plain words here"),
        ("u4", "apple pie zebra"),
    ]
    df = spark.createDataFrame(rows, "url string, text string").select(
        "url", F.lit(TS).cast("timestamp").alias("warc_ts"), "text", F.lit("en").alias("lang")
    )
    build_index(spark, df, OPS_DIR, num_partitions=2)
    assert_term_stats_are_segment_sums(spark, OPS_DIR)
    return OPS_DIR


def test_delete_masks_doc(spark, ops_index):
    before = {r["url"] for r in search_topk(spark, ops_index, ["zebra"], k=10).collect()}
    assert before == {"u1", "u2", "u4"}
    counts = apply_ops(spark, ops_index, _ops_df(spark, [("u2", "delete", None)]))
    assert counts["deleted"] == 1
    after = {r["url"] for r in search_topk(spark, ops_index, ["zebra"], k=10).collect()}
    assert after == {"u1", "u4"}
    assert live_docs(spark, ops_index).count() == 3
    assert_term_stats_are_segment_sums(spark, ops_index)


def test_update_is_delete_plus_add(spark, ops_index):
    counts = apply_ops(spark, ops_index, _ops_df(spark, [("u1", "update", "quokka only now")]))
    assert counts["updated"] == 1
    assert {r["url"] for r in search_topk(spark, ops_index, ["quokka"], k=10).collect()} == {"u1"}
    # old content of u1 is no longer searchable
    assert {r["url"] for r in search_topk(spark, ops_index, ["zebra"], k=10).collect()} == {"u4"}
    assert live_docs(spark, ops_index).count() == 3
    assert_term_stats_are_segment_sums(spark, ops_index)


def test_create_conflict_and_new(spark, ops_index):
    counts = apply_ops(
        spark, ops_index,
        _ops_df(spark, [("u3", "create", "should conflict"), ("u9", "create", "fresh walrus doc")]),
    )
    assert counts["create_conflicts"] == 1 and counts["created"] == 1
    assert {r["url"] for r in search_topk(spark, ops_index, ["walrus"], k=10).collect()} == {"u9"}
    # u3 unchanged (create never overwrites)
    assert {r["url"] for r in search_topk(spark, ops_index, ["plain"], k=10).collect()} == {"u3"}
    assert_term_stats_are_segment_sums(spark, ops_index)


def test_merge_expunges_tombstones(spark, ops_index):
    assert len(read_tombstones(ops_index)) == 2  # u2 delete + u1 update
    n_live = live_docs(spark, ops_index).count()
    merge_index(spark, ops_index, segments_per_tier=10, floor_bytes=1)
    assert len(read_tombstones(ops_index)) == 0  # expunged
    docs = spark.read.parquet(*store.docs_glob(ops_index))
    assert docs.count() == n_live  # dead versions physically gone
    assert IndexReader(spark, ops_index).doc_count == n_live
    # results unchanged by the expunging merge
    assert {r["url"] for r in search_topk(spark, ops_index, ["zebra"], k=10).collect()} == {"u4"}
    assert {r["url"] for r in search_topk(spark, ops_index, ["quokka"], k=10).collect()} == {"u1"}
    assert_term_stats_are_segment_sums(spark, ops_index)


def test_external_versioning(spark, tmp_path):
    """VersionType.EXTERNAL optimistic concurrency: a bulk whose version is
    not strictly greater than the stored one is a version conflict."""
    import shutil as _sh

    from pyspark.sql import functions as F

    from elasticsearch_spark.api import Engine

    root = str(tmp_path / "ver_eng")
    _sh.rmtree(root, ignore_errors=True)
    es = Engine(spark, root=root)
    es.create_index("pages", num_partitions=2)

    def batch(rows):
        return spark.createDataFrame(
            rows, "url string, text string, lang string, version long"
        ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp"))

    es.bulk("pages", batch([("u1", "v5 text", "en", 5), ("u2", "v1 text", "en", 1)]))
    # stale (3 <= 5) → conflict; newer (2 > 1) → update
    res = es.bulk("pages", batch([("u1", "v3 stale", "en", 3),
                                  ("u2", "v2 newer", "en", 2)]),
                  version_type="external")
    assert res["version_conflicts"] == 1
    assert res["updated"] == 1
    texts = {r["url"]: (r["text"], r["version"])
             for r in es._docs_view("pages").collect()}
    assert texts["u1"] == ("v5 text", 5)      # stale write rejected
    assert texts["u2"] == ("v2 newer", 2)     # newer write applied
    # equal version is also a conflict (strictly-greater contract)
    res2 = es.bulk("pages", batch([("u2", "v2 again", "en", 2)]),
                   version_type="external")
    assert res2["version_conflicts"] == 1 and res2["updated"] == 0
    assert_term_stats_are_segment_sums(spark, es._dir("pages"))


def test_intra_batch_op_sequencing(spark, tmp_path):
    """Bulk ops on the same url apply in row order (TransportBulkAction
    executes sequentially per id): index-then-delete leaves the doc dead,
    create-then-create conflicts, delete-then-index revives as a fresh doc,
    and index-then-index keeps the LAST body."""
    d = str(tmp_path / "seq_idx")
    base = spark.createDataFrame(
        [("s1", "seed words here")], "url string, text string").select(
        "url", F.lit(TS).cast("timestamp").alias("warc_ts"), "text",
        F.lit("en").alias("lang"))
    build_index(spark, base, d, num_partitions=1)

    counts = apply_ops(spark, d, _ops_df(spark, [
        ("n1", "index", "fresh doc body"),
        ("n1", "delete", None),               # deletes the op two lines up
        ("c1", "create", "first create"),
        ("c1", "create", "second create"),    # conflict vs the in-batch one
        ("s1", "delete", None),
        ("s1", "index", "revived body"),      # revive after in-batch delete
        ("w1", "index", "first body"),
        ("w1", "index", "second body"),       # last write wins
    ]))
    assert counts["deleted"] == 2
    assert counts["create_conflicts"] == 1
    assert counts["created"] == 1
    assert counts["indexed"] == 3     # n1, s1-revival, w1-first
    assert counts["updated"] == 1     # w1 second write over the in-batch one
    live = {r["url"]: r for r in live_docs(spark, d).collect()}
    assert set(live) == {"c1", "s1", "w1"}  # n1 dead, one doc per url
    hits = {r["url"] for r in search_topk(spark, d, ["second"], k=10).collect()}
    assert hits == {"w1"}  # w1 carries the LAST body
    assert not {r["url"] for r in search_topk(spark, d, ["fresh"], k=10).collect()}
    assert_term_stats_are_segment_sums(spark, d)


@pytest.fixture(scope="module")
def updated_engine(spark, tmp_path_factory):
    """An Engine index after a bulk that updates ``upd`` and a delete of
    ``del``; yields (engine, the old doc_id of ``upd``, its new doc_id)."""
    from elasticsearch_spark.api import Engine
    from elasticsearch_spark.operators.ops import live_docs

    es = Engine(spark, root=str(tmp_path_factory.mktemp("upd_engine")))
    es.create_index("pages", num_partitions=2)

    def bulk(rows):
        es.bulk("pages", spark.createDataFrame(
            rows, "url string, text string, lang string",
        ).withColumn("warc_ts", F.lit(TS).cast("timestamp")))

    bulk([("keep", "a quick brown fox jumps", "en"),
          ("upd", "the quick brown fox sleeps", "en"),
          ("del", "one quick brown fox hides", "en"),
          ("other", "lazy dog naps all day", "en")])

    def doc_id(url):
        return live_docs(spark, es._dir("pages")).where(F.col("url") == url).first()["doc_id"]

    old = doc_id("upd")
    bulk([("upd", "now a quick brown fox runs far", "en")])
    es.delete("pages", ["del"])
    assert_term_stats_are_segment_sums(spark, es._dir("pages"))
    return es, old, doc_id("upd")


@pytest.mark.parametrize("query", [
    {"match": {"text": "fox"}},
    {"match": {"text": {"query": "quick fox", "operator": "and"}}},
    {"match_phrase": {"text": "quick brown fox"}},
    {"match_phrase_prefix": {"text": "quick brown fo"}},
    {"intervals": {"text": {"match": {"query": "quick fox", "ordered": True}}}},
    {"intervals": {"text": {"all_of": {
        "intervals": [{"match": {"query": "quick"}}, {"prefix": {"prefix": "fo"}}],
        "ordered": True}}}},
    {"span_near": {"clauses": [{"span_term": {"text": "brown"}},
                               {"span_term": {"text": "fox"}}],
                   "slop": 0, "in_order": True}},
], ids=["match_or", "match_and", "match_phrase", "match_phrase_prefix",
        "intervals", "intervals_source", "span_near"])
def test_deletes_and_updates_invisible_on_every_index_path(updated_engine, query):
    es, old_id, new_id = updated_engine
    hits = es.search("pages", {"query": query, "size": 10})["hits"].collect()
    urls = [r["url"] for r in hits]
    assert sorted(urls) == ["keep", "upd"]  # no deleted doc, no duplicate
    assert old_id != new_id
    assert {r["doc_id"] for r in hits if r["url"] == "upd"} == {new_id}


def test_interrupted_bulk_stays_searchable(spark, tmp_path, monkeypatch):
    """A bulk that stops after its segments commit (here: its tombstone
    append raises) leaves its docs searchable: df is the sum of the live
    segments' own postings, so no later write has to fold it in. The
    updated url's old version stays live too — the segment commit and the
    tombstone append are not one commit yet."""
    from elasticsearch_spark.api import Engine
    from elasticsearch_spark.operators import ops
    from elasticsearch_spark.sources.pages import pages_df

    es = Engine(spark, root=str(tmp_path))
    es.create_index("ix", num_partitions=2)
    es.bulk("ix", pages_df(spark, 60, n_parts=2).drop("html"))
    live_url = es._docs_view("ix").orderBy("url").first()["url"]

    def docs(rows):
        return spark.createDataFrame(rows, "url string, text string, lang string") \
            .withColumn("warc_ts", F.lit(TS).cast("timestamp"))

    append = ops.append_tombstone_batch

    def crash_once(*args):
        monkeypatch.setattr(ops, "append_tombstone_batch", append)
        raise OSError("injected crash before the tombstone append")

    monkeypatch.setattr(ops, "append_tombstone_batch", crash_once)
    with pytest.raises(OSError, match="injected crash"):
        es.bulk("ix", docs([(live_url, "zqxjkw updated body", "en"),
                            ("https://new.example/zq", "zqxjkw fresh body", "en")]))
    es.bulk("ix", docs([("https://other.example/x", "unrelated words only", "en")]))

    assert {t: df for t, (_, df) in es._reader("ix").term_weights(["zqxjkw"]).items()} == \
        {"zqxjkw": 2}
    query = {"match": {"text": "zqxjkw"}}
    hits = {r["url"] for r in es.search("ix", {"query": query})["hits"].collect()}
    assert hits == {live_url, "https://new.example/zq"}
    # count keys the match set by url, so it also counts the old version of
    # live_url, live because the crash came before its tombstone (ROADMAP)
    versions = es._docs_view("ix").where(F.col("url").isin(sorted(hits))).count()
    assert es.count("ix", query) == versions >= 2
    assert_term_stats_are_segment_sums(spark, es._dir("ix"))


def test_no_term_stats_table_on_disk(spark, tmp_path):
    """Build, bulk, delete and forcemerge write segments, manifests,
    tombstones and the index meta — no second copy of the term statistics."""
    import os

    from elasticsearch_spark.api import Engine

    es = Engine(spark, root=str(tmp_path))
    es.create_index("ix", num_partitions=2)
    d = es._dir("ix")
    writes = [
        lambda: es.bulk("ix", spark.createDataFrame(
            [(f"u{i}", f"words {i} here", "en") for i in range(6)],
            "url string, text string, lang string")),
        lambda: es.bulk("ix", spark.createDataFrame(
            [("u1", "new words", "en"), ("u9", "more words", "en")],
            "url string, text string, lang string")),
        lambda: es.delete("ix", ["u2"]),
        lambda: es.forcemerge("ix", segments_per_tier=1 << 20),
    ]
    for write in writes:
        write()
        assert "stats" not in os.listdir(d)
        assert_term_stats_are_segment_sums(spark, d)

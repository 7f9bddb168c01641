"""Collection statistics come from the open segments: ``index_meta.json``
holds the settings only, no write path rewrites it, and N / sum_dl are
sums over the committed segments (``IndexReader``). Plus the search body
sections that must reach every index: aggs and track_total_hits over an
alias of several indices, the ``aggregations`` synonym, and ``explain``
of a doc's live version."""

from __future__ import annotations

import sys
import threading

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.api import Engine
from elasticsearch_spark.operators import ops, postings
from elasticsearch_spark.operators.topk import IndexReader, search_topk
from elasticsearch_spark.sources import index_store as store

SPARK = {"query": {"match": {"text": "spark"}}, "size": 10}
SETTINGS = {"max_result_window": 50, "similarity": {"default": {"k1": 2.0}}}
DOCS_1 = [("u1", "spark is a fast engine", "en"), ("u2", "spark spark streaming", "en"),
          ("u3", "a slow engine", "de")]
DOCS_2 = [("u4", "spark sql over parquet files today", "de"), ("u5", "the dog sleeps", "en")]


def _frame(spark, rows):
    return spark.createDataFrame(rows, "url string, text string, lang string") \
        .withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp"))


def _scores(es, index, body=SPARK):
    return [(r.url, r.score) for r in es.search(index, body)["hits"].collect()]


def _assert_settings_kept(es, index):
    s = es.get_settings(index)[index]["settings"]["index"]
    assert s["max_result_window"] == 50
    assert s["similarity"]["default"]["k1"] == 2.0
    with pytest.raises(ValueError, match=r"equal to: \[50\]"):
        es.search(index, {**SPARK, "size": 51})


def test_settings_put_before_the_first_bulk_survive_it(spark, tmp_path):
    es = Engine(spark, root=str(tmp_path))
    es.create_index("ix", num_partitions=2)
    es.put_settings("ix", SETTINGS)
    es.bulk("ix", _frame(spark, DOCS_1))
    _assert_settings_kept(es, "ix")


@pytest.mark.parametrize("first", [True, False], ids=["first_bulk", "later_bulk"])
def test_settings_put_during_a_bulk_survive_it(spark, tmp_path, monkeypatch, first):
    """A put_settings that lands while a bulk runs — after the bulk read
    the meta, before it returns — is kept: the bulk writes no meta."""
    es = Engine(spark, root=str(tmp_path))
    es.create_index("ix", num_partitions=2)
    if not first:
        es.bulk("ix", _frame(spark, DOCS_1))
    module = postings if first else ops
    builder = module.segment_builder

    def racing_builder(*args, **kw):
        es.put_settings("ix", SETTINGS)
        return builder(*args, **kw)

    monkeypatch.setattr(module, "segment_builder", racing_builder)
    es.bulk("ix", _frame(spark, DOCS_2 if not first else DOCS_1))
    monkeypatch.undo()
    _assert_settings_kept(es, "ix")


def test_restored_pre_bulk_meta_keeps_scores(spark, tmp_path):
    """Writing back the meta as it was before a bulk — what a crash
    between the bulk's segment commit and a meta rewrite would leave —
    changes no score and no doc count: the statistics are the segments'."""
    es = Engine(spark, root=str(tmp_path))
    for ix in ("two_bulks", "one_bulk"):
        es.create_index(ix, num_partitions=2)
    es.bulk("two_bulks", _frame(spark, DOCS_1))
    meta = store.meta_path(es._dir("two_bulks"))
    with open(meta, "rb") as f:
        before = f.read()
    es.bulk("two_bulks", _frame(spark, DOCS_2))
    with open(meta, "wb") as f:
        f.write(before)
    es.bulk("one_bulk", _frame(spark, DOCS_1 + DOCS_2))

    fresh = Engine(spark, root=str(tmp_path))
    want = _scores(fresh, "one_bulk")
    assert [u for u, _ in want] == ["u2", "u1", "u4"]
    assert _scores(fresh, "two_bulks") == want
    assert fresh.stats("two_bulks")["docs"] == {"count": 5, "deleted": 0}
    reader = IndexReader(spark, es._dir("two_bulks"))
    assert (reader.doc_count, reader.sum_dl) == (5, 5 + 3 + 3 + 6 + 3)


def test_pin_keeps_its_parents_statistics(spark, tmp_path):
    """A pin over part of a commit scores with the whole commit's N and
    avgdl, the statistics its parent reader had when it was pinned."""
    es = Engine(spark, root=str(tmp_path))
    es.create_index("ix", num_partitions=2)
    es.bulk("ix", _frame(spark, DOCS_1))
    es.bulk("ix", _frame(spark, DOCS_2))
    reader = es._reader("ix")
    part = reader.pin(reader.segs[:1])
    assert (part.doc_count, part.sum_dl, part.avgdl) == \
        (reader.doc_count, reader.sum_dl, reader.avgdl) == (5, 20, 4.0)


def test_threads_share_one_readers_statistics(spark, tmp_path):
    """Threads that all ask a fresh reader for its statistics at once get
    the same N and sum_dl, and the same scores."""
    es = Engine(spark, root=str(tmp_path))
    es.create_index("ix", num_partitions=2)
    es.bulk("ix", _frame(spark, DOCS_1 + DOCS_2))
    want = _scores(es, "ix")
    reader = IndexReader(spark, es._dir("ix"))
    got, errors = [], []

    def run():
        try:
            hits = search_topk(spark, reader.index_dir, ["spark"], reader=reader)
            got.append(((reader.doc_count, reader.sum_dl),
                        [(r.url, r.score) for r in hits.collect()]))
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(120)
    finally:
        sys.setswitchinterval(old)
    assert not errors and not any(t.is_alive() for t in threads)
    assert got == [((5, 20), want)] * 8


@pytest.fixture
def two_indices(spark, tmp_path):
    es = Engine(spark, root=str(tmp_path))
    for ix, rows in (("a", DOCS_1), ("b", DOCS_1[:1] + DOCS_2)):
        es.create_index(ix, num_partitions=1)
        es.bulk(ix, _frame(spark, rows))
    es.update_aliases([{"add": {"alias": "both", "index": ix}} for ix in ("a", "b")])
    return es


def _buckets(frame):
    return sorted((r.key, r.doc_count) for r in frame.collect())


def test_alias_search_counts_aggs_and_total_over_every_index(two_indices):
    es = two_indices
    body = {**SPARK, "aggs": {"langs": {"terms": {"field": "lang"}},
                              "per_index": {"terms": {"field": "_index"}}},
            "track_total_hits": True}
    out = es.search("both", body)
    assert out["total"] == {"value": 4, "relation": "eq"}
    assert _buckets(out["aggregations"]["langs"]) == [("de", 1), ("en", 3)]
    assert _buckets(out["aggregations"]["per_index"]) == [("a", 2), ("b", 2)]
    singles = [es.search(ix, {**SPARK, "track_total_hits": True}) for ix in ("a", "b")]
    assert sum(o["total"]["value"] for o in singles) == 4
    capped = es.search("both", {**body, "track_total_hits": 3})
    assert capped["total"] == {"value": 3, "relation": "gte"}


def test_aggregations_is_a_synonym_of_aggs(two_indices):
    es = two_indices
    aggs = {"langs": {"terms": {"field": "lang"}}}
    for ix in ("a", "both"):
        want = _buckets(es.search(ix, {**SPARK, "aggs": aggs})["aggregations"]["langs"])
        got = es.search(ix, {**SPARK, "aggregations": aggs})["aggregations"]["langs"]
        assert _buckets(got) == want and want
    with pytest.raises(ValueError, match="two aggregation definitions"):
        es.search("a", {**SPARK, "aggs": aggs, "aggregations": aggs})


def test_explain_reads_the_live_version(spark, tmp_path):
    """After an update, explain scores the doc's live version, not the
    superseded one still stored in an older segment."""
    es = Engine(spark, root=str(tmp_path))
    es.create_index("ix", num_partitions=1)
    es.bulk("ix", _frame(spark, [("u1", "spark " + "word " * 300, "en"),
                                 ("u2", "other text", "en")]))
    es.bulk("ix", _frame(spark, [("u1", "spark spark spark", "en")]))
    (row,) = es.explain("ix", ["spark"], "u1").collect()
    assert (row.tf, row.ql) == (3, 3.0)
    (hit,) = es.search("ix", SPARK)["hits"].collect()
    assert hit.url == "u1" and row.contribution == pytest.approx(hit.score, rel=1e-12)

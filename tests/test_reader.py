"""The Engine-owned IndexReader: every index search is one Spark job, term
stats and prefix expansions are driver-side reads, and a reader never
outlives the commit it was opened on."""

from __future__ import annotations

import glob
import os
import shutil
import sys
import threading
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from elasticsearch_spark.api import Engine
from elasticsearch_spark.operators import topk
from elasticsearch_spark.operators.topk import IndexReader, _prefix_end
from elasticsearch_spark.sources import index_store as store
from elasticsearch_spark.sources.pages import pages_df

ROOT = "/tmp/es_spark_reader_test"
FULL_MERGE = {"segments_per_tier": 1 << 20}

MATCH = {"query": {"match": {"text": "the of"}}, "size": 10}
SEARCHES = {
    "match_or": ("pages", MATCH, None),
    "match_and": ("pages", {"query": {"match": {"text": {
        "query": "the of", "operator": "and"}}}, "size": 10}, None),
    "match_phrase": ("pages", {"query": {"match_phrase": {"text": "of the"}}}, None),
    "match_phrase_prefix": ("pages", {"query": {"match_phrase_prefix": {
        "text": "of th"}}}, None),
    "intervals": ("pages", {"query": {"intervals": {"text": {"match": {
        "query": "of the", "ordered": True}}}}}, None),
    "span_near": ("pages", {"query": {"span_near": {
        "clauses": [{"span_term": {"text": "of"}}, {"span_term": {"text": "the"}}],
        "slop": 0, "in_order": True}}}, None),
    "routed_match": ("pages", MATCH, "u1"),
    "match_from": ("pages", {**MATCH, "from": 3}, None),
    "sorted_scan": ("sorted", {"query": {"match_all": {}},
                               "sort": [{"warc_ts": "desc"}], "size": 5}, None),
}


@pytest.fixture(scope="module")
def es(spark):
    shutil.rmtree(ROOT, ignore_errors=True)
    eng = Engine(spark, root=ROOT)
    eng.create_index("pages", num_partitions=4, num_shards=2)
    eng.bulk("pages", pages_df(spark, 200, n_parts=2))
    eng.create_index("sorted", num_partitions=2, index_sort=("warc_ts", "desc"))
    eng.bulk("sorted", pages_df(spark, 60, n_parts=2))
    return eng


@pytest.mark.parametrize("name", list(SEARCHES))
def test_one_spark_job_per_search(es, spark, name):
    """Engine.search + collect on a warm reader runs exactly one Spark job:
    the segment-task wave, whose collect is the coordinator merge (no
    term-stats job, no schema-inference job, no fetch join, no routing
    job)."""
    index, body, routing = SEARCHES[name]
    es.search(index, body, routing=routing)["hits"].collect()  # warm the reader
    sc = spark.sparkContext
    group = f"jobs-per-search-{name}"
    sc.setJobGroup(group, group)
    try:
        rows = es.search(index, body, routing=routing)["hits"].collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


def _docs(spark, rows):
    return spark.createDataFrame(rows, "url string, text string, lang string") \
        .withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp"))


def _ranked(es, body):
    return [(r["url"], r["score"]) for r in es.search("ix", body)["hits"].collect()]


BODY = {"query": {"match": {"text": "marker common"}}, "size": 10}


@pytest.mark.parametrize("writer", ["same_engine", "second_engine"])
def test_reader_follows_writes(spark, tmp_path, writer):
    """After bulk, delete and forcemerge — through the searching Engine or
    a second Engine on the same root — a warm Engine returns exactly what a
    fresh Engine returns, rank for rank."""
    root = str(tmp_path)
    es = Engine(spark, root=root)
    es.create_index("ix", num_partitions=2)
    es.bulk("ix", _docs(spark, [(f"u{i}", f"common words {i} here", "en") for i in range(6)]))
    before = _ranked(es, BODY)  # warms the reader; "marker" is cached as zero-df
    assert before and all(u != "new" for u, _ in before)
    w = es if writer == "same_engine" else Engine(spark, root=root)

    w.bulk("ix", _docs(spark, [("new", "marker common marker", "en")]))
    got = _ranked(es, BODY)
    assert got == _ranked(Engine(spark, root=root), BODY)
    assert got[0][0] == "new"
    # the new doc moves doc_count and df(common): old docs score differently
    assert dict(got)["u0"] != dict(before)["u0"]

    w.delete("ix", ["new"])
    got = _ranked(es, BODY)
    assert got == _ranked(Engine(spark, root=root), BODY)
    assert "new" not in dict(got)

    n_segs = len(store.list_segs(es._dir("ix")))
    assert w.forcemerge("ix", **FULL_MERGE)["merges"] >= 1
    assert len(store.list_segs(es._dir("ix"))) < n_segs
    got = _ranked(es, BODY)
    assert got == _ranked(Engine(spark, root=root), BODY)
    assert "new" not in dict(got)


def test_concurrent_searches_after_bulk(spark, tmp_path):
    """Two threads searching right after a bulk share the reopened reader;
    each gets the fresh engine's hits."""
    root = str(tmp_path)
    es = Engine(spark, root=root)
    es.create_index("ix", num_partitions=2)
    es.bulk("ix", _docs(spark, [(f"u{i}", f"common words {i} here", "en") for i in range(6)]))
    _ranked(es, BODY)
    es.bulk("ix", _docs(spark, [("new", "marker common marker", "en")]))
    out: list = [None, None]

    def run(i):
        out[i] = _ranked(es, BODY)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
        assert not t.is_alive()
    want = _ranked(Engine(spark, root=root), BODY)
    assert want[0][0] == "new"
    assert out == [want, want]


def test_reader_stats_match_the_term_dictionary(spark, tmp_path):
    """Driver-side lookups equal the stats table read through Spark:
    term_weights' df and prefix_terms' capped term-order expansion, merged
    across the table's term-sorted files."""
    es = Engine(spark, root=str(tmp_path))
    es.create_index("ix", num_partitions=2)
    es.bulk("ix", pages_df(spark, 120, n_parts=2))
    path = store.term_stats_path(es._dir("ix"))
    # re-lay the table out as the stats writers do at scale: several files,
    # each term-sorted (a hash split on term), in small row groups
    parts = glob.glob(os.path.join(path, "part-*.parquet"))
    tab = pq.read_table(parts)
    split = np.array([zlib.crc32(t.encode()) % 3 for t in tab["term"].to_pylist()])
    for p in parts:
        os.remove(p)
    for i in range(3):
        part = tab.filter(pa.array(split == i)).sort_by("term")
        pq.write_table(part, os.path.join(path, f"part-{i:05d}.parquet"), row_group_size=16)
    table = {r["term"]: r["df"] for r in spark.read.parquet(path).collect()}
    terms = sorted(table)
    reader = IndexReader(spark, es._dir("ix"))
    probe = terms[::7] + ["no-such-term"]
    assert {t: df for t, (_, df) in reader.term_weights(probe).items()} == \
        {t: table[t] for t in probe if t in table}
    for p in ["", "t", "th", "of", "zz", terms[len(terms) // 2][:3]]:
        for cap in (1, 5, 1000, 100000):
            assert reader.prefix_terms(p, cap) == [t for t in terms if t.startswith(p)][:cap]


def test_term_cache_bound_keeps_cached_terms(es, spark, monkeypatch):
    """When a long-lived reader's term cache passes its bound it is emptied
    and refilled: a lookup mixing cached and new terms still returns every
    term's weight."""
    terms = sorted(r["term"] for r in spark.read.parquet(
        store.term_stats_path(es._dir("pages"))).limit(6).collect())
    want = IndexReader(spark, es._dir("pages")).term_weights(terms)
    monkeypatch.setattr(topk, "_MAX_CACHED_TERMS", 2)
    reader = IndexReader(spark, es._dir("pages"))
    assert reader.term_weights(terms[:3]) == {t: want[t] for t in terms[:3]}
    mixed = [terms[0], terms[3], "no-such-term", terms[4]]
    assert reader.term_weights(mixed) == {t: want[t] for t in mixed if t in want}
    assert len(reader._df) <= len(mixed)


def test_missing_stats_table_is_an_error(es, spark):
    """A reader opened on a committed stats table waits out a stats swap
    (the table is briefly parked at ``.old``) and raises when the table stays
    gone — it never answers with zero-df terms, i.e. silently empty hits."""
    path = store.term_stats_path(es._dir("pages"))
    terms = sorted(r["term"] for r in spark.read.parquet(path).limit(4).collect())
    want = IndexReader(spark, es._dir("pages")).term_weights(terms)
    reader = IndexReader(spark, es._dir("pages"))
    reader.term_weights(terms[:1])  # warm
    os.replace(path, path + ".old")
    try:
        restore = threading.Timer(0.1, os.replace, (path + ".old", path))
        restore.start()
        assert reader.term_weights(terms) == want  # waited out the swap
        restore.join()
        os.replace(path, path + ".parked")
        with pytest.raises(FileNotFoundError, match="term stats"):
            reader.term_weights(["no-such-term-either"])
        with pytest.raises(FileNotFoundError, match="term stats"):
            reader.prefix_terms("t", 5)
    finally:
        for parked in (path + ".old", path + ".parked"):
            if os.path.exists(parked):
                os.replace(parked, path)
    assert IndexReader(spark, es._dir("pages")).term_weights(terms) == want


def test_reader_shared_by_threads(es, spark):
    """More threads than cores reopen and query the Engine's reader with a
    tiny switch interval: every thread gets one shared reader and the
    single-threaded term stats (no lost or torn cache fill)."""
    terms = [r["term"] for r in spark.read.parquet(
        store.term_stats_path(es._dir("pages"))).limit(400).collect()] + ["no-such-term"]
    want = IndexReader(spark, es._dir("pages")).term_weights(terms)
    es._readers.clear()
    readers, results, errors = [], [], []

    def run(i):
        try:
            for j in range(20):
                r = es._reader("pages")
                chunk = terms[(i * 37 + j * 11) % len(terms):][:60]
                got = r.term_weights(chunk)
                results.append(got == {t: want[t] for t in chunk if t in want})
                readers.append(r)
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=run, args=(i,)) for i in range(16)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert len(results) == 16 * 20 and all(results)
    assert len({id(r) for r in readers}) == 1


@settings(max_examples=300, deadline=None)
@given(st.text(max_size=4), st.text(max_size=6))
def test_prefix_range_is_exact(prefix, s):
    """prefix ≤ s < _prefix_end(prefix) holds exactly for the strings that
    start with prefix (code-point order = UTF-8 byte order)."""
    end = _prefix_end(prefix)
    assert (prefix <= s and (end is None or s < end)) == s.startswith(prefix)
    if end is not None:
        assert (prefix <= prefix + s < end)
        end.encode("utf-8")  # a valid bound for parquet filters

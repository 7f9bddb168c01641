"""The Engine-owned IndexReader: an index search runs no Spark job, term
stats and prefix expansions are lookups in the open segments' block
tables, each segment is opened once per reader, and a reader never
outlives the commit it was opened on."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
import uuid

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from elasticsearch_spark.api import Engine
from elasticsearch_spark.operators import topk
from elasticsearch_spark.operators.ops import read_tombstones
from elasticsearch_spark.operators.phrase import highlight
from elasticsearch_spark.operators.topk import IndexReader, _prefix_end, msearch_topk, search_topk
from elasticsearch_spark.sources import index_store as store
from elasticsearch_spark.sources.pages import pages_df
from tests.conftest import assert_term_stats_are_segment_sums

ROOT = "/tmp/es_spark_reader_test"
FULL_MERGE = {"segments_per_tier": 1 << 20}

MATCH = {"query": {"match": {"text": "the of"}}, "size": 10}
MATCH_SCHEMA = [("doc_id", "bigint"), ("url", "string"), ("lang", "string"),
                ("warc_ts", "timestamp_ntz"), ("score", "double"), ("n_terms_matched", "int")]
POSITIONAL_SCHEMA = [("doc_id", "bigint"), ("url", "string"), ("score", "double")]
SORTED_SCHEMA = [("doc_id", "bigint"), ("url", "string"), ("warc_ts", "timestamp_ntz"),
                 ("lang", "string")]
OOV = "zzqxv"
# name -> (index, body, routing, hits schema, whether the search has hits)
SEARCHES = {
    "match_or": ("pages", MATCH, None, MATCH_SCHEMA, True),
    "match_and": ("pages", {"query": {"match": {"text": {
        "query": "the of", "operator": "and"}}}, "size": 10}, None, MATCH_SCHEMA, True),
    "match_and_oov": ("pages", {"query": {"match": {"text": {
        "query": f"the {OOV}", "operator": "and"}}}}, None, MATCH_SCHEMA, False),
    "match_only_oov": ("pages", {"query": {"match": {"text": f"{OOV} {OOV}x"}}},
                       None, MATCH_SCHEMA, False),
    "match_phrase": ("pages", {"query": {"match_phrase": {"text": "of the"}}}, None,
                     POSITIONAL_SCHEMA, True),
    "match_phrase_absent": ("pages", {"query": {"match_phrase": {"text": f"of {OOV}"}}},
                            None, POSITIONAL_SCHEMA, False),
    "match_phrase_prefix": ("pages", {"query": {"match_phrase_prefix": {
        "text": "of th"}}}, None, POSITIONAL_SCHEMA, True),
    "intervals": ("pages", {"query": {"intervals": {"text": {"match": {
        "query": "of the", "ordered": True}}}}}, None, POSITIONAL_SCHEMA, True),
    "span_near": ("pages", {"query": {"span_near": {
        "clauses": [{"span_term": {"text": "of"}}, {"span_term": {"text": "the"}}],
        "slop": 0, "in_order": True}}}, None, POSITIONAL_SCHEMA, True),
    "routed_match": ("pages", MATCH, "u1", MATCH_SCHEMA, True),
    "match_from": ("pages", {**MATCH, "from": 3}, None, MATCH_SCHEMA, True),
    "routed_match_from": ("pages", {**MATCH, "from": 2}, "u1", MATCH_SCHEMA, True),
    "sorted_scan": ("sorted", {"query": {"match_all": {}},
                               "sort": [{"warc_ts": "desc"}], "size": 5}, None,
                    SORTED_SCHEMA, True),
}
MSEARCH = {"q0": {"terms": ["the", "of"]}, "q1": {"terms": ["of", "and"], "operator": "and"},
           "q2": {"terms": [OOV]}}


@pytest.fixture(scope="module")
def es(spark):
    shutil.rmtree(ROOT, ignore_errors=True)
    eng = Engine(spark, root=ROOT)
    eng.create_index("pages", num_partitions=4, num_shards=2)
    eng.bulk("pages", pages_df(spark, 200, n_parts=2))
    eng.create_index("sorted", num_partitions=2, index_sort=("warc_ts", "desc"))
    eng.bulk("sorted", pages_df(spark, 60, n_parts=2))
    return eng


def _jobs(spark, run):
    """(run(), the number of Spark jobs it started)."""
    sc = spark.sparkContext
    group = f"jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _collected(frame):
    """(the frame, its collected rows)."""
    return frame, frame.collect()


def _fields(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema.fields]


@pytest.mark.parametrize("name", list(SEARCHES))
def test_zero_spark_jobs_per_search(es, spark, name):
    """Engine.search + collect on a warm reader runs no Spark job at all —
    query phase, merge and fetch run on the driver and the hits are a local
    relation — also when nothing matches. The hits keep their exact schema
    and equal a fresh Engine's."""
    index, body, routing, schema, has_hits = SEARCHES[name]
    es.search(index, body, routing=routing)["hits"].collect()  # warm the reader
    (hits, rows), n_jobs = _jobs(
        spark, lambda: _collected(es.search(index, body, routing=routing)["hits"]))
    assert n_jobs == 0
    assert _fields(hits) == schema
    assert bool(rows) == has_hits
    assert rows == Engine(spark, root=ROOT).search(index, body, routing=routing)["hits"].collect()


def test_zero_spark_jobs_per_msearch(es, spark):
    """msearch_topk runs no Spark job; per-qid top-k with the fetch fields,
    equal to a fresh reader's answer and to one search_topk per query."""
    reader = es._reader("pages")

    def run():
        return _collected(msearch_topk(spark, reader.index_dir, MSEARCH, reader=reader, fetch=True))

    run()  # warm the term cache
    (hits, rows), n_jobs = _jobs(spark, run)
    assert n_jobs == 0
    assert _fields(hits) == MATCH_SCHEMA[:4] + [("qid", "string")] + MATCH_SCHEMA[4:]
    assert rows == msearch_topk(spark, reader.index_dir, MSEARCH, fetch=True).collect()
    assert {r["qid"] for r in rows} == {"q0", "q1"}
    for qid, q in MSEARCH.items():
        one = search_topk(spark, reader.index_dir, q["terms"], reader=reader,
                          operator=q.get("operator", "or")).collect()
        assert [r.asDict() for r in one] == [
            {k: v for k, v in r.asDict().items() if k != "qid"} for r in rows if r["qid"] == qid]


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
    """Driver-side lookups over several segments equal the postings read
    through Spark: term_weights' df summed over the segments, and
    prefix_terms' capped term-order expansion merged from the segments'
    overlapping runs."""
    es = Engine(spark, root=str(tmp_path))
    es.create_index("ix", num_partitions=3)
    es.bulk("ix", pages_df(spark, 120, n_parts=2).drop("html"))
    es.bulk("ix", pages_df(spark, 160, n_parts=2).drop("html"))  # 120 updates, 40 new docs
    d = es._dir("ix")
    assert len(store.list_segs(d)) >= 4
    assert_term_stats_are_segment_sums(spark, d)
    table = {r["term"]: r["df"] for r in spark.read.parquet(*store.postings_glob(d))
             .groupBy("term").agg(F.sum("n").alias("df")).collect()}
    terms = sorted(table)
    reader = IndexReader(spark, d)
    probe = terms[::7] + ["no-such-term"]
    assert {t: df for t, (_, df) in reader.term_weights(probe).items()} == \
        {t: table[t] for t in probe if t in table}
    for p in ["", "t", "th", "of", "zz", terms[len(terms) // 2][:3]]:
        for cap in (0, 1, 5, 1000, 100000):
            assert reader.prefix_terms(p, cap) == [t for t in terms if t.startswith(p)][:cap]


def test_reader_shared_by_threads(es, spark):
    """More threads than cores reopen and query the Engine's reader with a
    tiny switch interval: every thread gets one shared reader and the
    single-threaded term stats (no lost or torn cache fill)."""
    terms = IndexReader(spark, es._dir("pages")).term_stats()["term"].to_pylist()[:400] \
        + ["no-such-term"]
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


@pytest.mark.parametrize("name", ["match_or", "match_phrase", "span_near", "msearch"])
def test_failing_segment_fails_the_search(es, spark, monkeypatch, name):
    """One segment whose postings read raises fails the whole search with
    that error — never a partial page from the other segments — and the
    shared query-phase pool keeps serving afterwards."""
    reader = es._reader("pages")
    bad = store.seg_dir(reader.index_dir, reader.segs[len(reader.segs) // 2])
    postings = topk.Segment.postings

    def broken(self, terms, positions=False):
        if self.dir == bad:
            raise OSError(f"injected read failure in {bad}")
        return postings(self, terms, positions)

    if name == "msearch":
        def search():
            return msearch_topk(spark, reader.index_dir, MSEARCH, reader=reader).collect()
    else:
        index, body, routing, _, _ = SEARCHES[name]

        def search():
            return es.search(index, body, routing=routing)["hits"].collect()

    want = search()
    monkeypatch.setattr(topk.Segment, "postings", broken)
    with pytest.raises(OSError, match="injected read failure"):
        search()
    monkeypatch.setattr(topk.Segment, "postings", postings)
    assert search() == want


def test_highlight_and_fields_ride_the_fetch(es, spark):
    """highlight and fields / docvalue_fields on an index search read the
    stored text and fields from the one post-merge fetch: no Spark job, and
    the values a join of the hits with the live docs view gives."""
    body = {**MATCH, "highlight": {"fields": {"text": {"fragment_size": 40}}},
            "fields": [{"field": "warc_ts", "format": "yyyy-MM-dd"}, "lang", "doc_id",
                       "no_such_field"],
            "docvalue_fields": ["text"]}
    es.search("pages", body)["hits"].collect()
    (hits, rows), n_jobs = _jobs(spark, lambda: _collected(es.search("pages", body)["hits"]))
    assert n_jobs == 0
    assert rows and all(r["highlight"] for r in rows)
    plain = es.search("pages", MATCH)["hits"].collect()
    assert [(r["url"], r["score"]) for r in rows] == [(r["url"], r["score"]) for r in plain]
    view = es._docs_view("pages").select("url", "text")
    want = highlight(
        es.search("pages", MATCH)["hits"].join(view, "url"), ["the", "of"], fragment_size=40,
    ).select("url", "text", "highlight", F.date_format("warc_ts", "yyyy-MM-dd").alias("day"),
             "lang")
    want = {r["url"]: r for r in want.collect()}
    for r in rows:
        w = want[r["url"]]
        assert (r["highlight"], r["text"], r["fields.text"], r["fields.warc_ts"],
                r["fields.lang"]) == (w["highlight"], w["text"], w["text"], w["day"], w["lang"])
        assert r["fields.doc_id"] == str(r["doc_id"])
    assert hits.columns.count("doc_id") == 1
    assert "fields.no_such_field" not in hits.columns

    phrase = {"query": {"match_phrase": {"text": "of the"}}, "fields": ["lang"]}
    es.search("pages", phrase)["hits"].collect()
    (hits, rows), n_jobs = _jobs(spark, lambda: _collected(es.search("pages", phrase)["hits"]))
    assert n_jobs == 0
    langs = {r["url"]: r["lang"] for r in es._docs_view("pages").select("url", "lang").collect()}
    assert rows and all(r["lang"] == r["fields.lang"] == langs[r["url"]] for r in rows)


def test_result_window_reads_the_open_reader(es, monkeypatch):
    """The from + size window check reads index.max_result_window from the
    Engine's open reader: a warm search loads no index meta from disk."""
    es.search("pages", MATCH)
    loads = []
    load = store.IndexMeta.load.__func__
    monkeypatch.setattr(store.IndexMeta, "load",
                        classmethod(lambda cls, d: loads.append(d) or load(cls, d)))
    es.search("pages", MATCH)["hits"].collect()
    with pytest.raises(ValueError, match=r"equal to: \[10000\]"):
        es.search("pages", {**MATCH, "from": 10_000})
    assert loads == []
    with pytest.raises(ValueError, match="index_not_found_exception"):
        es.search("no_such_index", MATCH)


def test_query_phase_tasks_may_not_use_the_pool(es):
    """A per-segment function that starts a query phase of its own is
    refused loudly instead of deadlocking the shared pool."""
    reader = es._reader("pages")

    def nested(seg, deleted):
        return topk.query_phase(reader, reader.segs[:1], lambda s, d: None)

    with pytest.raises(RuntimeError, match="may not wait on the query-phase pool"):
        topk.query_phase(reader, reader.segs, nested)


WORDS = ["", "a", "ab", "abc", "abcd", "acb", "a.c", "a*c", "a?c", "a\\c", "a+", "a_c",
         "[ab]", "ba", "bac", "cat", "cut", "xabc", "é", "aé", "éa", "東", "東京", "京東"]


def test_expansion_rules_equal_spark(es, spark, monkeypatch):
    """The driver-side wildcard, regexp and fuzzy rewrites keep the rules of
    the Spark scans they replace (``rlike`` on the anchored pattern,
    ``levenshtein`` plus the ``prefix_length`` head), in term order, on a
    mixed-script vocabulary with regex metacharacters in it."""
    vocab = np.array(sorted(WORDS), dtype=object)
    ones = np.ones(len(vocab), dtype=np.int64)
    reader = IndexReader(spark, es._dir("pages"))
    seg = object.__new__(topk.Segment)  # two segments whose block tables hold vocab
    seg.blocks = {"term": vocab, "n": ones, "sum_tf": ones}
    monkeypatch.setattr(reader, "_segments", lambda: [seg] * 2)
    words = spark.createDataFrame([(w,) for w in WORDS], "t string")

    def spark_rule(specs, schema, cond):
        rows = words.crossJoin(spark.createDataFrame(specs, schema)).where(cond) \
            .orderBy("t").collect()
        return {s: [r["t"] for r in rows if r["spec"] == s] for s in {x[0] for x in specs}}

    wildcards = ["a*", "a?c", "*c", "a\\*c", "a\\?c", "[ab]", "a+", "a.c", "*", "?",
                 "東*", "?é", "a\\\\c", "a_c"]
    want = spark_rule([(p, f"^{topk._wildcard_regex(p)}$") for p in wildcards],
                      "spec string, rx string", F.expr("t rlike rx"))
    for p in wildcards:
        assert reader.expand_terms("wildcard", p, 100) == want[p], p
    regexps = ["a.c", "ab|ba", "[a-c]+", "東.*", ".", "a\\.c"]
    want = spark_rule([(p, f"^(?:{p})$") for p in regexps], "spec string, rx string",
                      F.expr("t rlike rx"))
    for p in regexps:
        assert reader.expand_terms("regexp", p, 100) == want[p], p
    fuzzy = [(v, k, n) for v in ["abc", "cat", "東京", "aé", ""] for k in (0, 1, 2) for n in (0, 1)]
    want = spark_rule([(f"{v}|{k}|{n}", v, k, v[:n]) for v, k, n in fuzzy],
                      "spec string, v string, k int, head string",
                      (F.levenshtein("t", "v") <= F.col("k")) & F.col("t").startswith(F.col("head")))
    for v, k, n in fuzzy:
        assert reader.expand_terms("fuzzy", v, 100, k, n) == want[f"{v}|{k}|{n}"], (v, k, n)
    # the cap counts distinct terms across segments, in term order
    assert reader.expand_terms("wildcard", "a*", 2) == ["a", "a*c"]


# ---- the open segments: opened once per reader, shared by every search ----


def _count_opens(monkeypatch):
    """The segment ids ``topk.Segment`` opens from now on, in order."""
    opened = []
    init = topk.Segment.__init__

    def counting(self, index_dir, seg):
        opened.append(int(seg))
        init(self, index_dir, seg)

    monkeypatch.setattr(topk.Segment, "__init__", counting)
    return opened


def test_threads_cold_start_one_reader(es, spark, monkeypatch):
    """8 threads searching a cold reader at once open each segment once,
    and every thread gets the serial hits."""
    d = es._dir("pages")
    queries = [["the", "of"], ["and", "w00042"], ["of", OOV]]
    serial = [search_topk(spark, d, q, k=20).collect() for q in queries]
    opened = _count_opens(monkeypatch)
    reader = IndexReader(spark, d)
    start = threading.Barrier(8)
    out, errors = {}, []

    def run(i):
        try:
            start.wait()
            out[i] = [search_topk(spark, d, q, k=20, reader=reader).collect() for q in queries]
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads) and not errors
    assert sorted(opened) == sorted(reader.segs)
    assert all(out[i] == serial for i in range(8))


def test_delete_reaches_the_open_reader(spark, tmp_path):
    """A delete is a new commit: ``Engine.search`` and the reader
    ``Engine._reader`` reopens on it mask the deleted doc, while a reader
    opened before the delete keeps its snapshot — its hits and its live
    count."""
    es = Engine(spark, root=str(tmp_path))
    es.create_index("ix", num_partitions=2)
    es.bulk("ix", _docs(spark, [(f"u{i}", f"common words {i}", "en") for i in range(6)]))
    before = es._reader("ix")

    def urls(reader):
        return {r["url"] for r in search_topk(spark, reader.index_dir, ["common"], k=10,
                                              reader=reader).collect()}

    everything = {f"u{i}" for i in range(6)}
    assert urls(before) == everything
    es.delete("ix", ["u3"])
    after = es._reader("ix")
    assert after is not before
    body = {"query": {"match": {"text": "common"}}, "size": 10}
    assert {u for u, _ in _ranked(es, body)} == urls(after) == everything - {"u3"}
    assert after.live_count() == 5
    assert urls(before) == everything
    assert before.live_count() == 6


def test_a_search_sees_one_delete_set(spark, tmp_path, monkeypatch):
    """A delete that lands while a search's query phase runs reaches none
    of that search's segments, and every segment of the next search: a
    search reads the deletes of the commit its reader was opened on."""
    es = Engine(spark, root=str(tmp_path))
    es.create_index("ix", num_partitions=3)
    es.bulk("ix", _docs(spark, [(f"u{i:02d}", f"common words {i}", "en") for i in range(12)]))
    body = {"query": {"match": {"text": "common"}}, "size": 20}
    everything = {f"u{i:02d}" for i in range(12)}
    assert {u for u, _ in _ranked(es, body)} == everything
    reader = es._reader("ix")
    assert len(reader.segs) >= 3
    doomed = {reader.segment(s).fetch(reader.segment(s).doc_ids[:1], ["url"])["url"][0]
              for s in reader.segs}  # one doc of every segment
    postings = topk.Segment.postings
    calls, lock = [], threading.Lock()

    def deleting(self, terms, positions=False):
        with lock:
            first = not calls
            calls.append(self.dir)
        if first:
            es.delete("ix", sorted(doomed))
        return postings(self, terms, positions)

    monkeypatch.setattr(topk.Segment, "postings", deleting)
    during = {u for u, _ in _ranked(es, body)}
    monkeypatch.setattr(topk.Segment, "postings", postings)
    assert len(calls) == len(reader.segs)
    assert during == everything
    assert {u for u, _ in _ranked(es, body)} == everything - doomed


def test_tombstone_batch_commits_by_rename(spark, tmp_path, monkeypatch):
    """A tombstone batch appears under its name only once whole: a search
    that runs while the batch's parquet file is half written neither
    opens it nor masks its doc, and the next search masks it."""
    import pyarrow.parquet as pq

    es = Engine(spark, root=str(tmp_path))
    es.create_index("ix", num_partitions=2)
    es.bulk("ix", _docs(spark, [(f"u{i}", f"common words {i}", "en") for i in range(6)]))
    body = {"query": {"match": {"text": "common"}}, "size": 10}
    everything = {f"u{i}" for i in range(6)}
    assert {u for u, _ in _ranked(es, body)} == everything
    write_table, during = pq.write_table, []

    def half_written(table, where, **kw):
        write_table(table, where, **kw)
        with open(where, "rb") as f:
            data = f.read()
        with open(where, "wb") as f:
            f.write(data[:len(data) // 2])
        during.append({u for u, _ in _ranked(es, body)})
        with open(where, "wb") as f:
            f.write(data)

    monkeypatch.setattr(pq, "write_table", half_written)
    es.delete("ix", ["u3"])
    monkeypatch.setattr(pq, "write_table", write_table)
    assert during == [everything]
    assert {u for u, _ in _ranked(es, body)} == everything - {"u3"}


def test_reopen_keeps_the_surviving_open_segments(spark, tmp_path, monkeypatch):
    """A bulk reopens the reader with the old segments' open state and opens
    only the new segments; a delete reopens it with every segment kept and
    none opened; a forcemerge's reader drops the retired ones."""
    es = Engine(spark, root=str(tmp_path))
    es.create_index("ix", num_partitions=2)
    es.bulk("ix", _docs(spark, [(f"u{i}", f"common words {i}", "en") for i in range(6)]))
    _ranked(es, BODY)
    old = es._reader("ix")
    kept = {s: old.segment(s) for s in old.segs}
    opened = _count_opens(monkeypatch)

    es.bulk("ix", _docs(spark, [("new", "marker common marker", "en")]))
    assert _ranked(es, BODY)[0][0] == "new"
    r = es._reader("ix")
    assert r is not old and set(kept) < set(r.segs)
    assert all(r.segment(s) is seg for s, seg in kept.items())
    assert sorted(opened) == sorted(set(r.segs) - set(kept))

    es.delete("ix", ["u1"])
    assert "u1" not in dict(_ranked(es, BODY))
    deleted = es._reader("ix")
    assert deleted is not r and deleted.segs == r.segs
    assert all(deleted.segment(s) is r.segment(s) for s in r.segs)
    assert sorted(opened) == sorted(set(r.segs) - set(kept))

    es.forcemerge("ix", **FULL_MERGE)
    _ranked(es, BODY)
    merged = es._reader("ix")
    assert not set(merged.segs) & set(r.segs)
    assert {s for s, _ in merged._open} == set(merged.segs)


def test_forcemerge_runs_no_job_past_its_tasks(spark, tmp_path):
    """A forcemerge that expunges deletes runs no more Spark jobs than one
    with nothing to expunge: the tombstones the merge leaves are written
    on the driver from the ids its tasks expunged."""
    jobs = []
    for deleted in ([], ["u01", "u02", "u07"]):
        es = Engine(spark, root=str(tmp_path / str(len(deleted))))
        es.create_index("ix", num_partitions=3)
        es.bulk("ix", _docs(spark, [(f"u{i:02d}", f"common words {i}", "en") for i in range(12)]))
        if deleted:
            es.delete("ix", deleted)
        out, n_jobs = _jobs(spark, lambda: es.forcemerge("ix", **FULL_MERGE))
        assert out["merges"] == 1 and out["merged_docs"] == 12 - len(deleted)
        assert len(read_tombstones(es._dir("ix"))) == 0
        assert es.stats("ix")["docs"] == {"count": 12 - len(deleted), "deleted": 0}
        jobs.append(n_jobs)
    assert jobs[1] == jobs[0]


def test_pit_and_scroll_outlive_a_merge(spark, tmp_path):
    """A point in time and a scroll cursor keep their pinned hits after a
    forcemerge retired (deleted) the segments they pinned, and neither sees
    a later bulk or delete."""
    es = Engine(spark, root=str(tmp_path))
    es.create_index("ix", num_partitions=3)
    es.bulk("ix", _docs(spark, [(f"u{i:02d}", f"common words {i}", "en") for i in range(25)]))
    es.delete("ix", ["u00"])
    body = {"query": {"match": {"text": "common words"}}, "size": 50}
    want = _ranked(es, body)
    pit = es.open_pit("ix")["id"]
    page1 = es.search_scroll("ix", {"query": {"match": {"text": "common"}}, "size": 10})
    pinned = es._pits[pit][1].segs

    es.bulk("ix", _docs(spark, [("late", "common words late", "en")]))
    es.delete("ix", ["u01"])
    assert es.forcemerge("ix", **FULL_MERGE)["merges"] >= 1
    assert not any(map(os.path.exists, (store.seg_dir(es._dir("ix"), s) for s in pinned)))
    live = _ranked(es, body)
    assert "late" in dict(live) and "u01" not in dict(live) and "u00" not in dict(live)

    got = es.search("ix", {**body, "pit": {"id": pit}})["hits"].collect()
    assert [(r["url"], r["score"]) for r in got] == want
    sid = page1["_scroll_id"]
    pages = [page1["hits"], es.scroll(sid)["hits"], es.scroll(sid)["hits"]]
    assert sorted(r["url"] for p in pages for r in p) == sorted(u for u, _ in want)
    assert es.close_pit(pit)["succeeded"] and es.clear_scroll(sid)["succeeded"]


def _scroll_urls(es, body):
    """(scroll id, every url the cursor pages through, sorted)."""
    page = es.search_scroll("ix", body)
    sid, urls = page["_scroll_id"], []
    while page["hits"]:
        urls += [r["url"] for r in page["hits"]]
        page = es.scroll(sid)
    return sid, sorted(urls)


def test_scroll_snapshots_never_collide(spark, tmp_path):
    """Each scroll cursor snapshots into its own directory: two Engines on
    one root scroll an index side by side, and a cursor an earlier Engine
    left open (its snapshot still on disk, as after a crash) does not stop
    a later Engine's first scroll. Clearing a cursor removes its snapshot
    alone, and no snapshot counts in the store size."""
    root = str(tmp_path)
    first = Engine(spark, root=root)
    first.create_index("ix", num_partitions=2)
    first.bulk("ix", _docs(spark, [(f"u{i:02d}", f"common words {i}", "en") for i in range(12)]))
    first.delete("ix", ["u00"])  # a tombstone file to pin as well
    size = first.stats("ix")["store"]["size_in_bytes"]
    body = {"query": {"match": {"text": "common"}}, "size": 5}
    want = [f"u{i:02d}" for i in range(1, 12)]
    snapshots = os.path.join(first._dir("ix"), "pins")

    _, got = _scroll_urls(first, body)  # left open
    assert got == want
    second = Engine(spark, root=root)
    sid, got = _scroll_urls(second, body)
    assert got == want
    del first
    later = Engine(spark, root=root)
    _, got = _scroll_urls(later, body)
    assert got == want
    assert len(os.listdir(snapshots)) == 3
    assert later.stats("ix")["store"]["size_in_bytes"] == size

    assert second.clear_scroll(sid)["succeeded"]
    assert len(os.listdir(snapshots)) == 2


def test_partial_reduce_pins_its_segments(spark, tmp_path):
    """An async search's partial reduce answers a text leaf from the first
    half of the segments alone (``IndexReader.pin(segs)``), and leaves the
    Engine's reader over every segment."""
    es = Engine(spark, root=str(tmp_path))
    es.create_index("ix", num_partitions=2)
    for b in range(2):
        es.bulk("ix", _docs(spark, [(f"b{b}u{i}", f"common words {i}", "en") for i in range(5)]))
    reader = es._reader("ix")
    segs = list(reader.segs)
    half = segs[:len(segs) // 2]
    want = {u for s in half for u in reader.segment(s).fetch(reader.segment(s).doc_ids, ["url"])["url"]}
    assert 0 < len(want) < 10
    snap = es._partial_reduce("ix", {"query": {"match": {"text": "common"}}, "size": 50,
                                     "aggs": {"l": {"terms": {"field": "lang"}}}})
    assert {r["url"] for r in snap["hits"]} == want
    assert [r["doc_count"] for r in snap["aggregations"]["l"]] == [len(want)]
    assert es._reader("ix").segs == segs
    assert len(_ranked(es, {"query": {"match": {"text": "common"}}, "size": 50})) == 10


# ---- pins: one fixed view for PIT, scroll and the partial reduce ----------

PIT_BODIES = {
    "sort": {"query": {"match": {"text": "common"}}, "sort": [{"url": "desc"}], "size": 30},
    "bool": {"query": {"bool": {"must": [{"match": {"text": "common words"}}],
                                "filter": [{"term": {"lang": "en"}}]}}, "size": 30},
    "aggs": {"query": {"match": {"text": "common"}}, "size": 30,
             "aggs": {"l": {"terms": {"field": "lang"}}}},
    "total": {"query": {"match": {"text": "common"}}, "size": 30, "track_total_hits": True},
}
SCROLL = {"query": {"match": {"text": "common"}}, "size": 4}


def _pinned_ix(spark, root, n=12):
    es = Engine(spark, root=root)
    es.create_index("ix", num_partitions=3)
    es.bulk("ix", _docs(spark, [(f"u{i:02d}", f"common words {i}", "en" if i % 3 else "de")
                                for i in range(n)]))
    return es


def _answer(es, body):
    """(hit rows, agg rows, total) of a search."""
    out = es.search("ix", body)
    return ([r.asDict() for r in out["hits"].collect()],
            {k: sorted(map(tuple, v.collect())) for k, v in out.get("aggregations", {}).items()},
            out.get("total"))


def _disk_bytes(d):
    """The bytes of the distinct files under ``d`` (a hard link counted once)."""
    sizes = {}
    for base, _, files in os.walk(d):
        for fn in files:
            st = os.stat(os.path.join(base, fn))
            sizes[st.st_ino] = st.st_size
    return sum(sizes.values())


def test_pit_search_equals_the_search_at_open(spark, tmp_path):
    """A PIT search with sort, with a filtered bool, with aggs and with
    track_total_hits answers as the same search did when the PIT opened,
    after a bulk (new and updated docs), a delete and a forcemerge."""
    es = _pinned_ix(spark, str(tmp_path))
    es.delete("ix", ["u00"])
    want = {name: _answer(es, body) for name, body in PIT_BODIES.items()}
    assert want["total"][2]["value"] == len(want["total"][0]) == 11
    pit = es.open_pit("ix")["id"]
    steps = [
        lambda: es.bulk("ix", _docs(spark, [("late", "common words late", "en"),
                                            ("u04", "common words updated", "de")])),
        lambda: es.delete("ix", ["u01", "u02"]),
        lambda: es.forcemerge("ix", **FULL_MERGE),
    ]
    for step in steps:
        step()
        for name, body in PIT_BODIES.items():
            assert _answer(es, {**body, "pit": {"id": pit}}) == want[name], name
    assert _answer(es, PIT_BODIES["total"])[2]["value"] == 10


def test_pit_total_hits_after_a_delete(spark, tmp_path):
    """track_total_hits of a PIT search counts the pinned view: the docs
    deleted after the PIT opened are among its hits and in its total."""
    es = _pinned_ix(spark, str(tmp_path), n=6)
    pit = es.open_pit("ix")["id"]
    es.delete("ix", ["u00", "u01"])
    out = es.search("ix", {**PIT_BODIES["total"], "pit": {"id": pit}})
    assert out["hits"].count() == out["total"]["value"] == 6


def test_lapsed_pit_is_refused(spark, tmp_path):
    """Each search renews a PIT by its keep_alive; one unused for longer
    raises, and so does a scroll cursor past its ``scroll``."""
    es = _pinned_ix(spark, str(tmp_path), n=6)
    pit = es.open_pit("ix", keep_alive="4s")["id"]
    body = {**PIT_BODIES["sort"], "pit": {"id": pit}}
    for _ in range(2):  # 4.4 s and more after the open
        time.sleep(2.2)
        assert es.search("ix", body)["hits"].count() == 6
    sid = es.search_scroll("ix", SCROLL, scroll="1s")["_scroll_id"]
    time.sleep(4.2)
    with pytest.raises(ValueError, match="lapsed"):
        es.search("ix", body)
    with pytest.raises(ValueError, match="lapsed"):
        es.scroll(sid)
    assert not es.close_pit(pit)["succeeded"]


def test_threads_share_one_pit(spark, tmp_path):
    """Eight threads searching one PIT, with a short switch interval, each
    renew it and all get the pinned hits; the PIT stays open."""
    es = _pinned_ix(spark, str(tmp_path), n=6)
    pit = es.open_pit("ix")["id"]
    body = {"query": {"match": {"text": "common"}}, "size": 10, "pit": {"id": pit}}
    want = _ranked(es, body)
    es.delete("ix", ["u00"])
    got, errors = [], []

    def search():
        try:
            got.extend(_ranked(es, body) for _ in range(3))
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=search) for _ in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads) and errors == []
    assert got == [want] * 24 and len(want) == 6
    assert es.stats("ix")["search"]["open_contexts"] == 1


@pytest.mark.parametrize("reaper", ["open_pit", "search_scroll", "forcemerge"])
def test_lapsed_pins_are_reaped(spark, tmp_path, reaper):
    """A lapsed pin's directory is removed by the next pin open or
    forcemerge, also one an Engine dropped without closing it left behind;
    then the store holds no byte the stats leave out."""
    root = str(tmp_path)
    first = _pinned_ix(spark, root)
    first.delete("ix", ["u00"])
    size = first.stats("ix")["store"]["size_in_bytes"]
    first.open_pit("ix", keep_alive="3s")
    first.search_scroll("ix", SCROLL, scroll="3s")
    assert first.stats("ix")["search"]["open_contexts"] == 2
    pins = os.path.join(first._dir("ix"), "pins")
    del first
    time.sleep(3.2)
    later = Engine(spark, root=root)
    assert later.stats("ix")["search"]["open_contexts"] == 0
    assert len(os.listdir(pins)) == 2
    {
        "open_pit": lambda: later.close_pit(later.open_pit("ix")["id"]),
        "search_scroll": lambda: later.clear_scroll(later.search_scroll("ix", SCROLL)["_scroll_id"]),
        "forcemerge": lambda: later.forcemerge("ix", **FULL_MERGE),
    }[reaper]()
    assert os.listdir(pins) == []
    stats = later.stats("ix")
    assert stats["store"]["size_in_bytes"] == _disk_bytes(later._dir("ix"))
    if reaper != "forcemerge":
        assert stats["store"]["size_in_bytes"] == size


def test_live_pin_survives_a_second_engines_forcemerge(spark, tmp_path):
    """A second Engine's forcemerge keeps an unlapsed pin: its filtered bool
    and sorted searches answer from the retired segments."""
    root = str(tmp_path)
    first = _pinned_ix(spark, root)
    want = {name: _answer(first, PIT_BODIES[name]) for name in ("bool", "sort")}
    pit = first.open_pit("ix")["id"]
    pinned = first._pits[pit].reader.segs
    second = Engine(spark, root=root)
    second.bulk("ix", _docs(spark, [("late", "common words late", "en")]))
    second.delete("ix", ["u01"])
    assert second.forcemerge("ix", **FULL_MERGE)["merges"] >= 1
    assert not any(map(os.path.exists, (store.seg_dir(first._dir("ix"), s) for s in pinned)))
    for name, rows in want.items():
        assert _answer(first, {**PIT_BODIES[name], "pit": {"id": pit}}) == rows, name


def test_stats_count_open_search_contexts(spark, tmp_path):
    """``stats()["search"]["open_contexts"]`` is the number of unlapsed
    pins of the index: 1 with a PIT open, 0 once it is closed, and 0 once a
    lapsed one is reaped, also one a crash left half-open. The disk usage
    and a snapshot leave the pin's links out."""
    es = _pinned_ix(spark, str(tmp_path), n=6)
    contexts = lambda: es.stats("ix")["search"]["open_contexts"]  # noqa: E731
    disk_usage = lambda: es.disk_usage("ix")["ix"]["store_size_in_bytes"]  # noqa: E731
    assert contexts() == 0
    size = disk_usage()
    pit = es.open_pit("ix")["id"]
    assert contexts() == 1
    assert disk_usage() == size
    es.snapshot("ix", str(tmp_path / "repo"), "s1")
    assert "pins" not in os.listdir(tmp_path / "repo" / "s1" / "ix")
    assert es.close_pit(pit)["succeeded"]
    assert contexts() == 0
    es.open_pit("ix", keep_alive="2s")
    pins = os.path.join(es._dir("ix"), "pins")
    half_open = os.path.join(pins, "half-open")  # as a crash mid-open leaves it
    os.makedirs(half_open)
    assert contexts() == 2
    time.sleep(2.2)
    assert contexts() == 1  # a pin with no pin.json lapses a minute after it was made
    os.utime(half_open, (time.time() - 61, time.time() - 61))
    assert contexts() == 0
    es.forcemerge("ix", **FULL_MERGE)
    assert os.listdir(pins) == []


def test_prefix_docs_read_one_run_of_blocks(es):
    """A prefix leaf's docs, read as one row range of each segment's block
    table, are the docs of the prefix's dictionary terms."""
    reader = es._reader("pages")
    for seg in reader._segments():
        vocab = np.unique(seg.blocks["term"])
        for p in ["", "t", "th", "the", "w0", "of", OOV, "\U0010ffff"]:
            terms = [t for t in vocab if t.startswith(p)]
            assert np.array_equal(seg.term_docs(prefix=p), seg.term_docs(terms)), p


def test_warm_searches_read_only_postings_bytes(es, monkeypatch):
    """After one warm-up, a repeated match and match_phrase read no parquet
    file through ``read_table``, open no postings.parquet footer and read
    no ``norm`` column: the open segments hold the footers, block tables
    and norms."""
    import pyarrow.parquet as pq

    bodies = [MATCH, SEARCHES["match_phrase"][1]]
    for body in bodies:
        es.search("pages", body)["hits"].collect()
    tables, footers, columns = [], [], []
    read_table = pq.read_table
    monkeypatch.setattr(pq, "read_table", lambda *a, **kw: tables.append(a) or read_table(*a, **kw))
    init = pq.ParquetFile.__init__

    def opening(self, source, *a, **kw):
        footers.append(str(source))
        init(self, source, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "__init__", opening)
    for name in ("read", "read_row_group", "read_row_groups", "iter_batches"):
        method = getattr(pq.ParquetFile, name)

        def reading(self, *a, _method=method, **kw):
            columns.extend(kw.get("columns") or ["*"])
            return _method(self, *a, **kw)

        monkeypatch.setattr(pq.ParquetFile, name, reading)
    for body in bodies:
        assert es.search("pages", body)["hits"].collect()
    assert tables == []
    assert not [f for f in footers if f.endswith("postings.parquet")]
    assert "norm" not in columns and "*" not in columns
    assert {"ids_bytes", "tf_bytes", "pos_bytes"} <= set(columns)


def test_stats_counts_live_docs_without_a_job(spark, tmp_path):
    """``Engine.stats`` takes the live count from the open segments: it
    equals the live docs view after a bulk with updates, a delete and a
    forcemerge, and the call runs no Spark job."""
    es = Engine(spark, root=str(tmp_path))
    es.create_index("ix", num_partitions=2)
    es.bulk("ix", _docs(spark, [(f"u{i}", f"common words {i}", "en") for i in range(8)]))
    steps = [
        lambda: es.bulk("ix", _docs(spark, [(f"u{i}", f"updated {i}", "en") for i in (1, 2, 9)])),
        lambda: es.delete("ix", ["u4", "u9"]),
        lambda: es.forcemerge("ix", **FULL_MERGE),
    ]
    for step in steps:
        step()
        want = es._docs_view("ix").count()
        es.stats("ix")  # opens the new segments
        got, n_jobs = _jobs(spark, lambda: es.stats("ix"))
        assert n_jobs == 0
        assert got["docs"]["count"] == want
        assert got["segments"]["count"] == len(store.list_segs(es._dir("ix")))
    assert want == 7


def test_file_rows_across_row_groups(tmp_path):
    """An open file reads chosen rows from several row groups, in order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = str(tmp_path / "rg.parquet")
    pq.write_table(pa.table({"a": np.arange(20), "b": [str(i) for i in range(20)]}), path,
                   row_group_size=3)
    f = topk._File(path)
    for rows in [[0, 1, 5, 6, 7, 19], [4], [], list(range(20))]:
        got = f.rows(np.array(rows, dtype=np.int64), ["b", "a"])
        assert got.column_names == ["b", "a"]
        assert got["a"].to_pylist() == rows and got["b"].to_pylist() == [str(i) for i in rows]

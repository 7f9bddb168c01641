"""Index-backed phrase search + highlight fetch sub-phase."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.operators.phrase import highlight, search_phrase
from elasticsearch_spark.operators.postings import build_index
from elasticsearch_spark.operators.topk import IndexReader
from elasticsearch_spark.sources.pages import pages_pdf


@pytest.fixture(scope="module")
def phrase_index(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("phrase") / "idx")
    rows = [
        ("u1", "the quick brown fox jumps", "en"),
        ("u2", "brown quick the fox", "en"),              # terms, wrong order
        ("u3", "a quick brown dog and a quick brown fox", "en"),
        ("u4", "quick stuff then brown things", "en"),     # gap of 2
        ("u5", "irrelevant words only here", "en"),
    ]
    df = spark.createDataFrame(rows, "url string, text string, lang string").withColumn(
        "warc_ts", F.lit("2024-01-01").cast("timestamp")
    )
    build_index(spark, df, idx, num_partitions=2)
    return idx


def test_phrase_exact_adjacency(spark, phrase_index):
    got = {r["url"] for r in search_phrase(IndexReader(spark, phrase_index), "quick brown").collect()}
    assert got == {"u1", "u3"}


def test_phrase_ranking_by_bm25_and_tie(spark, phrase_index):
    rows = search_phrase(IndexReader(spark, phrase_index), "quick brown").collect()
    # u3 has tf 2 for both terms → higher BM25 than u1
    assert rows[0]["url"] == "u3"


def test_phrase_slop(spark, phrase_index):
    got = {r["url"] for r in search_phrase(IndexReader(spark, phrase_index), "quick brown", slop=2).collect()}
    assert got == {"u1", "u3", "u4"}  # u4: one token between, within slop
    assert "u2" not in got  # out of order never matches ordered sloppy phrase


def test_phrase_no_match(spark, phrase_index):
    assert search_phrase(IndexReader(spark, phrase_index), "fox jumps high").count() == 0


def test_highlight_fragment(spark):
    df = spark.createDataFrame(
        [(1, "x " * 50 + "the quick brown fox ran away " + "y " * 50)],
        "id long, text string",
    )
    out = highlight(df, ["quick", "fox"], fragment_size=60).collect()[0]["highlight"]
    assert "<em>quick</em>" in out and "<em>fox</em>" in out
    assert len(out) <= 60 + 2 * len("<em></em>")
    # fragment is centered near the first match, not the document head
    assert out.count("x") < 20


def test_positions_are_stored_and_used(spark, phrase_index):
    """The index carries positions; the verify path decodes them (no
    fallback) and they match the analyzed text."""
    import numpy as np

    from elasticsearch_spark.functions.analysis import standard_tokenize
    from elasticsearch_spark.operators.phrase import _index_positions
    from elasticsearch_spark.sources import index_store as store

    docs = {r["doc_id"]: r for r in spark.read.parquet(*store.docs_glob(phrase_index)).collect()}
    pos_map = _index_positions(phrase_index, ["quick", "brown"], set(docs))
    assert pos_map["quick"] and pos_map["brown"]
    for term in ("quick", "brown"):
        for d, got in pos_map[term].items():
            toks = standard_tokenize(docs[d]["text"])
            exp = [i for i, t in enumerate(toks) if t == term]
            assert list(got) == exp, (term, d)


def test_phrase_after_merge_keeps_positions(spark, phrase_index):
    from elasticsearch_spark.operators.merge import merge_index
    from elasticsearch_spark.operators.phrase import search_phrase

    before = {r["url"] for r in search_phrase(IndexReader(spark, phrase_index), "quick brown").collect()}
    merge_index(spark, phrase_index, segments_per_tier=4, floor_bytes=1)
    after = {r["url"] for r in search_phrase(IndexReader(spark, phrase_index), "quick brown").collect()}
    assert after == before == {"u1", "u3"}


def test_phrase_prefix_positional(spark, phrase_index):
    """match_phrase_prefix: fixed terms adjacent, last token expanded as a
    prefix against the term dictionary (positional semantics, not
    bool_prefix)."""
    from elasticsearch_spark.operators.phrase import search_phrase_prefix

    # 'quick b' → 'quick brown' (u1, u3); u4 'quick stuff then brown' has
    # no adjacency; u2 is out of order
    got = {r["url"] for r in search_phrase_prefix(IndexReader(spark, phrase_index), "quick b").collect()}
    assert got == {"u1", "u3"}
    # slop lets u4's 'quick stuff then brown' match (2 tokens between)
    got = {r["url"] for r in search_phrase_prefix(IndexReader(spark, phrase_index), "quick b", slop=2).collect()}
    assert got == {"u1", "u3", "u4"}
    # single prefix token degenerates to prefix match
    got = {r["url"] for r in search_phrase_prefix(IndexReader(spark, phrase_index), "jum").collect()}
    assert got == {"u1"}
    # max_expansions caps the expansion set deterministically (term order)
    got = {r["url"] for r in search_phrase_prefix(IndexReader(spark, phrase_index), "quick b", max_expansions=1).collect()}
    assert got == {"u1", "u3"}  # only expansion 'brown' (term order)


def test_phrase_prefix_no_expansions(spark, phrase_index):
    from elasticsearch_spark.operators.phrase import search_phrase_prefix

    assert search_phrase_prefix(IndexReader(spark, phrase_index), "quick zzz").count() == 0


def test_intervals_ordered_and_unordered(spark, phrase_index):
    from elasticsearch_spark.operators.intervals import search_intervals_source

    def urls(**match):
        src = {"match": {"query": "quick brown", **match}}
        return {r["url"] for r in search_intervals_source(IndexReader(spark, phrase_index), src).collect()}

    # ordered 'quick brown' within any distance: u1, u3 (adjacent); u4 has
    # 'quick ... brown' with 2 tokens between → still ordered
    assert urls(ordered=True) == {"u1", "u3", "u4"}
    # max_gaps=1 excludes u4 (gap 2)
    assert urls(ordered=True, max_gaps=1) == {"u1", "u3"}
    # unordered picks up u2 ('brown quick')
    assert urls(ordered=False) == {"u1", "u2", "u3", "u4"}


def test_highlight_multiple_fragments(spark):
    from elasticsearch_spark.operators.phrase import highlight

    df = spark.createDataFrame(
        [("spark here first\nand then spark again later\nno match line",)],
        "text string",
    )
    out = highlight(df, ["spark"], fragment_size=30, number_of_fragments=3).collect()[0]
    frags = out["highlight"]
    assert isinstance(frags, list) and len(frags) == 2
    assert all("<em>spark</em>" in fr for fr in frags)


def test_highlight_fragments_scored_by_match_count(spark):
    from elasticsearch_spark.operators.phrase import highlight

    df = spark.createDataFrame(
        [("d1", "cat here\nnothing\ncat and cat together\nlone cat end")],
        "id string, text string",
    )
    out = highlight(df, ["cat"], fragment_size=30, number_of_fragments=2).collect()
    frags = out[0]["highlight"]
    # the 2-match passage outranks the earlier 1-match passage
    assert frags[0] == "<em>cat</em> and <em>cat</em> together"
    assert frags[1].count("<em>") == 1


def test_missing_positions_fail_loudly(spark, tmp_path):
    """Positions are part of the postings format: a segment whose
    ``pos_bytes`` were stripped is corrupt, and every positional query and
    the merge raise an error naming position data — never a silent empty
    result or a merged segment without positions."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from elasticsearch_spark.operators.intervals import search_intervals_source
    from elasticsearch_spark.operators.merge import merge_index
    from elasticsearch_spark.operators.phrase import search_phrase_prefix
    from elasticsearch_spark.operators.spans import search_spans
    from elasticsearch_spark.sources import index_store as store

    idx = str(tmp_path / "noposidx")
    rows = [(f"p{i}", text, "en") for i, text in enumerate(
        ["alpha beta gamma", "beta alpha gamma", "alpha words beta",
         "alpha beta", "gamma alpha beta", "beta beta alpha"])]
    df = spark.createDataFrame(rows, "url string, text string, lang string").withColumn(
        "warc_ts", F.lit("2024-01-01").cast("timestamp"))
    build_index(spark, df, idx, num_partitions=2)
    segs = store.list_segs(idx)
    assert len(segs) == 2
    queries = {
        "match_phrase": lambda: search_phrase(IndexReader(spark, idx), "alpha beta"),
        "match_phrase_prefix": lambda: search_phrase_prefix(IndexReader(spark, idx), "alpha be"),
        "intervals": lambda: search_intervals_source(
            IndexReader(spark, idx), {"match": {"query": "alpha beta"}}),
        "intervals_source": lambda: search_intervals_source(
            IndexReader(spark, idx), {"match": {"query": "alpha beta", "ordered": True}}),
        "span_near": lambda: search_spans(IndexReader(spark, idx), {"span_near": {
            "clauses": [{"span_term": {"text": "alpha"}}, {"span_term": {"text": "beta"}}],
            "slop": 0, "in_order": True}}),
    }
    for name, q in queries.items():
        assert q().count() > 0, name

    for s in segs:
        p = os.path.join(store.seg_dir(idx, s), "postings.parquet")
        t = pq.read_table(p)
        t = t.set_column(
            t.column_names.index("pos_bytes"), "pos_bytes",
            pa.array([b""] * t.num_rows, type=pa.binary()))
        pq.write_table(t, p)

    for name, q in queries.items():
        with pytest.raises(Exception, match="position data"):
            q().collect()
    with pytest.raises(Exception, match="position data"):
        merge_index(spark, idx)
    assert store.list_segs(idx) == segs  # the failed merge committed nothing


def test_highlight_escapes_regex_and_sql_metacharacters(spark):
    df = spark.createDataFrame(
        [("x", "i like c++ and 3.5 releases")], "url string, text string")
    out = highlight(df, ["c++", "3.5"], number_of_fragments=0).collect()[0]["highlight"]
    assert "<em>c++</em>" in out and "<em>3.5</em>" in out
    # "3.5" is a literal, not a regex: it must NOT match "345"
    df2 = spark.createDataFrame([("y", "version 345 here")], "url string, text string")
    # no match → NULL highlight (ES omits the field; no_match_size opts in)
    assert highlight(df2, ["3.5"], number_of_fragments=2).collect()[0]["highlight"] is None
    # a term containing a quote survives the expr-embedded (multi-fragment) path
    df3 = spark.createDataFrame([("z", "well don't stop me now")], "url string, text string")
    frags = highlight(df3, ["don't"], number_of_fragments=2).collect()[0]["highlight"]
    assert frags and "<em>don't</em>" in frags[0]


def test_highlight_query_and_no_match_size(spark, tmp_path):
    """HighlightBuilder.highlightQuery (highlight a DIFFERENT query's
    terms) and noMatchSize (default: null highlight for non-matching
    docs; >0 emits a leading snippet)."""
    from elasticsearch_spark.api import Engine

    es = Engine(spark, root=str(tmp_path / "hq"))
    es.create_index("h", num_partitions=1)
    es.bulk("h", spark.createDataFrame(
        [("a", "spark cluster computing engine", "en"),
         ("b", "spark alone", "en")],
        "url string, text string, lang string"))
    out = es.search("h", {"query": {"match": {"text": "spark"}},
                          "highlight": {"fields": {"text": {
                              "highlight_query": {"match": {"text": "cluster"}}}}},
                          "size": 5})
    rows = {r["url"]: r["highlight"] for r in out["hits"].collect()}
    assert "<em>cluster</em>" in rows["a"]
    assert rows["b"] is None  # no_match_size default 0 → null
    out = es.search("h", {"query": {"match": {"text": "spark"}},
                          "highlight": {"fields": {"text": {
                              "highlight_query": {"match": {"text": "cluster"}},
                              "no_match_size": 11}}},
                          "size": 5})
    rows = {r["url"]: r["highlight"] for r in out["hits"].collect()}
    assert rows["b"] == "spark alone"[:11]

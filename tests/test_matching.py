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
from elasticsearch_spark.plans import dsl
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
TEXT_OF = {u: text for u, text, *_ in DOCS}
TEXTS = ["zürich", "don't", "東京"]
# the docs each query text matches under both index analyzers
ANALYZER_MATCH = {"zürich": {"u1"}, "don't": {"u3"}, "東京": {"u5"}}
# the index's top-level fast path
FAST_KINDS = {
    "match": lambda t: {"match": {"text": t}},
    "match_phrase": lambda t: {"match_phrase": {"text": t}},
    "intervals": lambda t: {"intervals": {"text": {"match": {"query": t}}}},
}
# the doc each text's more_like_this case likes
LIKED = {"zürich": "u1", "don't": "u3", "東京": "u5"}


def _mm(kind):
    return lambda t: {"multi_match": {"query": t, "fields": ["text"], "type": kind}}


# text queries the DSL answers by asking its search context for terms and
# statistics, which over an index are the index's
CONTEXT_KINDS = {
    **{f"multi_match_{k}": _mm(k) for k in (
        "best_fields", "most_fields", "cross_fields", "phrase", "phrase_prefix", "bool_prefix")},
    "combined_fields": lambda t: {"combined_fields": {"query": t, "fields": ["text"]}},
    "match_bool_prefix": lambda t: {"match_bool_prefix": {"text": t}},
    "common": lambda t: {"common": {"text": {"query": t}}},
    "more_like_this": lambda t: {"more_like_this": {"like": [{"_id": LIKED[t]}]}},
}
KINDS = {**FAST_KINDS, **CONTEXT_KINDS, "query_string": lambda t: {"query_string": {"query": t}}}
# query_string's prefix and fuzzy terms: "zür" and "zürick" reach zürich
QUERY_STRINGS = {"zür*": {"u1"}, "zürick~1": {"u1"}}


def _analyzer_match(text, kind):
    if kind == "more_like_this":
        # u1's and u5's terms are in no other doc; u3 shares "know" with u4
        return {"u4"} if LIKED[text] == "u3" else set()
    return {**ANALYZER_MATCH, **QUERY_STRINGS}[text]


CASES = [
    *itertools.product(["standard", "cjk"], TEXTS, [k for k in KINDS if k != "query_string"]),
    *itertools.product(["standard", "cjk"], QUERY_STRINGS, ["query_string"]),
]
_seq = itertools.count()


def _bulk(es, spark, name, analyzer, num_partitions=1, docs=DOCS):
    es.create_index(name, analyzer=analyzer, num_partitions=num_partitions)
    es.bulk(name, spark.createDataFrame(
        docs, "url string, text string, lang string, tag string, lat double",
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


def _scrolled(es, index, query):
    """Every url a scroll of ``query`` pages through, sorted."""
    page = es.search_scroll(index, {"query": query, "size": 1})
    urls = []
    while page["hits"]:
        urls += [r["url"] for r in page["hits"]]
        page = es.scroll(page["_scroll_id"])
    es.clear_scroll(page["_scroll_id"])
    return sorted(urls)


EN = {"term": {"lang": "en"}}


def _filter_aggs(query):
    """A filter, a filters and an adjacency_matrix agg of ``query`` beside a
    ``lang:en`` filter."""
    return {
        "filter": {"filter": query},
        "filters": {"filters": {"filters": {"q": query, "en": EN}}},
        "adjacency_matrix": {"adjacency_matrix": {"filters": {"q": query, "en": EN}}},
    }


def _filter_counts(aggs):
    """{agg: {bucket: doc_count}} of the answer to ``_filter_aggs``."""
    got = {name: {r["key"]: r["doc_count"] for r in aggs[name].collect()}
           for name in ("filters", "adjacency_matrix")}
    return {"filter": aggs["filter"].first()["doc_count"], **got}


def _want_filter_aggs(want):
    en = {u for u in LANG if LANG[u] == "en"}
    adjacency = {"q": len(want), "q&en": len(want & en), "en": len(en)}
    return {"filter": len(want), "filters": {"q": len(want), "en": len(en)},
            "adjacency_matrix": {k: n for k, n in adjacency.items() if n}}


@pytest.fixture(scope="module")
def expected(es):
    """url → score of the top-level (index fast path) search, per case."""
    return {(a, t, k): _hits(es, a, KINDS[k](t)) for a, t, k in CASES}


def test_fast_path_hits_are_the_analyzer_matches(expected):
    for a, k in itertools.product(["standard", "cjk"], FAST_KINDS):
        assert set(expected[(a, "zürich", k)]) == {"u1"}
        assert set(expected[(a, "don't", k)]) == {"u3"}
        assert set(expected[(a, "東京", k)]) == {"u5"}


@pytest.mark.parametrize("analyzer,text,kind", CASES)
def test_read_paths_agree_with_the_hits(es, expected, analyzer, text, kind):
    q = KINDS[kind](text)
    want = expected[(analyzer, text, kind)]
    assert set(want) == _analyzer_match(text, kind)
    if kind == "more_like_this":
        # every term of the liked doc passes min_doc_freq and
        # max_query_terms here: the OR match of its text, less the doc
        liked = LIKED[text]
        match = _hits(es, analyzer, {"match": {"text": TEXT_OF[liked]}})
        assert want == pytest.approx({u: s for u, s in match.items() if u != liked}, abs=1e-9)
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
    aggs = es.search(analyzer, {"size": 0, "aggs": _filter_aggs(q)})["aggregations"]
    assert _filter_counts(aggs) == _want_filter_aggs(set(want))
    assert _scrolled(es, analyzer, q) == sorted(want)


@pytest.mark.parametrize("analyzer", ["standard", "cjk"])
def test_write_paths_agree_with_the_hits(es, spark, expected, analyzer):
    cases = [(t, k) for a, t, k in CASES if a == analyzer and k in FAST_KINDS]
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


# ---- the search context is the one source of terms and statistics --------


def test_no_table_case_reads_the_regex_token_stream(es, spark, monkeypatch):
    # over an index, no text node builds the raw frame's [a-z0-9]+ stream:
    # not a search or count, nor (one case per kind) a scroll page, a PIT
    # search with sort and aggs, an agg that filters (filter, filters,
    # adjacency_matrix, t_test, significant_terms) or the async partial
    # reduce
    halves = _bulk(es, spark, "halves", "standard", num_partitions=2)
    d = es._dir(halves)
    first = pq.read_table(os.path.join(store.seg_dir(d, store.list_segs(d)[0]), "docs.parquet"),
                          columns=["url"])["url"].to_pylist()
    pit = {"id": es.open_pit("standard", keep_alive="30m")["id"]}
    regex_stream = dsl.SearchContext.toks_sql

    def guarded(ctx):
        if ctx.index is None:
            raise AssertionError(f"regex token stream over {ctx.text_col!r}")
        return regex_stream(ctx)

    monkeypatch.setattr(dsl.SearchContext, "toks_sql", guarded)
    by_lang = {"l": {"terms": {"field": "lang"}}}
    for analyzer, text, kind in CASES:
        case = (analyzer, text, kind)
        q, want = KINDS[kind](text), _analyzer_match(text, kind)
        assert set(_hits(es, analyzer, q)) == want, case
        assert es.count(analyzer, q) == len(want), case
        if analyzer != "standard" or text not in ("zürich", "zür*"):
            continue
        assert _scrolled(es, analyzer, q) == sorted(want), case
        out = es.search(analyzer, {"query": q, "size": 10, "sort": [{"url": "asc"}],
                                   "aggs": by_lang, "pit": pit})
        assert [r["url"] for r in out["hits"].collect()] == sorted(want), case
        assert {r["key"]: r["doc_count"] for r in out["aggregations"]["l"].collect()} == \
            {LANG[u]: 1 for u in want}, case
        aggs = es.search(analyzer, {"size": 0, "pit": pit, "aggs": {
            **_filter_aggs(q),
            "t": {"t_test": {"a": {"field": "doc_id", "filter": q}, "b": {"field": "doc_id"}}},
            "sig": {"significant_terms": {"field": "lang", "background_filter": q}},
        }})["aggregations"]
        assert _filter_counts(aggs) == _want_filter_aggs(want), case
        assert aggs["t"].collect(), case
        assert {r["key"] for r in aggs["sig"].collect()} <= {LANG[u] for u in want}, case
        if kind != "more_like_this":
            snap = es._partial_reduce(halves, {"query": q, "size": 10, "aggs": by_lang})
            assert {r["url"] for r in snap["hits"]} == want & set(first), case
            assert sum(r["doc_count"] for r in snap["aggregations"]["l"]) == \
                len(want & set(first)), case


@pytest.mark.parametrize("operator", ["or", "and"])
def test_one_field_kinds_score_as_match(es, operator):
    for text in ["zürich today", "don't know", "東京 タワー"]:
        match = {"match": {"text": {"query": text, "operator": operator}}}
        want = _hits(es, "standard", match)
        in_bool = _hits(es, "standard", {"bool": {"must": [match]}})
        assert want and in_bool == pytest.approx(want, abs=1e-9)
        for q in [
            {"multi_match": {"query": text, "fields": ["text"], "operator": operator}},
            {"multi_match": {"query": text, "fields": ["text"], "operator": operator,
                             "type": "most_fields"}},
            {"multi_match": {"query": text, "fields": ["text"], "operator": operator,
                             "type": "cross_fields"}},
            {"combined_fields": {"query": text, "fields": ["text"], "operator": operator}},
        ]:
            assert _hits(es, "standard", q) == pytest.approx(want, abs=1e-9), q
            assert _hits(es, "standard", {"bool": {"must": [q]}}) == pytest.approx(want, abs=1e-9), q


@pytest.mark.parametrize("query,field", [
    ({"multi_match": {"query": "zürich", "fields": ["text", "text._2gram"]}}, "text._2gram"),
    ({"combined_fields": {"query": "zürich", "fields": ["text", "lang"]}}, "text"),
    ({"multi_match": {"query": "zürich", "fields": ["text", "lang"], "type": "cross_fields"}},
     "text"),
])
def test_the_index_field_blends_with_no_other_analyzer(es, query, field):
    # the index has no shingle subfield, and one BM25F / blended-df query
    # needs one analyzer: no silent fallback to the regex tokens
    with pytest.raises(ValueError, match=f"'{field}'"):
        _hits(es, "standard", query)
    with pytest.raises(ValueError, match=f"'{field}'"):
        es.count("standard", query)


def test_sparse_vector_on_the_index_field_is_an_error(es):
    # the index stores no per-term weights, and its analyzer is not the
    # raw frame's token stream
    q = {"sparse_vector": {"field": "text", "query_vector": {"zürich": 1.0}}}
    with pytest.raises(ValueError, match="'text'"):
        _hits(es, "standard", q)
    with pytest.raises(ValueError, match="'text'"):
        es.count("standard", q)


# ---- multi-term expansion over the index's term dictionary ---------------

# 60 terms share the prefix "pre"; 64 terms are 2 edits from "mmmm" and
# sort before it, "zmmm" is 1 edit from it and sorts after every one
PREFIXED = [f"pre{i:03d}" for i in range(60)]
TWO_EDITS = [f"{a}{b}mm" for a in "abcdefgh" for b in "abcdefgh"]
EXPAND_URL = {w: f"e{i:03d}" for i, w in enumerate([*PREFIXED, *TWO_EDITS, "mmmm", "zmmm"])}


@pytest.fixture(scope="module")
def expand_index(es, spark):
    return _bulk(es, spark, "expand", "standard", docs=[
        (u, w, "en", "red", 0.0) for w, u in EXPAND_URL.items()])


@pytest.mark.parametrize("query", [
    {"match_bool_prefix": {"text": "pre"}},
    {"multi_match": {"query": "pre", "fields": ["text"], "type": "bool_prefix"}},
    {"query_string": {"query": "pre*"}},
])
def test_prefix_expands_to_every_dictionary_term(es, spark, expand_index, query):
    # the constant-score rewrite keeps every term of the prefix, as a raw
    # frame's token test does
    want = {EXPAND_URL[w] for w in PREFIXED}
    assert set(_hits(es, expand_index, query, size=100)) == want
    assert es.count(expand_index, query) == len(want)
    raw = spark.createDataFrame([(u, w) for w, u in EXPAND_URL.items()], "url string, text string")
    got = dsl.search(spark, raw, {"query": query, "size": 100}, key="url").collect()
    assert {r.url for r in got} == want


def test_fuzzy_keeps_the_closest_terms(es, expand_index):
    # the top-terms rewrite keeps max_expansions (50) terms, closest first:
    # mmmm, zmmm, then 48 of the two-edit terms in term order
    want = {EXPAND_URL[w] for w in ["mmmm", "zmmm", *TWO_EDITS[:48]]}
    q = {"query_string": {"query": "mmmm~2"}}
    assert set(_hits(es, expand_index, q, size=100)) == want
    assert es.count(expand_index, q) == len(want)


@pytest.mark.parametrize("analyzer", ["standard", "cjk"])
@pytest.mark.parametrize("query", ["zür*", "kno*", "t*", "zürick~1", "knoe~1", "lisd~1"])
def test_multi_term_leaves_score_the_boost(es, analyzer, query):
    # a prefix or fuzzy leaf is a constant-score union of the expanded
    # terms' docs: the docs holding a term of the prefix, or one edit from
    # the fuzzy term (the top-terms rewrite keeps 50, more than exist here)
    from elasticsearch_spark.functions import analysis
    from elasticsearch_spark.operators.topk import edit_distances

    value = query.rstrip("*~1")
    terms = {u: analysis.analyze(text, analyzer) for u, text, *_ in DOCS}
    if query.endswith("*"):
        want = {u for u, ts in terms.items() if any(t.startswith(value) for t in ts)}
    else:
        want = {u for u, ts in terms.items() if (edit_distances(value, ts, 1) <= 1).any()}
    assert want
    for boost, suffix in [(1.0, ""), (2.5, "^2.5")]:
        body = {"query_string": {"query": query + suffix}}
        got = _hits(es, analyzer, body)
        assert set(got) == want
        assert set(got.values()) == {boost}
        assert es.count(analyzer, body) == len(want)

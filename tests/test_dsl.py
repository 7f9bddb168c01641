"""Query-DSL compiler unit tests (plans/dsl.py) — per-builder semantics
mirroring the reference's query builders (SURVEY.md §2.2)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.plans import dsl


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox", "en", 10, ["a", "b"]),
        (2, "quick quick slow fox", "en", 20, ["b", "c"]),
        (3, "lazy dog sleeps", "de", 30, ["c"]),
        (4, "the dog and the fox", "fr", 40, ["a", "c", "d"]),
        (5, "nothing here", None, 50, []),
    ]
    return spark.createDataFrame(
        rows, "doc_id long, text string, lang string, n int, tags array<string>"
    )


def keys(df):
    return [r["doc_id"] for r in df.orderBy("doc_id").collect()]


def search_keys(spark, corpus, query, **kw):
    out = dsl.search(spark, corpus, {"query": query, "size": 100}, **kw)
    return [r["doc_id"] for r in out.collect()]


def test_term_terms_range_exists_ids(spark, corpus):
    ctx = dsl.SearchContext(corpus, "doc_id")
    assert keys(corpus.where(dsl.parse({"term": {"lang": "en"}}).predicate(ctx))) == [1, 2]
    assert keys(corpus.where(dsl.parse({"terms": {"lang": ["de", "fr"]}}).predicate(ctx))) == [3, 4]
    assert keys(corpus.where(dsl.parse({"range": {"n": {"gte": 20, "lt": 40}}}).predicate(ctx))) == [2, 3]
    assert keys(corpus.where(dsl.parse({"exists": {"field": "lang"}}).predicate(ctx))) == [1, 2, 3, 4]
    assert keys(corpus.where(dsl.parse({"ids": {"values": [2, 5]}}).predicate(ctx))) == [2, 5]


def test_int_term_on_string_column_compares_exactly(spark):
    """An int literal on a string column compares numerically ("3.0" and
    "1e3" hit) but exactly: above 2**53 a double cast would make
    9007199254740993 equal "9007199254740992"."""
    df = spark.createDataFrame(
        [(1, "9007199254740992"), (2, "9007199254740993"), (3, "3.0"), (4, "1e3"), (5, "3.5")],
        "doc_id long, s string")
    ctx = dsl.SearchContext(df, "doc_id")

    def hits(v):
        return keys(df.where(dsl.parse({"term": {"s": v}}).predicate(ctx)))

    assert hits(9007199254740993) == [2]
    assert hits(9007199254740992) == [1]
    assert hits(9007199254740992.0) == [1]
    assert hits(3) == [3]
    assert hits(1000) == [4]
    assert hits(3.5) == [5]


def test_prefix_wildcard_regexp_fuzzy(spark, corpus):
    ctx = dsl.SearchContext(corpus, "doc_id")
    assert keys(corpus.where(dsl.parse({"prefix": {"lang": {"value": "e"}}}).predicate(ctx))) == [1, 2]
    assert keys(corpus.where(dsl.parse({"wildcard": {"lang": {"value": "?e"}}}).predicate(ctx))) == [3]
    assert keys(corpus.where(dsl.parse({"regexp": {"lang": {"value": "en|fr"}}}).predicate(ctx))) == [1, 2, 4]
    assert keys(corpus.where(dsl.parse({"fuzzy": {"lang": {"value": "enn", "fuzziness": 1}}}).predicate(ctx))) == [1, 2]


def test_terms_set(spark, corpus):
    ctx = dsl.SearchContext(corpus, "doc_id")
    node = dsl.parse({"terms_set": {"tags": {"terms": ["a", "c"], "minimum_should_match_field_value": 2}}})
    assert keys(corpus.where(node.predicate(ctx))) == [4]


def test_match_or_vs_and(spark, corpus):
    or_keys = search_keys(spark, corpus, {"match": {"text": "quick dog"}})
    and_keys = search_keys(spark, corpus, {"match": {"text": {"query": "quick dog", "operator": "and"}}})
    assert set(or_keys) == {1, 2, 3, 4}
    assert and_keys == []


def test_match_scoring_tf_wins(spark, corpus):
    # doc 2 has tf(quick)=2 and is shorter-normalized → must outrank doc 1
    out = dsl.search(spark, corpus, {"query": {"match": {"text": "quick"}}, "size": 10})
    got = [r["doc_id"] for r in out.collect()]
    assert got[0] == 2 and set(got) == {1, 2}


def test_match_phrase(spark, corpus):
    assert search_keys(spark, corpus, {"match_phrase": {"text": "lazy dog"}}) == [3]
    assert search_keys(spark, corpus, {"match_phrase": {"text": "dog lazy"}}) == []


def test_bool_combination(spark, corpus):
    q = {"bool": {
        "must": [{"match": {"text": "fox"}}],
        "filter": [{"range": {"n": {"lte": 30}}}],
        "must_not": [{"term": {"lang": "de"}}],
    }}
    assert sorted(search_keys(spark, corpus, q)) == [1, 2]


def test_bool_should_msm(spark, corpus):
    q = {"bool": {
        "should": [{"term": {"lang": "en"}}, {"term": {"lang": "fr"}}, {"range": {"n": {"gte": 40}}}],
        "minimum_should_match": 2,
    }}
    assert sorted(search_keys(spark, corpus, q)) == [4]


def test_dismax_vs_sum(spark, corpus):
    ctx = dsl.SearchContext(corpus, "doc_id")
    dm = dsl.parse({"dis_max": {"queries": [
        {"constant_score": {"filter": {"term": {"lang": "en"}}, "boost": 2.0}},
        {"constant_score": {"filter": {"range": {"n": {"lte": 20}}}, "boost": 1.0}},
    ], "tie_breaker": 0.5}}).frame(ctx)
    got = {r["__key"]: r["_score"] for r in dm.collect()}
    # docs 1,2 match both: max 2.0 + 0.5*1.0 = 2.5
    assert got[1] == pytest.approx(2.5) and got[2] == pytest.approx(2.5)


def test_boosting_demotes(spark, corpus):
    ctx = dsl.SearchContext(corpus, "doc_id")
    fr = dsl.parse({"boosting": {
        "positive": {"constant_score": {"filter": {"match_all": {}}, "boost": 1.0}},
        "negative": {"term": {"lang": "de"}},
        "negative_boost": 0.25,
    }}).frame(ctx)
    got = {r["__key"]: r["_score"] for r in fr.collect()}
    assert got[3] == pytest.approx(0.25) and got[1] == pytest.approx(1.0)


def test_function_score_decay_gauss(spark, corpus):
    ctx = dsl.SearchContext(corpus, "doc_id")
    fr = dsl.parse({"function_score": {
        "query": {"match_all": {}},
        "functions": [{"gauss": {"n": {"origin": 30, "scale": 10, "decay": 0.5}}}],
        "boost_mode": "replace",
    }}).frame(ctx)
    got = {r["__key"]: r["_score"] for r in fr.collect()}
    assert got[3] == pytest.approx(1.0)  # at origin
    assert got[2] == pytest.approx(0.5)  # at scale distance
    assert got[4] == pytest.approx(0.5)


def test_function_score_fvf_weight_filter(spark, corpus):
    ctx = dsl.SearchContext(corpus, "doc_id")
    fr = dsl.parse({"function_score": {
        "query": {"match_all": {}},
        "functions": [
            {"field_value_factor": {"field": "n", "factor": 1.0, "modifier": "sqrt"}},
            {"filter": {"term": {"lang": "en"}}, "weight": 3.0},
        ],
        "score_mode": "multiply", "boost_mode": "replace",
    }}).frame(ctx)
    got = {r["__key"]: r["_score"] for r in fr.collect()}
    assert got[1] == pytest.approx(math.sqrt(10) * 3.0)
    assert got[3] == pytest.approx(math.sqrt(30))  # filter misses → neutral 1.0


def test_multi_match_best_and_most(spark):
    rows = [(1, "apple pie", "banana"), (2, "banana split", "banana bread")]
    df = sparkless = None
    from elasticsearch_spark.session import get_spark

    spark2 = get_spark(app_name="tests", master="local[4]")
    df = spark2.createDataFrame(rows, "doc_id long, title string, body string")
    ctx = dsl.SearchContext(df, "doc_id", text_col="title")
    best = dsl.parse({"multi_match": {"query": "banana", "fields": ["title", "body"], "type": "best_fields"}}).frame(ctx)
    most = dsl.parse({"multi_match": {"query": "banana", "fields": ["title", "body"], "type": "most_fields"}}).frame(ctx)
    bk = {r["__key"] for r in best.collect()}
    mk = {r["__key"]: r["_score"] for r in most.collect()}
    assert bk == {1, 2}
    # doc 2 matches banana in both fields → most_fields score strictly higher
    b2 = {r["__key"]: r["_score"] for r in best.collect()}[2]
    assert mk[2] > b2


def test_search_pagination(spark, corpus):
    body = {"query": {"match": {"text": "fox"}}, "size": 1, "from": 1}
    page = dsl.search(spark, corpus, body)
    assert page.count() == 1


def test_parse_unknown_raises(spark):
    with pytest.raises(ValueError):
        dsl.parse({"frobnicate": {}})


def test_case_insensitive_flags(spark):
    from elasticsearch_spark.plans import dsl

    df = spark.createDataFrame(
        [(1, "Alpha"), (2, "ALPHA"), (3, "beta")], "id long, tag string"
    )
    ctx = dsl.SearchContext(df, "id")

    def ids(body):
        return {r["id"] for r in df.where(dsl.parse(body).predicate(ctx)).collect()}

    assert ids({"term": {"tag": {"value": "alpha"}}}) == set()
    assert ids({"term": {"tag": {"value": "alpha", "case_insensitive": True}}}) == {1, 2}
    assert ids({"prefix": {"tag": {"value": "al", "case_insensitive": True}}}) == {1, 2}
    assert ids({"wildcard": {"tag": {"value": "A*A", "case_insensitive": True}}}) == {1, 2}
    assert ids({"regexp": {"tag": {"value": "al.+", "case_insensitive": True}}}) == {1, 2}


def test_fuzzy_prefix_length(spark):
    from elasticsearch_spark.plans import dsl

    df = spark.createDataFrame(
        [(1, "spark"), (2, "stark"), (3, "sharp"), (4, "qpark")],
        "doc_id long, word string",
    )
    # fuzziness 1, no prefix guard: spark/stark/qpark all within 1 edit
    out = dsl.search(spark, df, {"query": {"fuzzy": {"word": {
        "value": "spark", "fuzziness": 1}}}, "size": 10})
    assert sorted(r.doc_id for r in out.collect()) == [1, 2, 4]
    # prefix_length=1 requires the first char to match verbatim → drops qpark
    out2 = dsl.search(spark, df, {"query": {"fuzzy": {"word": {
        "value": "spark", "fuzziness": 1, "prefix_length": 1}}}, "size": 10})
    assert sorted(r.doc_id for r in out2.collect()) == [1, 2]


# --- dsl.py review regression batch ------------------------------------------

def _mini(spark):
    return spark.createDataFrame(
        [(1, "apple pie recipe", "apple orchard"),
         (2, "banana bread", "apple tart"),
         (3, "apple apple apple", None)],
        "id long, text string, title string")


def test_match_scopes_to_its_field(spark):
    df = _mini(spark)
    out = dsl.search(spark, df, {"query": {"match": {"title": "orchard"}}, "size": 10}, key="id")
    assert [r["id"] for r in out.collect()] == [1]
    # filter context too
    out2 = dsl.search(spark, df, {"query": {"bool": {"filter": [
        {"match": {"title": "tart"}}]}}, "size": 10}, key="id")
    assert [r["id"] for r in out2.collect()] == [2]


def test_match_and_zero_terms_filter_matches_nothing(spark):
    df = _mini(spark)
    out = dsl.search(spark, df, {"query": {"bool": {"filter": [
        {"match": {"text": {"query": "!!! ???", "operator": "and"}}}]}},
        "size": 10}, key="id")
    assert out.count() == 0


def test_multi_match_operator_and(spark):
    df = _mini(spark)
    body = {"query": {"multi_match": {
        "query": "apple pie", "fields": ["text", "title"], "operator": "and"}},
        "size": 10}
    out = dsl.search(spark, df, body, key="id")
    assert [r["id"] for r in out.collect()] == [1]  # only doc 1 has both in one field


def test_combined_fields_null_field_not_poisonous(spark):
    df = _mini(spark)
    out = dsl.search(spark, df, {"query": {"combined_fields": {
        "query": "apple", "fields": ["text", "title"]}}, "size": 10}, key="id")
    assert {r["id"] for r in out.collect()} == {1, 2, 3}  # doc 3 title NULL still matches


def test_function_score_multiply_first_filter_miss(spark):
    df = _mini(spark)
    out = dsl.search(spark, df, {"query": {"function_score": {
        "query": {"match": {"text": "apple"}},
        "functions": [
            {"filter": {"term": {"id": 999}}, "weight": 3.0},   # nobody matches
            {"filter": {"match": {"text": "apple"}}, "weight": 5.0},
        ],
        "score_mode": "multiply", "boost_mode": "replace",
    }}, "size": 10}, key="id")
    scores = {r["id"]: r["_score"] for r in out.collect()}
    assert all(abs(v - 5.0) < 1e-9 for v in scores.values())  # 5, not 1


def test_rescore_keeps_hits_outside_window(spark):
    df = _mini(spark)
    out = dsl.search(spark, df, {
        "query": {"match": {"text": "apple banana"}},
        "rescore": {"window_size": 1, "query": {
            "rescore_query": {"match": {"text": "pie"}},
            "rescore_query_weight": 10.0}},
        "size": 10}, key="id")
    rows = out.collect()
    assert len(rows) == 3  # nothing dropped past the window
    # QueryRescorer.combine: the rescored WINDOW block stays first — a
    # tail hit is never promoted above it, whatever its raw score
    primary = dsl.search(spark, df, {
        "query": {"match": {"text": "apple banana"}}, "size": 10}, key="id").collect()
    assert rows[0]["id"] == primary[0]["id"]
    assert [r["id"] for r in rows[1:]] == [r["id"] for r in primary[1:]]


def test_knn_list_filter(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 0.0], "a"), (2, [0.9, 0.1], "b"), (3, [0.0, 1.0], "a")],
        "id long, v array<double>, tag string")
    out = dsl.search(spark, df, {"knn": {
        "field": "v", "query_vector": [1.0, 0.0], "k": 2,
        "filter": [{"term": {"tag": "a"}}]}, "size": 2}, key="id")
    assert [r["id"] for r in out.collect()] == [1, 3]


def test_bare_string_sort_and_msm_percent(spark):
    df = _mini(spark)
    out = dsl.search(spark, df, {"query": {"match_all": {}}, "sort": "id", "size": 10}, key="id")
    assert [r["id"] for r in out.collect()] == [1, 2, 3]
    # 75% of 2 terms (truncating) = 1 → doc needs >= 1 of the terms
    out2 = dsl.search(spark, df, {"query": {"match": {"text": {
        "query": "banana bread", "minimum_should_match": "75%"}}}, "size": 10}, key="id")
    assert {r["id"] for r in out2.collect()} == {2}
    from elasticsearch_spark.plans.dsl import resolve_msm

    assert resolve_msm("75%", 4) == 3
    assert resolve_msm("-25%", 4) == 3
    assert resolve_msm(-1, 4) == 3
    assert resolve_msm("2<75%", 2) == 2   # n <= k: all required
    assert resolve_msm("2<75%", 4) == 3

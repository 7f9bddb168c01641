"""Percolator (reverse search): stored queries evaluated as predicate
columns over the documents frame — one scan, no shuffle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.operators.percolate import percolate


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "spark joins data", "en", 100),
        (2, "slow batch job", "en", 400),
        (3, "spark streaming fast", "de", 250),
        (4, "nothing relevant", "fr", 50),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, n_chars int").cache()


def test_percolate_matches_stored_queries(spark, corpus):
    stored = [
        ("q_spark", {"match": {"text": "spark"}}),
        ("q_en_long", {"bool": {"filter": [
            {"term": {"lang": "en"}},
            {"range": {"n_chars": {"gte": 200}}}]}}),
        ("q_none", {"term": {"lang": "zh"}}),
    ]
    got = {(r["query_id"], r["doc_id"]) for r in percolate(corpus, stored).collect()}
    assert got == {("q_spark", 1), ("q_spark", 3), ("q_en_long", 2)}


def test_percolate_queries_dataframe_form(spark, corpus):
    import json

    qdf = spark.createDataFrame(
        [("q1", json.dumps({"wildcard": {"text": {"value": "*stream*"}}}))],
        "query_id string, query_json string",
    )
    got = {(r["query_id"], r["doc_id"]) for r in percolate(corpus, qdf).collect()}
    assert got == {("q1", 3)}


def test_percolate_chunking(spark, corpus):
    stored = [(f"q{i}", {"term": {"doc_id": i % 4 + 1}}) for i in range(10)]
    got = percolate(corpus, stored, chunk_size=3).collect()
    assert len(got) == 10  # every query matches exactly its one doc
    assert all(int(r["query_id"][1:]) % 4 + 1 == r["doc_id"] for r in got)


def test_percolate_no_queries(spark, corpus):
    assert percolate(corpus, []).count() == 0


def test_percolate_query_kind(spark, tmp_path):
    """The percolate QUERY kind (PercolateQueryBuilder, modules/percolator
    10_basic.yml): a search against the queries index returns the stored
    queries the candidate document matches — inline document and
    index/id-referenced document forms."""
    import json

    from elasticsearch_spark.api import Engine

    es = Engine(spark, root=str(tmp_path / "pq"))
    es.create_index("queries_index", num_partitions=1)
    es.bulk("queries_index", spark.createDataFrame(
        [("q1", "placeholder", "en", json.dumps({"match_all": {}})),
         ("q2", "placeholder", "en",
          json.dumps({"term": {"color": {"value": "blue"}}}))],
        "url string, text string, lang string, query string"))
    out = es.search("queries_index", {"query": {"percolate": {
        "field": "query", "document": {"color": "red", "text": "x"}}}})
    assert sorted(r["url"] for r in out["hits"].collect()) == ["q1"]
    out = es.search("queries_index", {"query": {"percolate": {
        "field": "query", "document": {"color": "blue", "text": "x"}}}})
    assert sorted(r["url"] for r in out["hits"].collect()) == ["q1", "q2"]
    # by reference (percolate existing document)
    es.create_index("documents_index", num_partitions=1)
    es.bulk("documents_index", spark.createDataFrame(
        [("d1", "some text", "en", "blue")],
        "url string, text string, lang string, color string"))
    out = es.search("queries_index", {"query": {"percolate": {
        "field": "query", "index": "documents_index", "id": "d1"}}})
    assert sorted(r["url"] for r in out["hits"].collect()) == ["q1", "q2"]


# --------------------------------------------------------------------------
# QueryAnalyzer-analog candidate pruning (percolate_pruned)
# --------------------------------------------------------------------------

def _pairs(df):
    return {(r["query_id"], r["doc_id"]) for r in df.collect()}


def test_pruned_equivalence_all_shapes(spark, corpus):
    """The pruned path returns EXACTLY what the compile-everything path
    returns, across verified, unverified, and unanalyzable query shapes."""
    stored = [
        ("t_term", {"term": {"lang": "en"}}),                      # verified
        ("t_terms", {"terms": {"lang": ["de", "fr"]}}),            # verified
        ("t_term_num", {"term": {"doc_id": 3}}),                   # verified, numeric
        ("t_match_or", {"match": {"text": "spark batch"}}),        # verified
        ("t_match_and", {"match": {"text": {"query": "spark data",
                                            "operator": "and"}}}),  # candidate+verify
        ("t_phrase", {"match_phrase": {"text": "spark streaming"}}),
        ("t_ids", {"ids": {"values": [2, 4]}}),                    # verified on key
        ("t_range", {"range": {"n_chars": {"gte": 200}}}),         # unanalyzable
        ("t_wild", {"wildcard": {"text": {"value": "*stream*"}}}),  # unanalyzable
        ("t_bool", {"bool": {"filter": [
            {"term": {"lang": "en"}},
            {"range": {"n_chars": {"gte": 200}}}]}}),              # cand + verify
        ("t_dismax", {"dis_max": {"queries": [
            {"term": {"lang": "fr"}}, {"match": {"text": "joins"}}]}}),
        ("t_cs", {"constant_score": {"filter": {"term": {"lang": "de"}}}}),
        ("t_none", {"match_none": {}}),
        ("t_missing_field", {"term": {"nosuchfield": "x"}}),       # no candidates
    ]
    legacy = _pairs(percolate(corpus, stored, prune=False))
    pruned = _pairs(percolate(corpus, stored, prune=True))
    assert pruned == legacy
    # sanity on a few known answers
    assert ("t_term_num", 3) in pruned
    assert ("t_phrase", 3) in pruned and ("t_phrase", 1) not in pruned
    assert ("t_ids", 2) in pruned and ("t_ids", 1) not in pruned
    assert not any(q == "t_none" or q == "t_missing_field" for q, _ in pruned)


def test_pruned_10k_queries_driver_bounded(spark, corpus):
    """10k+ stored queries: driver compiles only the candidate/unanalyzable
    remainder (independent of the stored-query count), verified candidates
    never compile, and the doc frame is scanned once for tokens plus one
    chunk pass for the tiny remainder — the QueryAnalyzer-analog contract
    (ref modules/percolator/.../QueryAnalyzer.java:445,
    PercolatorFieldMapper.java:444)."""
    import json as _json

    from elasticsearch_spark.operators import percolate as perc

    n = 10_000
    rows = [(f"q{i}", _json.dumps({"match": {"text": f"nomatch{i}"}}))
            for i in range(n - 3)]
    rows += [
        ("q_hit", _json.dumps({"match": {"text": "spark"}})),       # verified
        ("q_and", _json.dumps({"match": {"text": {
            "query": "spark data", "operator": "and"}}})),          # verify-needed
        ("q_rng", _json.dumps({"range": {"n_chars": {"gte": 300}}})),  # unanalyzable
    ]
    qdf = spark.createDataFrame(rows, "query_id string, query_json string")
    got = {(r["query_id"], r["doc_id"])
           for r in percolate(corpus, qdf, prune=True).collect()}
    assert got == {("q_hit", 1), ("q_hit", 3), ("q_and", 1), ("q_rng", 2)}
    # driver-side compilation bounded by actual candidates, NOT by n
    assert perc.PRUNE_STATS["compiled"] == 2       # q_and + q_rng only
    assert perc.PRUNE_STATS["unanalyzable"] == 1   # q_rng
    assert perc.PRUNE_STATS["eval_chunks"] == 2    # one chunk per remainder class


def test_pruned_kind_separation_no_false_positives(spark):
    """Raw (term-level equality) and tok (analyzed containment) candidate
    kinds never cross: a verified term query must not match via an
    analyzed-token collision, integral aliasing of non-integral doubles
    must not occur, and case differences don't leak through the pruned
    passthrough — prune=True agrees with prune=False on all of them."""
    docs = spark.createDataFrame(
        [(1, "en-US", "Spark is great", 3.7, ["a"]),
         (2, "en", "plain text", 3.0, ["b"]),
         (3, "de", "spark spark", 2.0, ["c"])],
        "doc_id long, lang string, text string, price double, "
        "tags array<string>")
    stored = [
        ("t_en", {"term": {"lang": "en"}}),        # must NOT hit doc 1
        ("t_price3", {"term": {"price": 3}}),      # hits doc 2 only (3.0)
        ("t_spark", {"term": {"text": "spark"}}),  # raw equality: no doc
        ("m_spark", {"match": {"text": "spark"}}),  # analyzed: docs 1, 3
        ("i_2", {"ids": {"values": [2]}}),
        ("ts_zero", {"terms_set": {"tags": {
            "terms": ["zz"], "minimum_should_match_field_value": 0}}}),
    ]
    legacy = _pairs(percolate(docs, stored, prune=False))
    pruned = _pairs(percolate(docs, stored, prune=True))
    assert pruned == legacy
    assert ("t_en", 1) not in pruned and ("t_en", 2) in pruned
    assert ("t_price3", 2) in pruned and ("t_price3", 1) not in pruned
    assert not any(q == "t_spark" for q, _ in pruned)
    assert {d for q, d in pruned if q == "m_spark"} == {1, 3}
    # min_match 0 matches EVERY doc (unanalyzable, fully evaluated)
    assert {d for q, d in pruned if q == "ts_zero"} == {1, 2, 3}


def test_array_field_term_agreement(spark):
    """term/terms/terms_set on ARRAY columns agree between pruned and
    unpruned paths (TermQ/TermsQ are array-aware: any-element semantics,
    ES multi-value fields) — previously prune=False threw
    AnalysisException from `col == lit(v)` on the array column."""
    docs = spark.createDataFrame(
        [(1, ["red", "blue"], [3, 5]),
         (2, ["green"], [7]),
         (3, ["blue", "green"], [3]),
         (4, ["3", "true"], [9])],
        "doc_id long, tags array<string>, nums array<bigint>")
    stored = [
        # non-string literals on string elements compare as their
        # canonical strings (dsl._term_lit)
        ("t_int_tags", {"term": {"tags": 3}}),
        ("t_bool_tags", {"term": {"tags": True}}),
        ("t_blue", {"term": {"tags": "blue"}}),
        ("ts_rg", {"terms": {"tags": ["red", "green"]}}),
        ("t_n3", {"term": {"nums": 3}}),
        ("ts_37", {"terms": {"nums": [3, 7]}}),
    ]
    legacy = _pairs(percolate(docs, stored, prune=False))
    pruned = _pairs(percolate(docs, stored, prune=True))
    assert pruned == legacy
    assert {d for q, d in pruned if q == "t_blue"} == {1, 3}
    assert {d for q, d in pruned if q == "ts_rg"} == {1, 2, 3}
    assert {d for q, d in pruned if q == "t_n3"} == {1, 3}
    assert {d for q, d in pruned if q == "ts_37"} == {1, 2, 3}
    assert {d for q, d in pruned if q == "t_int_tags"} == {4}
    assert {d for q, d in pruned if q == "t_bool_tags"} == {4}


def test_numeric_vs_string_literal_kinds(spark):
    """num/raw extraction-kind separation: numeric literals match through
    Spark's numeric casts (3 hits scalar-string "3.0" and "1e3"→1000),
    string literals stay byte-exact ("3" must NOT hit "3.0") — and the
    pruned path agrees with the compile path on every combination."""
    docs = spark.createDataFrame(
        [(1, "3.0", 3.0), (2, "3", 3.5), (3, "3.5", 4.0),
         (4, "abc", None), (5, "1e3", 1000.0), (6, "true", 2.0),
         (7, "1", 5.0), (8, "9007199254740992", None),
         (9, "9007199254740993", None), (10, None, 9007199254740992.0)],
        "doc_id long, sval string, dval double")
    stored = [
        ("f3_s", {"term": {"sval": 3.0}}),     # float lit on string col
        ("i3_s", {"term": {"sval": 3}}),       # int lit on string col
        ("s3_s", {"term": {"sval": "3"}}),     # string lit: byte-exact
        ("i1000_s", {"term": {"sval": 1000}}),
        ("i3_d", {"term": {"dval": 3}}),       # int lit on double col
        ("s3_d", {"term": {"dval": "3"}}),     # string lit on double col
        ("s30_d", {"term": {"dval": "3.0"}}),
        ("b_true_s", {"term": {"sval": True}}),  # try_cast('boolean')
        ("s1e3_d", {"term": {"dval": "1e3"}}),   # non-canonical numeric
        ("s300_d", {"term": {"dval": "3.00"}}),  # string literals
        ("s1000_d", {"term": {"dval": "1000"}}),
        # above 2**53 a double cast conflates neighbours: exact compare
        ("ibig_s", {"term": {"sval": 9007199254740993}}),
        ("fbig_s", {"term": {"sval": 9007199254740992.0}}),
        # ...while on a double column the literal compares as a double:
        # 2**53 + 1 rounds to 2**53
        ("ibig_d", {"term": {"dval": 9007199254740993}}),
    ]
    legacy = _pairs(percolate(docs, stored, prune=False))
    pruned = _pairs(percolate(docs, stored, prune=True))
    assert pruned == legacy
    assert {d for q, d in pruned if q == "f3_s"} == {1, 2}
    assert {d for q, d in pruned if q == "i3_s"} == {1, 2}
    assert {d for q, d in pruned if q == "s3_s"} == {2}      # NOT doc 1
    assert {d for q, d in pruned if q == "i1000_s"} == {5}   # "1e3" == 1000
    assert {d for q, d in pruned if q == "i3_d"} == {1}
    assert {d for q, d in pruned if q == "s3_d"} == {1}
    assert {d for q, d in pruned if q == "s30_d"} == {1}
    assert {d for q, d in pruned if q == "b_true_s"} == {6, 7}
    assert {d for q, d in pruned if q == "s1e3_d"} == {5}
    assert {d for q, d in pruned if q == "s300_d"} == {1}
    assert {d for q, d in pruned if q == "s1000_d"} == {5}
    assert {d for q, d in pruned if q == "ibig_s"} == {9}
    assert {d for q, d in pruned if q == "fbig_s"} == {8}
    assert {d for q, d in pruned if q == "ibig_d"} == {10}


def test_qterms_broadcast_size_gate(spark, corpus, monkeypatch):
    """Above BROADCAST_QTERMS_MAX the candidate join falls back to a
    shuffle join (the extracted-terms table is O(Q × terms/query) and
    must not be broadcast unconditionally); results are identical."""
    from elasticsearch_spark.operators import percolate as perc

    stored = [
        ("q_spark", {"match": {"text": "spark"}}),
        ("q_en", {"term": {"lang": "en"}}),
    ]
    want = _pairs(percolate(corpus, stored, prune=True))
    monkeypatch.setattr(perc, "BROADCAST_QTERMS_MAX", 0)
    got = _pairs(percolate(corpus, stored, prune=True))
    assert got == want == {("q_spark", 1), ("q_spark", 3),
                           ("q_en", 1), ("q_en", 2)}

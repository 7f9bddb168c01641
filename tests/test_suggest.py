"""Term/phrase suggesters + _explain breakdown."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.operators.postings import build_index
from elasticsearch_spark.operators.suggest import explain, phrase_suggest, term_suggest
from elasticsearch_spark.operators.topk import search_topk


@pytest.fixture(scope="module")
def sug_index(spark, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("sug") / "idx")
    rows = [
        ("u1", "spark cluster computing framework", "en"),
        ("u2", "spark spark spark streaming", "en"),
        ("u3", "shark attack at the beach", "en"),
        ("u4", "sparse matrix computing", "en"),
    ]
    df = spark.createDataFrame(rows, "url string, text string, lang string").withColumn(
        "warc_ts", F.lit("2024-01-01").cast("timestamp")
    )
    build_index(spark, df, idx, num_partitions=2)
    return idx


def test_term_suggest_missing_mode(spark, sug_index):
    out = term_suggest(spark, sug_index, "spork computing").collect()
    # "computing" exists → skipped; "spork" → spark (dist 1, df 2) first
    toks = {r["token"] for r in out}
    assert toks == {"spork"}
    assert out[0]["suggestion"] == "spark" and out[0]["distance"] == 1
    # shark/sparse are distance-2 candidates behind spark
    assert [r["suggestion"] for r in out[:3]][0] == "spark"


def test_term_suggest_always_mode(spark, sug_index):
    out = term_suggest(spark, sug_index, "spark", suggest_mode="always").collect()
    sugg = {r["suggestion"] for r in out}
    assert "shark" in sugg or "sparse" in sugg
    assert "spark" not in sugg  # distance 0 excluded


def test_phrase_suggest_lm(spark, sug_index):
    from elasticsearch_spark.operators.suggest import build_bigram_lm

    build_bigram_lm(spark, sug_index)
    out = phrase_suggest(spark, sug_index, "spork computing", confidence=0.0).collect()
    assert out[0]["suggestion"] == "spark computing"
    scores = [r["score"] for r in out]
    assert scores == sorted(scores, reverse=True)


def test_phrase_suggest_bigram_context_wins(spark, tmp_path_factory):
    """The bigram LM overrides raw df: 'steam' is more frequent, but only
    'stream' follows 'data' in the corpus."""
    from elasticsearch_spark.operators.suggest import build_bigram_lm

    spark_ = spark
    idx = str(tmp_path_factory.mktemp("lm") / "idx")
    rows = [
        ("u1", "data stream processing", "en"),
        ("u2", "data stream engine", "en"),
        ("u3", "water steam turbine", "en"),
        ("u4", "hot steam engine", "en"),
        ("u5", "dry steam plant", "en"),
    ]
    df = spark_.createDataFrame(rows, "url string, text string, lang string").withColumn(
        "warc_ts", F.lit("2024-01-01").cast("timestamp")
    )
    from elasticsearch_spark.operators.postings import build_index

    build_index(spark_, df, idx, num_partitions=2)
    build_bigram_lm(spark_, idx)
    # term-level: steam (df 3) outranks stream (df 2) for 'stram'
    ts = term_suggest(spark_, idx, "stram", size=2).collect()
    assert ts[0]["suggestion"] == "steam"
    # phrase-level: the (data → stream) bigram flips the choice
    out = phrase_suggest(spark_, idx, "data stram", confidence=0.0).collect()
    assert out[0]["suggestion"] == "data stream"


def test_explain_sums_to_score(spark, sug_index):
    terms = ["spark", "computing"]
    hits = {
        r["url"]: r["score"]
        for r in search_topk(spark, sug_index, terms, k=10, fetch=True).collect()
    }
    ex = explain(spark, sug_index, terms, "u1").collect()
    assert {r["term"] for r in ex} == {"spark", "computing"}
    assert sum(r["contribution"] for r in ex) == pytest.approx(hits["u1"], rel=1e-9)


def test_completion_contexts(spark, tmp_path_factory):
    from elasticsearch_spark.operators.suggest import (
        build_completion_index,
        completion_suggest,
    )

    idx = str(tmp_path_factory.mktemp("comp") / "idx")
    import os

    os.makedirs(idx, exist_ok=True)
    sugg = spark.createDataFrame(
        [("spark summit", 10, "event"), ("spark streaming", 8, "tech"),
         ("spark sql", 9, "tech"), ("spartan race", 20, "event")],
        "s string, w long, cat string",
    )
    build_completion_index(spark, idx, sugg, input_col="s", weight_col="w",
                           contexts_col="cat")
    out = completion_suggest(spark, idx, "spar", size=3).collect()
    assert [r["suggestion"] for r in out] == ["spartan race", "spark summit", "spark sql"]
    tech = completion_suggest(spark, idx, "spar", size=3, contexts=["tech"]).collect()
    assert [r["suggestion"] for r in tech] == ["spark sql", "spark streaming"]


def test_term_suggest_popular_mode(spark, index_dir):
    from elasticsearch_spark.operators.suggest import term_suggest

    # "always": typo of a present term still gets suggestions
    out_always = term_suggest(spark, index_dir, "the", suggest_mode="always", max_edits=1)
    rows_always = out_always.collect()
    # "popular": only suggestions with df > df("the"); "the" is (near) the
    # most frequent term, so popular yields fewer (usually zero) rows
    out_pop = term_suggest(spark, index_dir, "the", suggest_mode="popular", max_edits=1)
    rows_pop = out_pop.collect()
    assert len(rows_pop) <= len(rows_always)
    # every popular suggestion beats the input's own df
    from elasticsearch_spark.operators.topk import IndexReader

    the_df = {t: df for t, (_, df) in IndexReader(spark, index_dir).term_weights(["the"]).items()}
    if the_df and rows_pop:
        assert all(r["df"] > the_df["the"] for r in rows_pop)


def test_search_body_suggest_routing(spark, tmp_path_factory):
    """The search body `suggest` section (SuggestBuilder) dispatches named
    entries to the suggesters over the target index."""
    import shutil as _sh

    from elasticsearch_spark.api import Engine

    root = str(tmp_path_factory.mktemp("sug_api"))
    _sh.rmtree(root, ignore_errors=True)
    es = Engine(spark, root=root)
    es.create_index("pages", num_partitions=2)
    rows = [
        ("u1", "spark cluster computing framework", "en"),
        ("u2", "spark spark streaming", "en"),
        ("u3", "sparse matrix computing", "en"),
    ]
    df = spark.createDataFrame(rows, "url string, text string, lang string").withColumn(
        "warc_ts", F.lit("2024-01-01").cast("timestamp"))
    es.bulk("pages", df)
    res = es.search("pages", {
        "query": {"match": {"text": "computing"}}, "size": 2,
        "suggest": {
            "text": "spork computing",
            "fix": {"term": {"field": "text", "size": 2}},
            "say": {"phrase": {"field": "text", "size": 1, "confidence": 0.0}},
            "auto": {"prefix": "spa", "completion": {"field": "text", "size": 3}},
        },
    })
    sug = res["suggest"]
    fix = sug["fix"].collect()
    assert any(r["suggestion"] == "spark" for r in fix)
    say = sug["say"].collect()
    assert say and say[0]["suggestion"] == "spark computing"
    auto = [r["suggestion"] for r in sug["auto"].collect()]
    assert set(auto) <= {"spark", "sparse"} and auto
    # hits still present alongside suggestions
    assert len(res["hits"].collect()) == 2
    import pytest as _pytest

    with _pytest.raises(ValueError):
        es.search("pages", {"suggest": {"bad": {"nope": {}}}})


def test_phrase_suggest_collate_and_highlight(spark, tmp_path):
    """PhraseSuggestionBuilder collate (render the {{suggestion}} template
    per candidate, ≥1 hit keeps; prune=true keeps all with collate_match)
    and changed-token highlighting."""
    from elasticsearch_spark.api import Engine

    es = Engine(spark, root=str(tmp_path / "sugc"))
    es.create_index("s", num_partitions=1)
    es.bulk("s", spark.createDataFrame(
        [(f"u{i}", "spark computing cluster engine", "en") for i in range(4)],
        "url string, text string, lang string"))
    out = es.search("s", {"suggest": {"fix": {
        "text": "spork computing",
        "phrase": {
            "confidence": 0.0,
            "highlight": {"pre_tag": "<em>", "post_tag": "</em>"},
            "collate": {
                "query": {"source": {"match": {"text": "{{suggestion}}"}}},
                "prune": True,
            },
        }}}})
    rows = out["suggest"]["fix"].collect()
    assert rows, "no suggestions"
    best = rows[0]
    assert best["suggestion"] == "spark computing"
    assert best["highlighted"] == "<em>spark</em> computing"
    assert best["collate_match"] is True
    # prune=false drops non-matching suggestions entirely
    out2 = es.search("s", {"suggest": {"fix": {
        "text": "spork computing",
        "phrase": {"confidence": 0.0, "collate": {
            "query": {"source": {"term": {"lang": {"value": "zz_{{suggestion}}"}}}}}},
    }}})
    assert out2["suggest"]["fix"].count() == 0

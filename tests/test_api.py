"""Engine facade end-to-end: the ES-client-shaped lifecycle."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.api import Engine

ROOT = "/tmp/es_spark_api_test"


@pytest.fixture(scope="module")
def es(spark):
    shutil.rmtree(ROOT, ignore_errors=True)
    eng = Engine(spark, root=ROOT)
    eng.create_index("pages", num_partitions=3)
    docs = spark.createDataFrame(
        [
            ("u1", "spark makes distributed computing simple", "en"),
            ("u2", "the lazy dog sleeps in the sun", "en"),
            ("u3", "spark streaming handles realtime data", "en"),
            ("u4", "dogs and cats live together", "de"),
            ("u5", "computing platforms compared in detail", "en"),
        ],
        "url string, text string, lang string",
    ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp"))
    eng.bulk("pages", docs)
    return eng


def test_index_lifecycle(es):
    assert es.indices() == ["pages"]
    assert es.count("pages") == 5


def test_search_match_through_index(es):
    res = es.search("pages", {"query": {"match": {"text": "spark computing"}}, "size": 5})
    hits = res["hits"].collect()
    assert {r["url"] for r in hits} == {"u1", "u3", "u5"}
    assert hits[0]["url"] == "u1"  # matches both terms


def test_search_with_aggs_and_filter(es):
    res = es.search("pages", {
        "query": {"term": {"lang": "en"}},
        "aggs": {"by_lang": {"terms": {"field": "lang"}}},
    })
    aggs = res["aggregations"]["by_lang"].collect()
    assert len(aggs) == 1 and aggs[0]["key"] == "en" and aggs[0]["doc_count"] == 4


def test_search_highlight(es):
    res = es.search("pages", {"query": {"match": {"text": "spark"}}, "highlight": True, "size": 3})
    hits = res["hits"].collect()
    assert any("<em>spark</em>" in (r["highlight"] or "") for r in hits)


def test_search_highlight_options(es):
    # HighlightBuilder options: custom tags + per-field override + type alias
    res = es.search("pages", {
        "query": {"match": {"text": "spark"}},
        "highlight": {
            "pre_tags": ["<b>"], "post_tags": ["</b>"],
            "type": "fvh",
            "fields": {"text": {"fragment_size": 60}},
        },
        "size": 3,
    })
    hits = res["hits"].collect()
    assert any("<b>spark</b>" in (r["highlight"] or "") for r in hits)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        es.search("pages", {"query": {"match": {"text": "spark"}},
                            "highlight": {"type": "nope"}, "size": 1})


def test_count_with_query(es):
    assert es.count("pages", {"term": {"lang": "de"}}) == 1
    assert es.count("pages", {"match": {"text": "dog"}}) == 1  # analyzed: 'dogs' ≠ 'dog'


def test_suggest_and_explain(es):
    sugg = es.suggest("pages", "spork").collect()
    assert sugg and sugg[0]["suggestion"] == "spark"
    ex = es.explain("pages", ["spark", "computing"], "u1").collect()
    assert {r["term"] for r in ex} == {"spark", "computing"}


def test_incremental_bulk_and_delete(es, spark):
    es.bulk("pages", spark.createDataFrame(
        [("u6", "a brand new walrus page", "en")], "url string, text string, lang string"
    ).withColumn("warc_ts", F.lit("2024-02-01").cast("timestamp")))
    assert es.count("pages") == 6
    assert es.count("pages", {"match": {"text": "walrus"}}) == 1
    es.delete("pages", ["u2"])
    assert es.count("pages") == 5


def test_delete_by_query_and_forcemerge(es):
    out = es.delete_by_query("pages", {"term": {"lang": "de"}})
    assert out["deleted"] == 1
    assert es.count("pages") == 4
    info = es.forcemerge("pages", segments_per_tier=10, floor_bytes=1)
    assert info["merges"] >= 1
    assert es.count("pages") == 4  # expunge does not change live counts


def test_update_by_query(es):
    es.update_by_query(
        "pages", {"match": {"text": "walrus"}}, "concat(text, ' extended')"
    )
    assert es.count("pages", {"match": {"text": "extended"}}) == 1
    assert es.count("pages") == 4


def test_reindex(es):
    es.create_index("pages_en")
    es.reindex("pages", "pages_en", query={"term": {"lang": "en"}})
    assert es.count("pages_en") == es.count("pages", {"term": {"lang": "en"}})
    res = es.search("pages_en", {"query": {"match": {"text": "spark"}}, "size": 5})
    assert res["hits"].count() >= 2


def test_search_phrase_through_index(es):
    res = es.search("pages", {"query": {"match_phrase": {"text": "distributed computing"}}, "size": 5})
    assert {r["url"] for r in res["hits"].collect()} == {"u1"}
    res2 = es.search("pages", {"query": {"match_phrase_prefix": {"text": "distributed comp"}}, "size": 5})
    assert {r["url"] for r in res2["hits"].collect()} == {"u1"}
    res3 = es.search("pages", {"query": {"intervals": {"text": {"match": {
        "query": "computing spark", "ordered": False}}}}, "size": 5})
    assert "u1" in {r["url"] for r in res3["hits"].collect()}


def test_span_near_through_index(es):
    body = {"query": {"span_near": {
        "clauses": [{"span_term": {"text": "distributed"}},
                    {"span_term": {"text": "computing"}}],
        "slop": 0, "in_order": True}}, "size": 5}
    assert {r["url"] for r in es.search("pages", body)["hits"].collect()} == {"u1"}
    # unordered with slop finds the reversed pair too
    body2 = {"query": {"span_near": {
        "clauses": [{"span_term": {"text": "computing"}},
                    {"span_term": {"text": "distributed"}}],
        "slop": 1, "in_order": False}}, "size": 5}
    assert {r["url"] for r in es.search("pages", body2)["hits"].collect()} == {"u1"}


def test_msearch_and_cross_index(es):
    outs = es.msearch([
        ("pages", {"query": {"match": {"text": "spark"}}, "size": 3}),
        ("pages_en", {"query": {"match": {"text": "spark"}}, "size": 3}),
    ])
    assert len(outs) == 2 and all(o["hits"].count() >= 2 for o in outs)
    multi = es.search_multi(["pages", "pages_en"], {
        "query": {"match": {"text": "spark"}}, "size": 20})
    rows = multi.collect()
    # same docs appear once per index, tagged
    assert {r["_index"] for r in rows} == {"pages", "pages_en"}


def test_engine_percolate(es):
    stored = [
        ("alert_spark", {"match": {"text": "spark"}}),
        ("alert_de", {"term": {"lang": "de"}}),
    ]
    got = {(r["query_id"], r["url"]) for r in es.percolate("pages", stored).collect()}
    assert ("alert_spark", "u1") in got and ("alert_spark", "u3") in got
    assert not any(q == "alert_de" for q, _ in got)  # u4 was deleted


def test_geo_and_script_sort(es, spark):
    from elasticsearch_spark.plans import dsl

    df = spark.createDataFrame(
        [(1, 10.0, {"lat": 48.8, "lon": 2.3}), (2, 5.0, {"lat": 40.7, "lon": -74.0}),
         (3, 20.0, {"lat": 48.9, "lon": 2.4})],
        "id long, v double, loc struct<lat:double,lon:double>",
    )
    near_paris = dsl.search(spark, df, {"query": {"match_all": {}}, "sort": [
        {"_geo_distance": {"loc": {"lat": 48.85, "lon": 2.35}, "order": "asc"}}]}, key="id")
    # 1 and 3 are both ~6.6 km out (3 wins: cos(48.9°) shrinks its lon leg);
    # 2 is an ocean away
    assert [r["id"] for r in near_paris.collect()] == [3, 1, 2]
    by_script = dsl.search(spark, df, {"query": {"match_all": {}}, "sort": [
        {"_script": {"script": {"source": "v * -1.0"}, "order": "asc"}}]}, key="id")
    assert [r["id"] for r in by_script.collect()] == [3, 1, 2]


def test_search_template(es):
    out = es.search_template("pages", {
        "source": '{"query": {"match": {"text": "{{q}}"}}, "size": {{size}}'
                  '{{#with_aggs}}, "aggs": {"langs": {"terms": {"field": "lang"}}}{{/with_aggs}}}',
        "params": {"q": "spark", "size": 3, "with_aggs": True},
    })
    assert {r["url"] for r in out["hits"].collect()} == {"u1", "u3"}
    assert "langs" in out["aggregations"]
    rendered = es.render_search_template({
        "source": '{"query": {"term": {"lang": "{{lang}}"}}{{^lang}}, "size": 1{{/lang}}}',
        "params": {"lang": "de"},
    })
    assert rendered == {"query": {"term": {"lang": "de"}}}


def test_field_caps_and_mget(es):
    caps = es.field_caps("pages")
    assert caps["text"]["type"] == "text" and not caps["text"]["aggregatable"]
    assert caps["lang"] == {"type": "keyword", "searchable": True, "aggregatable": True}
    got = es.mget("pages", ["u3", "u1", "zzz"])
    assert [r["url"] for r in got.collect()] == ["u3", "u1"]


def test_terms_enum(es):
    # text field: term-dictionary prefix enumeration, sorted ascending
    got = es.terms_enum("pages", field="text", string="s", size=100)
    assert got["terms"] == sorted(got["terms"])
    assert all(t.startswith("s") for t in got["terms"])
    assert {"spark", "streaming", "simple"} <= set(got["terms"])
    # size cutoff flips the complete flag
    cut = es.terms_enum("pages", field="text", string="s", size=2)
    assert len(cut["terms"]) == 2 and not cut["complete"]
    assert es.terms_enum("pages", field="text", string="spark")["complete"]
    # search_after resumes past the cursor
    after = es.terms_enum("pages", field="text", string="s",
                          size=2, search_after=cut["terms"][-1])
    assert after["terms"][0] > cut["terms"][-1]
    # keyword-style field: distinct LIVE doc values, sorted (the u4/"de"
    # doc was deleted by an earlier module test — must not reappear)
    langs = es.terms_enum("pages", field="lang", string="")
    assert "en" in langs["terms"] and "de" not in langs["terms"]
    assert langs["terms"] == sorted(langs["terms"]) and langs["complete"]
    # case_insensitive prefix
    ci = es.terms_enum("pages", field="lang", string="EN", case_insensitive=True)
    assert "en" in ci["terms"] and all(t.lower().startswith("en") for t in ci["terms"])
    assert es.terms_enum("pages", field="lang", string="EN")["terms"] == []


def test_validate_query(es):
    assert es.validate_query("pages", {"term": {"lang": "en"}})["valid"]
    bad = es.validate_query("pages", {"range": {"nope_field": {"gte": 1}}})
    assert not bad["valid"] and "nope_field" in bad["error"]


def test_rank_eval(es):
    requests = [{
        "id": "q1",
        "request": {"query": {"match": {"text": "spark computing"}}},
        "ratings": [{"_id": "u1", "rating": 3}, {"_id": "u3", "rating": 1},
                    {"_id": "u5", "rating": 0}],
    }]
    prec = es.rank_eval("pages", requests, {"precision": {"k": 3}})
    assert prec["details"]["q1"] == pytest.approx(2 / 3)
    mrr = es.rank_eval("pages", requests, {"mean_reciprocal_rank": {"k": 3}})
    assert mrr["metric_score"] == 1.0  # u1 ranks first
    ndcg = es.rank_eval("pages", requests, {"dcg": {"k": 3, "normalize": True}})
    assert 0.9 < ndcg["metric_score"] <= 1.0


def test_aliases_rollover_snapshot(spark, tmp_path):
    """Aliases (TransportIndicesAliasesAction), rollover
    (TransportRolloverAction), snapshot/restore (SnapshotsService)."""
    root = str(tmp_path / "lifecycle")
    eng = Engine(spark, root=root)
    eng.create_index("logs-000001", num_partitions=2)
    docs = spark.createDataFrame(
        [(f"u{i}", f"log line {i} with spark", "en") for i in range(6)],
        "url string, text string, lang string",
    ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp"))
    eng.update_aliases([{"add": {"alias": "logs", "index": "logs-000001",
                                 "is_write_index": True}}])
    eng.bulk("logs", docs)  # routes to the write index
    assert eng.count("logs") == 6

    # rollover: condition not met → no-op; met → new write index
    assert not eng.rollover("logs", max_docs=100)["rolled_over"]
    out = eng.rollover("logs", max_docs=5)
    assert out["rolled_over"] and out["new_index"] == "logs-000002"
    docs2 = spark.createDataFrame(
        [(f"v{i}", f"newer log {i} spark", "en") for i in range(3)],
        "url string, text string, lang string",
    ).withColumn("warc_ts", F.lit("2024-02-01").cast("timestamp"))
    eng.bulk("logs", docs2)  # lands in logs-000002
    assert eng.count("logs-000002") == 3 and eng.count("logs") == 9
    # alias search fans out across both indices
    hits = eng.search("logs", {"query": {"match": {"text": "spark"}}, "size": 20})["hits"]
    assert hits.count() == 9

    # snapshot is hard-linked (incremental) and restores under a new name
    repo = str(tmp_path / "repo")
    snap = eng.snapshot("logs-000001", repo, "snap1")
    assert snap["state"] == "SUCCESS" and snap["files"] > 0
    eng.delete("logs-000001", ["u0"])
    assert eng.count("logs-000001") == 5
    res = eng.restore(repo, "snap1", "logs-000001", rename_to="logs-restored")
    assert res["restored"] == "logs-restored"
    assert eng.count("logs-restored") == 6  # pre-delete state


def test_track_total_hits(es):
    out = es.search("pages", {"query": {"match": {"text": "spark"}}, "size": 1,
                              "track_total_hits": True})
    assert out["total"] == {"value": 2, "relation": "eq"}
    out2 = es.search("pages", {"query": {"match_all": {}}, "size": 1,
                               "track_total_hits": 3})
    assert out2["total"] == {"value": 3, "relation": "gte"}


def test_es_sql(es):
    out = es.sql(
        "SELECT url, SCORE() AS s FROM pages "
        "WHERE MATCH(text, 'spark computing') AND lang = 'en' "
        "ORDER BY SCORE() DESC, url LIMIT 3"
    ).collect()
    assert [r["url"] for r in out][0] == "u1"  # matches both terms
    assert {r["url"] for r in out} == {"u1", "u3", "u5"}
    assert out[0]["s"] > out[-1]["s"]
    # plain SQL (no fulltext extension) passes straight through
    plain = es.sql("SELECT lang, count(*) AS n FROM pages GROUP BY lang ORDER BY n DESC").collect()
    assert plain[0]["lang"] == "en" and plain[0]["n"] == 4
    # QUERY() uses query_string syntax
    qs = es.sql("SELECT url FROM pages WHERE QUERY('spark AND streaming') ORDER BY url").collect()
    assert [r["url"] for r in qs] == ["u3"]


def test_transform_pivot(es, tmp_path):
    # expected pivot derived from the live view (earlier tests in this
    # module add/delete docs — the pivot must mirror whatever is live)
    expected = {
        r["lang"]: r["n"]
        for r in es._docs_view("pages").groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    dest = str(tmp_path / "pivot_out")
    out = es.transform("pages", dest, {
        "group_by": {"language": {"terms": {"field": "lang"}}},
        "aggregations": {"n": {"value_count": {"field": "url"}}},
    })
    assert out["docs_written"] == len(expected)
    pivoted = {r["language"]: r["n"] for r in es.spark.read.parquet(dest).collect()}
    assert pivoted == expected


def test_graph_explore(es):
    out = es.graph_explore("pages", ["spark"], hops=1, size=5, min_doc_count=1)
    verts = {v[0] for v in out["vertices"]}
    assert "spark" in verts and "computing" in verts  # co-occurs in u1
    assert all(c[0] == "spark" for c in out["connections"])
    counts = {c[1]: c[2] for c in out["connections"]}
    assert counts["makes"] == 1


def test_data_stream(spark, tmp_path):
    root = str(tmp_path / "ds")
    eng = Engine(spark, root=root)
    out = eng.create_data_stream("metrics", num_partitions=2)
    assert out["backing_index"] == ".ds-metrics-000001"
    docs = spark.createDataFrame(
        [(f"m{i}", f"metric sample {i}", "en") for i in range(4)],
        "url string, text string, lang string",
    ).withColumn("warc_ts", F.lit("2024-05-01").cast("timestamp"))
    eng.bulk("metrics", docs)
    assert eng.count("metrics") == 4
    roll = eng.rollover("metrics", max_docs=3)
    assert roll["rolled_over"] and roll["new_index"] == ".ds-metrics-000002"
    eng.bulk("metrics", spark.createDataFrame(
        [("m9", "newer sample", "en")], "url string, text string, lang string"
    ).withColumn("warc_ts", F.lit("2024-05-02").cast("timestamp")))
    assert eng.count("metrics") == 5
    assert eng.count(".ds-metrics-000002") == 1


def test_msearch_template(es):
    outs = es.msearch_template([
        ("pages", {"source": '{"query": {"match": {"text": "{{q}}"}}, "size": 2}',
                   "params": {"q": "spark"}}),
        ("pages", {"source": '{"query": {"term": {"lang": "{{l}}"}}, "size": 5}',
                   "params": {"l": "en"}}),
    ])
    assert len(outs) == 2 and all(o["hits"].count() >= 1 for o in outs)


def test_index_templates(spark, tmp_path):
    eng = Engine(spark, root=str(tmp_path))
    eng.put_index_template(
        "logs_t", ["logs-*"], priority=10,
        settings={"analyzer": "whitespace", "num_partitions": 2},
    )
    eng.put_index_template(
        "catchall", ["*"], priority=1, settings={"num_partitions": 5},
    )
    eng.create_index("logs-2024")
    from elasticsearch_spark.sources import index_store as store
    meta = store.IndexMeta.load(eng._dir("logs-2024"))
    assert meta.analyzer == "whitespace"
    assert meta.num_partitions == 2
    # non-matching name falls to the catch-all
    eng.create_index("other")
    meta2 = store.IndexMeta.load(eng._dir("other"))
    assert meta2.analyzer == "standard" and meta2.num_partitions == 5
    # explicit args always win over template defaults
    eng.create_index("logs-explicit", num_partitions=3)
    meta3 = store.IndexMeta.load(eng._dir("logs-explicit"))
    assert meta3.num_partitions == 3


def test_get_update_cat_simulate_mtermvectors(es, spark):
    # fresh docs so earlier mutating tests (delete/update_by_query) can't
    # interfere with this one's expectations
    es.bulk("pages", spark.createDataFrame(
        [("x1", "grizzly bears eat honey honey", "en"),
         ("x2", "polar bears eat seals", "en")],
        "url string, text string, lang string",
    ).withColumn("warc_ts", F.lit("2024-03-01").cast("timestamp")))
    # get
    doc = es.get("pages", "x1")
    assert doc["text"].startswith("grizzly bears")
    assert es.get("pages", "nope") is None
    # cat_indices
    cats = {c["index"]: c for c in es.cat_indices()}
    assert cats["pages"]["docs.count"] >= 2
    # simulate pipeline
    out = es.simulate_pipeline(
        [{"uppercase": {"field": "v"}}], [{"v": "abc"}, {"v": "x"}]
    )
    assert [d["v"] for d in out] == ["ABC", "X"]
    # mtermvectors: one pass over two docs
    tv = es.mtermvectors("pages", ["x1", "x2"], term_statistics=True)
    rows = {(r.url, r.term): r for r in tv.collect()}
    assert rows[("x1", "honey")].term_freq == 2
    assert rows[("x1", "honey")].positions == [3, 4]
    assert rows[("x1", "bears")].df >= 2 and rows[("x2", "bears")].df >= 2
    # update (partial doc merge)
    es.update("pages", "x2", doc={"text": "polar bears nap"})
    assert es.get("pages", "x2")["text"] == "polar bears nap"


def test_point_in_time_pins_segments(spark, tmp_path):
    eng = Engine(spark, root=str(tmp_path))
    eng.create_index("pit_idx", num_partitions=1)
    eng.bulk("pit_idx", spark.createDataFrame(
        [("p1", "alpha target words", "en")],
        "url string, text string, lang string",
    ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp")))
    pit = eng.open_pit("pit_idx")
    # a doc indexed AFTER the PIT opened is invisible to PIT searches
    eng.bulk("pit_idx", spark.createDataFrame(
        [("p2", "another target document", "en")],
        "url string, text string, lang string",
    ).withColumn("warc_ts", F.lit("2024-01-02").cast("timestamp")))
    live = eng.search("pit_idx", {"query": {"match": {"text": "target"}}, "size": 10})
    assert live["hits"].count() == 2
    pinned = eng.search("pit_idx", {
        "query": {"match": {"text": "target"}}, "size": 10,
        "pit": {"id": pit["id"]},
    })
    assert [r.url for r in pinned["hits"].collect()] == ["p1"]
    assert eng.close_pit(pit["id"])["succeeded"] is True


def test_analyze_adhoc(es):
    toks = es.analyze_adhoc(
        "The QUICK brown foxes",
        tokenizer="standard",
        filters=["stop", ("stemmer", {"language": "porter"})],
    )
    assert toks == ["quick", "brown", "fox"]


def test_component_templates(es):
    es.put_component_template("base-settings", {"num_partitions": 5})
    es.put_component_template("sorted", {"index_sort": ["url", "asc"]})
    es.put_index_template(
        "logs-t", ["ctmpl-*"], priority=10,
        settings={"num_partitions": 7}, composed_of=["base-settings", "sorted"],
    )
    t = es._match_template("ctmpl-0001")
    # composed settings layered in order, own settings win
    assert t["settings"]["num_partitions"] == 7
    assert t["settings"]["index_sort"] == ["url", "asc"]
    import pytest as _pt
    with _pt.raises(ValueError, match="unknown component templates"):
        es.put_index_template("bad", ["x-*"], composed_of=["nope"])


def test_validate_query(es):
    assert es.validate_query("pages", {"query": {"term": {"lang": "en"}}})["valid"]
    out = es.validate_query("pages", {"query": {"bogus_kind": {}}})
    assert out["valid"] is False and "bogus_kind" in out["error"]
    expl = es.validate_query(
        "pages", {"query": {"term": {"lang": "en"}}, "explain": True}
    )
    assert expl["valid"] and "lang" in expl["explanation"]


def test_search_profile(es):
    res = es.search("pages", {"query": {"term": {"lang": "en"}}, "profile": True})
    assert "Scan" in res["profile"]["hits_plan"] or "Physical Plan" in res["profile"]["hits_plan"]
    # fast paths (top-level match -> index WAND) get the same shape
    res2 = es.search("pages", {"query": {"match": {"text": "spark"}}, "profile": True})
    assert "hits_plan" in res2["profile"]


def test_query_rules(spark, tmp_path):
    from pyspark.sql import functions as F

    from elasticsearch_spark.api import Engine
    from elasticsearch_spark.plans.rules import criterion_matches

    # criteria unit semantics (QueryRuleCriteria.java)
    assert criterion_matches({"type": "always"}, {})
    assert criterion_matches(
        {"type": "exact", "metadata": "q", "values": ["a", "b"]}, {"q": "b"})
    assert not criterion_matches(
        {"type": "exact", "metadata": "q", "values": ["a"]}, {"other": "a"})
    assert criterion_matches(
        {"type": "fuzzy", "metadata": "q", "values": ["shoes"]}, {"q": "shose"})
    assert criterion_matches(
        {"type": "contains", "metadata": "q", "values": ["oe"]}, {"q": "shoes"})
    assert criterion_matches(
        {"type": "gte", "metadata": "n", "values": [10]}, {"n": 10})
    assert not criterion_matches(
        {"type": "lt", "metadata": "n", "values": [10]}, {"n": "10"})

    eng = Engine(spark, root=str(tmp_path))
    eng.create_index("pages", num_partitions=1)
    docs = spark.createDataFrame(
        [("u1", "alpha beta", "en"), ("u2", "alpha", "en"),
         ("u3", "alpha gamma", "de"), ("u4", "unrelated", "en")],
        "url string, text string, lang string",
    ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp"))
    eng.bulk("pages", docs)
    eng.put_query_ruleset("promo", [
        {"rule_id": "pin-u4", "type": "pinned",
         "criteria": [{"type": "prefix", "metadata": "user_query", "values": ["alp"]}],
         "actions": {"ids": ["u4"]}},
        {"rule_id": "drop-u2", "type": "exclude",
         "criteria": [{"type": "exact", "metadata": "user_query", "values": ["alpha"]}],
         "actions": {"docs": [{"_id": "u2"}]}},
    ])
    assert eng.list_query_rulesets() == ["promo"]
    out = eng.search("pages", {"query": {"rule": {
        "organic": {"match": {"text": "alpha"}},
        "ruleset_ids": ["promo"],
        "match_criteria": {"user_query": "alpha"},
    }}, "size": 10})
    hits = [r["url"] for r in out["hits"].collect()]
    assert hits[0] == "u4"                  # pinned above organic
    assert "u2" not in hits                 # excluded
    assert set(hits) == {"u4", "u1", "u3"}
    # criteria that don't match leave the organic results untouched
    out2 = eng.search("pages", {"query": {"rule": {
        "organic": {"match": {"text": "alpha"}},
        "ruleset_ids": ["promo"],
        "match_criteria": {"user_query": "zzz"},
    }}, "size": 10})
    assert set(r["url"] for r in out2["hits"].collect()) == {"u1", "u2", "u3"}


def test_search_application(spark, tmp_path):
    from pyspark.sql import functions as F

    from elasticsearch_spark.api import Engine

    eng = Engine(spark, root=str(tmp_path))
    eng.create_index("pages", num_partitions=1)
    docs = spark.createDataFrame(
        [("u1", "alpha beta", "en"), ("u2", "gamma", "de")],
        "url string, text string, lang string",
    ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp"))
    eng.bulk("pages", docs)
    eng.put_search_application("app", ["pages"], {"script": {
        "source": '{"query": {"match": {"text": "{{q}}"}}, "size": {{size}}}',
        "params": {"q": "alpha", "size": 5},
    }})
    assert eng.list_search_applications() == ["app"]
    out = eng.search_application_search("app")
    assert [r["url"] for r in out["hits"].collect()] == ["u1"]
    out2 = eng.search_application_search("app", {"q": "gamma"})
    assert [r["url"] for r in out2["hits"].collect()] == ["u2"]
    eng.delete_search_application("app")
    assert eng.list_search_applications() == []


def test_stored_scripts(es, spark):
    es.put_script("len_chars", {"script": {
        "lang": "painless", "source": "length(text) * params.w",
        "params": {"w": 1.0}}})
    assert es.get_script("len_chars")["script"]["source"].startswith("length")
    # script query by id (param override at use site)
    hits = es.search("pages", {
        "query": {"bool": {
            "must": [{"match_all": {}}],
            "filter": [{"script": {"script": {"id": "len_chars",
                                              "params": {"w": 1.0}}}}],
        }},
        "script_fields": {"l": {"script": {"id": "len_chars"}}},
        "sort": [{"_script": {"script": {"id": "len_chars"}, "order": "desc"}},
                 "_score"],
        "size": 2,
    })
    rows = hits["hits"].collect()
    assert len(rows) == 2
    ls = [r["l"] for r in rows]
    assert ls == sorted(ls, reverse=True) and ls[0] > 0
    # persistence across a driver restart (fresh Engine, same root)
    from elasticsearch_spark.plans import dsl as _dsl
    _dsl.STORED_SCRIPTS.clear()
    es2 = Engine(spark, root=ROOT)
    out = es2.scripts_painless_execute(
        {"id": "len_chars"}, context_doc={"text": "abcd"})
    assert out["result"] == 4.0
    es.delete_script("len_chars")
    with pytest.raises(KeyError):
        es.get_script("len_chars")


def test_keyword_normalizer(es, spark):
    # own index: the module's shared "pages" mutates across tests
    es.create_index("kwnorm", num_partitions=2)
    docs = spark.createDataFrame(
        [("k1", "alpha", "de"), ("k2", "beta", "EN"), ("k3", "gamma", "én"),
         ("k4", "delta", "en")],
        "url string, text string, lang string",
    ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp"))
    es.bulk("kwnorm", docs)
    # lowercase+asciifolding normalizer: term-level queries become
    # case/accent-insensitive on BOTH sides
    es.put_mapping("kwnorm", {"properties": {
        "lang": {"type": "keyword", "normalizer": ["lowercase", "asciifolding"]}}})
    res = es.search("kwnorm", {"query": {"bool": {
        "must": [{"match_all": {}}],
        "filter": [{"term": {"lang": "DE"}}]}}, "size": 10})
    assert {r["url"] for r in res["hits"].collect()} == {"k1"}
    res2 = es.search("kwnorm", {"query": {"bool": {
        "must": [{"match_all": {}}],
        "filter": [{"terms": {"lang": ["É N".replace(" ", ""), "fr"]}}]}},
        "size": 10})
    assert {r["url"] for r in res2["hits"].collect()} == {"k2", "k3", "k4"}
    res3 = es.search("kwnorm", {"query": {"bool": {
        "must": [{"match_all": {}}],
        "filter": [{"prefix": {"lang": "É"}}]}}, "size": 10})
    assert {r["url"] for r in res3["hits"].collect()} == {"k2", "k3", "k4"}
    assert es.count("kwnorm", {"wildcard": {"lang": {"value": "E*"}}}) == 3
    # unmapped index keeps raw keyword semantics
    assert es.count("kwnorm", {"term": {"text": "ALPHA"}}) == 0
    es.delete_index("kwnorm")


def test_source_filtering(es):
    # list form keeps named source fields (plus hit metadata)
    res = es.search("pages", {"query": {"match": {"text": "spark"}},
                              "_source": ["lang"], "size": 2})
    cols = set(res["hits"].columns)
    assert "lang" in cols and "text" not in cols and "warc_ts" not in cols
    assert "url" in cols and "score" in cols
    # false drops all source fields, envelope survives
    res2 = es.search("pages", {"query": {"match": {"text": "spark"}},
                               "_source": False, "size": 1})
    assert "lang" not in res2["hits"].columns and "url" in res2["hits"].columns
    # includes/excludes with wildcards
    res3 = es.search("pages", {"query": {"match": {"text": "spark"}},
                               "_source": {"includes": ["*"], "excludes": ["text"]},
                               "size": 1})
    c3 = set(res3["hits"].columns)
    assert "text" not in c3 and "lang" in c3



def test_scroll_pages_with_concurrent_bulk_isolation(spark, tmp_path):
    """_scroll (Scroll.java / scroll/10_basic.yml): page the index
    end-to-end in 3 pages; a bulk landing mid-scroll must NOT leak into the
    open cursor (pinned PIT segments); clear_scroll drops the cursor."""
    from elasticsearch_spark.api import Engine

    eng = Engine(spark, root=str(tmp_path / "root"))
    eng.create_index("sc", num_partitions=2)
    rows = [(f"u{i:03d}", f"common text {i}", "en") for i in range(25)]
    eng.bulk("sc", spark.createDataFrame(rows, "url string, text string, lang string"))

    page1 = eng.search_scroll("sc", {"query": {"match": {"text": "common"}}, "size": 10})
    sid = page1["_scroll_id"]
    assert len(page1["hits"]) == 10
    # concurrent bulk mid-scroll: new docs with the same matching text
    eng.bulk("sc", spark.createDataFrame(
        [(f"zz{i}", f"common text new {i}", "en") for i in range(5)],
        "url string, text string, lang string"))
    # concurrent DELETE mid-scroll: tombstones are pinned at cursor open,
    # so a doc deleted after page 1 still appears on its later page
    # (ES scroll returns the snapshot-time view)
    eng.delete_by_query("sc", {"query": {"term": {"url": "u020"}}})
    page2 = eng.scroll(sid)
    page3 = eng.scroll(sid)
    page4 = eng.scroll(sid)
    got = [r["url"] for r in page1["hits"] + page2["hits"] + page3["hits"] + page4["hits"]]
    assert "u020" in got                              # delete did not leak
    assert len(page2["hits"]) == 10 and len(page3["hits"]) == 5
    assert page4["hits"] == []          # exhausted
    assert sorted(got) == sorted(r[0] for r in rows)  # all 25, no dupes
    assert not any(u.startswith("zz") for u in got)   # bulk did not leak
    # a FRESH search does see the new docs AND the delete
    fresh = eng.search("sc", {"query": {"match": {"text": "common"}}, "size": 50})
    assert fresh["hits"].count() == 29
    assert eng.clear_scroll(sid)["succeeded"]
    assert not eng.clear_scroll(sid)["succeeded"]
    import pytest as _pt
    with _pt.raises(ValueError, match="scroll id"):
        eng.scroll(sid)


def test_async_search_partial_reduces(spark, tmp_path):
    """Mid-flight async_search_get returns is_partial: true with partial
    hits/aggs reduced over ONLY the completed segment slice (x-pack
    async-search MutableSearchResponse snapshots) — computed LAZILY at get
    time, so an unpolled search pays zero partial-reduce cost."""
    import concurrent.futures

    from elasticsearch_spark.api import Engine

    eng = Engine(spark, root=str(tmp_path / "root"))
    eng.create_index("asx", num_partitions=4)
    rows = [(f"u{i:03d}", f"shared token{i % 3}", "en" if i % 2 else "de")
            for i in range(40)]
    eng.bulk("asx", spark.createDataFrame(rows, "url string, text string, lang string"))

    body = {"query": {"match": {"text": "shared"}}, "size": 5,
            "aggs": {"langs": {"terms": {"field": "lang"}}}}
    sub = eng.async_search_submit("asx", body)
    sid = sub["id"]
    final = eng.async_search_get(sid, wait_seconds=120)
    assert final["is_running"] is False and final["is_partial"] is False
    assert len(final["response"]["hits"]) == 5
    # no one polled mid-flight → no partial snapshot was ever computed,
    # and completion dropped the meta entry (no per-sid leak)
    assert sid not in eng._async_meta

    # deterministic mid-flight GET: a never-done future with live meta —
    # the get computes the partial reduce lazily and caches it
    eng._async_searches["pinned"] = concurrent.futures.Future()  # never done
    eng._async_meta["pinned"] = {"index": "asx", "body": body, "snap": None}
    mid = eng.async_search_get("pinned")
    assert mid["is_running"] is True and mid["is_partial"] is True
    snap = mid["response"]
    assert snap is not None
    assert snap["_shards"]["successful"] < snap["_shards"]["total"]
    assert snap["hits"]  # partial hits from completed segments
    langs = {r["key"]: r["doc_count"] for r in snap["aggregations"]["langs"]}
    assert langs and sum(langs.values()) < 40  # strictly partial agg frame
    # second poll reuses the cached snapshot (same object)
    assert eng.async_search_get("pinned")["response"] is snap
    # delete drops both registries
    eng.async_search_delete("pinned")
    assert "pinned" not in eng._async_meta


def test_allow_expensive_queries_gate(es):
    """search.allow_expensive_queries: false refuses the query types the
    reference gates (StringFieldType.java:64-206, ScriptQueryBuilder.java:129,
    SearchService.java:165) and re-enabling restores them."""
    es.put_cluster_settings(
        {"persistent": {"search.allow_expensive_queries": False}})
    try:
        for q in (
            {"prefix": {"url": {"value": "u"}}},
            {"wildcard": {"url": {"value": "u*"}}},
            {"regexp": {"url": {"value": "u[0-9]"}}},
            {"fuzzy": {"url": {"value": "u1", "fuzziness": 1}}},
            {"script": {"script": {"source": "doc['lang'].value == 'en'"}}},
        ):
            with pytest.raises(ValueError, match="allow_expensive_queries"):
                es.search("pages", {"query": q, "size": 3})
        # cheap queries still run (count vs the live frame, module order-proof)
        assert es.search("pages", {"query": {"term": {"lang": "en"}}, "size": 100})["hits"].count() >= 1
    finally:
        es.put_cluster_settings(
            {"persistent": {"search.allow_expensive_queries": None}})
    assert es.search("pages", {"query": {"prefix": {"url": {"value": "u"}}}, "size": 100})["hits"].count() >= 1
    # the setting round-trips through GET and survives a re-open
    es.put_cluster_settings({"persistent": {"search.allow_expensive_queries": False}})
    assert es.get_cluster_settings()["search.allow_expensive_queries"] is False
    from elasticsearch_spark.api import Engine as _E

    _E(es.spark, root=es.root)  # re-init applies persisted settings
    from elasticsearch_spark.plans import dsl as _dsl

    assert _dsl.ALLOW_EXPENSIVE_QUERIES is False
    es.put_cluster_settings({"persistent": {"search.allow_expensive_queries": None}})
    assert _dsl.ALLOW_EXPENSIVE_QUERIES is True


def test_lookup_runtime_field(spark, tmp_path):
    """runtime_mappings type:lookup (LookupRuntimeFieldType.java,
    search/390_lookup_fields.yml): broadcast-join enrichment from a lookup
    index, array-of-structs shape, NULL on no match."""
    from elasticsearch_spark.api import Engine

    es = Engine(spark, root=str(tmp_path))
    es.create_index("ip_locations", num_partitions=2)
    es.create_index("logs", num_partitions=2)
    locs = spark.createDataFrame(
        [("192.168.1.1", "Canada Montreal", "en"),
         ("192.168.1.3", "Canada Toronto", "en")],
        "url string, text string, lang string",
    ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp")) \
     .withColumn("city", F.element_at(F.split("text", " "), 2)) \
     .withColumn("country", F.element_at(F.split("text", " "), 1))
    es.bulk("ip_locations", locs)
    logs = spark.createDataFrame(
        [("log1", "The first message", "en", "192.168.1.1"),
         ("log2", "The second message", "en", "192.168.1.2")],
        "url string, text string, lang string, ip string",
    ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp"))
    es.bulk("logs", logs)
    res = es.search("logs", {
        "query": {"match_all": {}},
        "runtime_mappings": {"location": {
            "type": "lookup", "target_index": "ip_locations",
            "input_field": "ip", "target_field": "_id",
            "fetch_fields": ["city", "country"]}},
        "size": 10,
    })
    rows = {r["url"]: r for r in res["hits"].collect()}
    loc1 = rows["log1"]["location"]
    assert len(loc1) == 1 and loc1[0]["city"] == "Montreal" and loc1[0]["country"] == "Canada"
    assert rows["log2"]["location"] is None


def test_match_fast_path_keeps_its_options(es):
    """minimum_should_match reaches the index path; a body on another field
    takes the DSL path instead of scoring the text postings."""
    msm = {"query": {"match": {"text": {
        "query": "spark computing simple", "minimum_should_match": 2}}}, "size": 5}
    assert [r["url"] for r in es.search("pages", msm)["hits"].collect()] == ["u1"]
    def urls(query):
        return {r["url"] for r in es.search("pages", {"query": query, "size": 50})["hits"].collect()}

    want = urls({"term": {"lang": "en"}})
    assert want
    for kind in ("match", "match_phrase"):
        assert urls({kind: {"lang": "en"}}) == want, kind


@pytest.fixture(scope="module")
def cjk_es(spark):
    shutil.rmtree(ROOT + "_cjk", ignore_errors=True)
    eng = Engine(spark, root=ROOT + "_cjk")
    eng.create_index("cjk", analyzer="cjk", num_partitions=3)
    rows = [(f"c{i}", "東京タワー " + "東京 " * (i % 3) + "見物 " * i, "ja") for i in range(8)]
    eng.bulk("cjk", spark.createDataFrame(rows, "url string, text string, lang string")
             .withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp")))
    return eng


@pytest.mark.parametrize("query", [
    {"match": {"text": "東京"}},
    {"match_phrase": {"text": "東京タワー"}},
    {"intervals": {"text": {"match": {"query": "東京タワー", "ordered": True}}}},
    {"span_near": {"clauses": [{"span_term": {"text": "東京"}}, {"span_term": {"text": "タワー"}}],
                   "slop": 0, "in_order": True}},
], ids=["match", "match_phrase", "intervals", "span_near"])
def test_from_pages_the_index_ranking(cjk_es, query):
    """`from` stays on the index path: page 2 is ranks 3-4 of one page."""
    def ranked(**page):
        return [(r["url"], r["score"]) for r in cjk_es.search("cjk", {"query": query, **page})["hits"].collect()]

    full = ranked(size=4)
    assert len(full) == 4
    assert ranked(size=2, **{"from": 2}) == full[2:]

"""Regression tests for the round-2 review findings: stored-fields update
path, post_filter semantics (scores untouched, fast-path coverage), routed
op batches, epoch_millis precision, version pre-release numerics, flattened
keyword ranges, fields retrieval on index-path hits, HNSW null vectors."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

from elasticsearch_spark.api import Engine


@pytest.fixture(scope="module")
def es(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("fixes") / "root")
    eng = Engine(spark, root=root)
    eng.create_index("docs", num_partitions=4, num_shards=2)
    rows = [
        ("u1", "alpha beta gamma", "en", 7, [1.0, 0.0]),
        ("u2", "beta beta delta", "en", 3, [0.0, 1.0]),
        ("u3", "alpha delta", "de", 9, None),
    ]
    eng.bulk("docs", spark.createDataFrame(
        rows, "url string, text string, lang string, rank int, emb array<float>"
    ))
    return eng


def test_update_carries_custom_stored_fields(es, spark):
    # finding #1: update on a custom-field index must not trip the schema
    # guard, and must preserve the extras
    es.update("docs", "u2", {"text": "beta beta epsilon"})
    got = es.get("docs", "u2")
    assert got["text"] == "beta beta epsilon"
    assert got["rank"] == 3 and list(got["emb"]) == [0.0, 1.0]


def test_update_by_query_carries_custom_fields(es):
    es.update_by_query("docs", {"term": {"lang": "de"}}, "concat(text, ' zz')")
    got = es.get("docs", "u3")
    assert got["text"].endswith(" zz") and got["rank"] == 9


def test_routed_search_sees_op_batch_docs(es, spark):
    # finding #3: op batches route with the index's partition count, so a
    # routed search still finds the updated doc
    hits = es.search(
        "docs", {"query": {"match": {"text": "epsilon"}}, "size": 5}, routing="u2"
    )["hits"].collect()
    assert any(r["url"] == "u2" for r in hits)


def test_post_filter_does_not_change_scores(es):
    # finding #6: scores use full-corpus stats; post_filter only drops hits
    body = {"query": {"bool": {"should": [{"term": {"lang": "en"}},
                                          {"term": {"lang": "de"}}]}}, "size": 10}
    base = {r["url"]: r["_score"] for r in es.search("docs", body)["hits"].collect()}
    body_pf = dict(body, post_filter={"term": {"lang": "en"}})
    filt = {r["url"]: r["_score"] for r in es.search("docs", body_pf)["hits"].collect()}
    assert set(filt) < set(base)
    for u, s in filt.items():
        assert s == base[u]


def test_post_filter_on_phrase_fast_path(es):
    # finding #2: match_phrase + post_filter falls through to the DSL path
    out = es.search("docs", {
        "query": {"match_phrase": {"text": "alpha beta"}},
        "post_filter": {"term": {"lang": "de"}},
        "size": 5,
    })["hits"].collect()
    assert out == []  # the only "alpha beta" phrase doc is en
    with pytest.raises(ValueError, match="post_filter"):
        es.search("docs", {
            "query": {"span_term": {"text": "alpha"}},
            "post_filter": {"term": {"lang": "en"}},
        })


def test_fields_retrieval_on_index_fast_path(es):
    # finding #9: match fast-path hits lack doc columns; fields joins them
    out = es.search("docs", {
        "query": {"match": {"text": "beta"}},
        "fields": ["lang", "rank"],
        "size": 5,
    })["hits"].collect()
    assert out and all(r["fields.lang"] in ("en", "de") for r in out)
    assert all(r["fields.rank"] is not None for r in out)


def test_source_list_with_fields_on_index_fast_path(es):
    # a _source list keeps the dotted ``fields.<name>`` columns: they are
    # selected as column names, not struct paths
    out = es.search("docs", {
        "query": {"match": {"text": "alpha"}},
        "fields": ["lang"], "_source": ["url"], "size": 5,
    })["hits"]
    assert "fields.lang" in out.columns and "lang" not in out.columns
    assert {r["fields.lang"] for r in out.collect()} == {"en", "de"}


def test_epoch_millis_keeps_milliseconds(es, spark):
    # finding #5
    import datetime as dt

    eng = es
    eng.create_index("ts", num_partitions=2)
    eng.bulk("ts", spark.createDataFrame(
        [("t1", "hello world", "en", dt.datetime(2023, 1, 1, 0, 0, 0, 123000))],
        "url string, text string, lang string, warc_ts timestamp",
    ))
    out = eng.search("ts", {
        "query": {"match_all": {}},
        "docvalue_fields": [{"field": "warc_ts", "format": "epoch_millis"}],
    })["hits"].collect()
    assert out[0]["fields.warc_ts"] == "1672531200123"


def test_version_sort_numeric_prerelease_spark(spark):
    from elasticsearch_spark.plans.fields import version_sort_key

    vs = ["1.0.0-beta.10", "1.0.0-beta.2", "1.0.0-beta", "1.0.0"]
    df = spark.createDataFrame([(v,) for v in vs], "v string")
    got = [r.v for r in df.orderBy(version_sort_key("v")).collect()]
    # semver: beta < beta.2 < beta.10 < release
    assert got == ["1.0.0-beta", "1.0.0-beta.2", "1.0.0-beta.10", "1.0.0"]


def test_flattened_keyword_range(spark):
    from elasticsearch_spark.plans.dsl import SearchContext
    from elasticsearch_spark.plans.fields import FlattenedQ

    df = spark.createDataFrame(
        [("a", '{"tag": "beta"}'), ("b", '{"tag": "zeta"}')], "id string, props string"
    )
    ctx = SearchContext(df=df, key="id")
    q = FlattenedQ(fld="props", key="tag", op="range", gte="a", lte="m")
    got = sorted(r.id for r in df.where(q.predicate(ctx)).collect())
    assert got == ["a"]  # lexicographic: beta in [a, m], zeta not


def test_hnsw_build_skips_null_vectors(spark, tmp_path):
    # finding #7: docs without a vector are skipped, not a crash
    from elasticsearch_spark.operators.hnsw import build_hnsw_index, hnsw_topk

    rows = [(1, [1.0, 0.0]), (2, None), (3, [0.0, 1.0]), (4, [])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    path = str(tmp_path / "g")
    build_hnsw_index(df, "vec_id", "embedding", path, n_graphs=2, M=4, ef_construction=10)
    got = [r["key"] for r in hnsw_topk(spark, path, [1.0, 0.0], k=5).collect()]
    assert set(got) == {1, 3}


# --- api/aggs review batch (round 2 tail) -------------------------------------

def test_write_block_covers_all_mutation_paths(spark, tmp_path):
    from elasticsearch_spark.api import Engine

    es = Engine(spark, root=str(tmp_path))
    es.create_index("blk", num_partitions=1)
    es.bulk("blk", spark.createDataFrame(
        [("b1", "some words here", "en")],
        "url string, text string, lang string").withColumn(
        "warc_ts", F.lit("2024-01-01").cast("timestamp")))
    es.add_block("blk", "write")
    for call in (
        lambda: es.delete("blk", ["b1"]),
        lambda: es.delete_by_query("blk", {"match_all": {}}),
        lambda: es.update_by_query("blk", {"match_all": {}}, "upper(text)"),
    ):
        with pytest.raises(ValueError, match="blocked|read-only"):
            call()
    assert es.count("blk") == 1  # nothing leaked through


def test_reindex_preserves_custom_columns(spark, tmp_path):
    from elasticsearch_spark.api import Engine

    es = Engine(spark, root=str(tmp_path))
    es.create_index("src_cols", num_partitions=1)
    es.bulk("src_cols", spark.createDataFrame(
        [("c1", "text body", "en", 42)],
        "url string, text string, lang string, price long").withColumn(
        "warc_ts", F.lit("2024-01-01").cast("timestamp")))
    es.create_index("dst_cols", num_partitions=1)
    es.reindex("src_cols", "dst_cols")
    assert es.get("dst_cols", "c1")["price"] == 42


def test_rank_eval_without_request_id(spark, tmp_path):
    from elasticsearch_spark.api import Engine

    es = Engine(spark, root=str(tmp_path))
    es.create_index("re_idx", num_partitions=1)
    es.bulk("re_idx", spark.createDataFrame(
        [("r1", "alpha beta", "en"), ("r2", "gamma", "en")],
        "url string, text string, lang string").withColumn(
        "warc_ts", F.lit("2024-01-01").cast("timestamp")))
    out = es.rank_eval("re_idx", [
        {"request": {"query": {"match": {"text": "alpha"}}},
         "ratings": [{"_id": "r1", "rating": 1}]},
    ], {"precision": {}})
    assert out["metric_score"] == 1.0
    assert "#0" in out["details"]  # positional key space, collision-proof


def test_fast_path_honors_from(spark, tmp_path):
    from elasticsearch_spark.api import Engine

    es = Engine(spark, root=str(tmp_path))
    es.create_index("pg", num_partitions=1)
    es.bulk("pg", spark.createDataFrame(
        [(f"p{i}", "common word " + "extra " * i, "en") for i in range(6)],
        "url string, text string, lang string").withColumn(
        "warc_ts", F.lit("2024-01-01").cast("timestamp")))
    full = [r["url"] for r in es.search(
        "pg", {"query": {"match": {"text": "common"}}, "size": 6})["hits"].collect()]
    page2 = [r["url"] for r in es.search(
        "pg", {"query": {"match": {"text": "common"}}, "from": 2, "size": 2})["hits"].collect()]
    assert page2 == full[2:4]


def test_rollover_inherits_num_shards(spark, tmp_path):
    from elasticsearch_spark.api import Engine
    from elasticsearch_spark.sources import index_store as store

    es = Engine(spark, root=str(tmp_path))
    es.create_data_stream("logs_sh", num_partitions=4, num_shards=2)
    es.bulk("logs_sh", spark.createDataFrame(
        [("l1", "log line", "en")],
        "url string, text string, lang string").withColumn(
        "warc_ts", F.lit("2024-01-01").cast("timestamp")))
    res = es.rollover("logs_sh")
    meta = store.IndexMeta.load(es._dir(res["new_index"]))
    assert meta.num_shards == 2


def test_date_range_epoch_millis_and_zero_bound(spark):
    from elasticsearch_spark.plans import aggs

    df = spark.createDataFrame(
        [(1, "2023-11-15 00:00:00"), (2, "2023-11-13 00:00:00")],
        "id long, ts string").withColumn("ts", F.col("ts").cast("timestamp"))
    out = aggs.aggregate(df, {"dr": {"date_range": {"field": "ts", "ranges": [
        {"from": 1700000000000, "key": "recent"},           # epoch MILLIS
        {"to": 0, "key": "before_epoch"},                    # 0 is a bound
    ]}}})
    rows = {r["key"]: r["doc_count"] for r in out["dr"].collect()}
    assert rows.get("recent") == 1          # 2023-11-15 > 2023-11-14T22:13Z
    assert "before_epoch" not in rows or rows["before_epoch"] == 0


def test_date_histogram_fill_1M_alias(spark):
    from elasticsearch_spark.plans import aggs

    df = spark.createDataFrame(
        [(1, "2024-01-05 00:00:00"), (2, "2024-03-07 00:00:00")],
        "id long, ts string").withColumn("ts", F.col("ts").cast("timestamp"))
    out = aggs.aggregate(df, {"h": {"date_histogram": {
        "field": "ts", "calendar_interval": "1M", "min_doc_count": 0}}})
    rows = out["h"].collect()
    assert len(rows) == 3  # Jan, Feb(filled 0), Mar
    assert rows[1]["doc_count"] == 0


def test_percentiles_honor_missing(spark):
    from elasticsearch_spark.plans import aggs

    df = spark.createDataFrame([(1, 10.0), (2, None), (3, 30.0)], "id long, v double")
    out = aggs.aggregate(df, {"p": {"percentiles": {
        "field": "v", "percents": [50], "missing": 20.0}}})
    assert out["p"].collect()[0]["p.50"] == 20.0
    out2 = aggs.aggregate(df, {"pr": {"percentile_ranks": {
        "field": "v", "values": [25], "missing": 20.0}}})
    assert abs(out2["pr"].collect()[0]["pr.25"] - 200.0 / 3) < 1e-9


# ---- round-3 ADVICE fixes ----

def test_nested_sibling_bucket_aggs_no_ambiguity(spark):
    """Two sibling terms sub-aggs under one nested path used to join with
    duplicate doc_count columns (AMBIGUOUS_REFERENCE on any downstream
    select); colliding columns now namespace as '<agg>.<col>'."""
    from elasticsearch_spark.plans import aggs

    rows = [
        (1, [{"who": "ann", "tag": "x", "stars": 5}, {"who": "bob", "tag": "y", "stars": 3}]),
        (2, [{"who": "ann", "tag": "x", "stars": 1}]),
    ]
    df = spark.createDataFrame(
        rows, "id long, comments array<struct<who:string, tag:string, stars:int>>")
    out = aggs.aggregate(df, {"n": {"nested": {"path": "comments"}, "aggs": {
        "by_who": {"terms": {"field": "who"}},
        "by_tag": {"terms": {"field": "tag"}},
    }}})["n"]
    cols = out.columns
    assert "by_who.doc_count" in cols and "by_tag.doc_count" in cols
    got = {r["key"]: r for r in out.collect()}
    assert got["ann"]["by_who.doc_count"] == 2
    assert got["x"]["by_tag.doc_count"] == 2
    # single-sub case keeps flat names (oracle compatibility)
    single = aggs.aggregate(df, {"n": {"nested": {"path": "comments"}, "aggs": {
        "by_who": {"terms": {"field": "who"}}}}})["n"]
    assert "doc_count" in single.columns


def test_put_settings_prevalidates_similarity(spark, tmp_path):
    from elasticsearch_spark.api import Engine

    eng = Engine(spark, root=str(tmp_path / "root"))
    eng.create_index("pv", num_partitions=2, num_shards=1)
    with pytest.raises(ValueError):
        eng.put_settings("pv", {"index": {
            "blocks": {"write": True},
            "similarity": {"default": {"k1": "not_a_number"}},
        }})
    # validation failed BEFORE any mutation: write block must NOT be set
    eng.bulk("pv", spark.createDataFrame(
        [("u1", "hello world", "en")], "url string, text string, lang string"))


def test_rank_eval_positional_ids_cannot_collide(es):
    reqs = [
        {"id": "#0", "request": {"query": {"match": {"text": "alpha"}}},
         "ratings": [{"_id": "u1", "rating": 1}]},
        {"request": {"query": {"match": {"text": "beta"}}},
         "ratings": [{"_id": "u2", "rating": 1}]},
    ]
    out = es.rank_eval("docs", reqs, {"precision": {"k": 3}})
    assert len(out["details"]) == 2  # explicit "#0" + positional "#1"
    with pytest.raises(ValueError):
        es.rank_eval("docs", [
            {"id": "dup", "request": {"query": {"match_all": {}}},
             "ratings": [{"_id": "u1", "rating": 1}]},
            {"id": "dup", "request": {"query": {"match_all": {}}},
             "ratings": [{"_id": "u1", "rating": 1}]},
        ], {"precision": {"k": 3}})


def test_date_histogram_extended_bounds_non_utc_session(spark):
    """Epoch-millis extended_bounds must convert via the SESSION timezone —
    with a +04:00 session a naive-UTC conversion shifted the fill edges."""
    from elasticsearch_spark.plans import aggs

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Asia/Dubai")  # UTC+4
    try:
        df = spark.createDataFrame(
            [(1, "2024-01-03 00:00:00")], "id long, ts string"
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        # bounds: 2024-01-01T00:00 .. 2024-01-05T00:00 IN SESSION TZ
        import datetime as dt
        from zoneinfo import ZoneInfo

        tz = ZoneInfo("Asia/Dubai")
        lo = int(dt.datetime(2024, 1, 1, tzinfo=tz).timestamp() * 1000)
        hi = int(dt.datetime(2024, 1, 5, tzinfo=tz).timestamp() * 1000)
        out = aggs.aggregate(df, {"h": {"date_histogram": {
            "field": "ts", "calendar_interval": "1d", "min_doc_count": 0,
            "extended_bounds": {"min": lo, "max": hi}}}})["h"]
        rows = out.collect()
        assert len(rows) == 5  # Jan 1..5 exactly, no offset-shifted edge bucket
        # collected keys are naive DRIVER-LOCAL datetimes — re-frame to the
        # session zone to assert the wall-clock bucket boundaries
        got_days = [
            dt.datetime.fromtimestamp(r["key"].timestamp(), tz=tz).day
            for r in rows
        ]
        assert got_days == [1, 2, 3, 4, 5]
        assert {r["key"]: r["doc_count"] for r in rows}  # data bucket kept
        assert sum(r["doc_count"] for r in rows) == 1
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_change_point_capped(spark):
    """ES|QL CHANGE_POINT refuses an uncapped driver collect (>100k points)."""
    from elasticsearch_spark.plans import esql

    df = spark.range(0, 100_001).select(
        F.col("id").alias("k"), (F.col("id") * 1.0).alias("v"))
    with pytest.raises(ValueError, match="CHANGE_POINT input exceeds"):
        esql.esql(spark, "FROM t | CHANGE_POINT v ON k", tables={"t": df}).collect()
    # under the cap still works
    small = spark.createDataFrame(
        [(i, 1.0 if i < 10 else 50.0) for i in range(20)], "k int, v double")
    out = esql.esql(spark, "FROM t | CHANGE_POINT v ON k", tables={"t": small})
    hits = [r for r in out.collect() if r["type"] is not None]
    assert len(hits) == 1 and hits[0]["k"] == 10


def test_tombstones_range_sliced_and_reconciled(spark, tmp_path):
    """Delete-heavy path: tombstone reads are per-segment range slices and
    the post-merge reconciliation is a driver-side rewrite of the
    committed set less the expunged ids."""
    import numpy as np

    from elasticsearch_spark.api import Engine
    from elasticsearch_spark.operators import ops as ops_mod

    eng = Engine(spark, root=str(tmp_path / "root"))
    eng.create_index("dh", num_partitions=4, num_shards=2)
    rows = [(f"u{i:04d}", f"word{i % 50} common text", "en") for i in range(400)]
    eng.bulk("dh", spark.createDataFrame(rows, "url string, text string, lang string"))
    # tombstone 3/4 of the corpus
    eng.delete_by_query("dh", {"script": {"script": {
        "source": "substring(url, 2, 4) % 4 != 0"}}})
    idx = eng._dir("dh")
    full = ops_mod.read_tombstones(idx)
    assert len(full) == 300
    # range read returns exactly the slice
    lo, hi = int(full[10]), int(full[20])
    sl = ops_mod.read_tombstones_range(idx, lo, hi)
    assert sl.min() >= lo and sl.max() <= hi
    assert np.array_equal(sl, full[(full >= lo) & (full <= hi)])
    # the reader's per-segment masks (each ⊆ full) cover the full set
    reader = eng._reader("dh")
    per_seg = [reader.deleted(s) for s in reader.segs]
    assert set(np.concatenate(per_seg).tolist()) == set(full.tolist())
    # search still correct: only live docs
    hits = eng.search("dh", {"query": {"match": {"text": "common"}}, "size": 500})
    assert hits["hits"].count() == 100
    # merge expunges + reconciles on the driver; tombstones now empty
    eng.forcemerge("dh")
    assert len(ops_mod.read_tombstones(idx)) == 0
    hits = eng.search("dh", {"query": {"match": {"text": "common"}}, "size": 500})
    assert hits["hits"].count() == 100


def test_percentiles_hdr_mode(spark):
    from elasticsearch_spark.plans import aggs

    df = spark.createDataFrame([(float(x),) for x in range(1, 1001)], "v double")
    out = aggs.aggregate(df, {"p": {"percentiles": {
        "field": "v", "percents": [50, 99],
        "hdr": {"number_of_significant_value_digits": 3}}}})["p"].collect()[0]
    # exact within the HDR bucket error (3 digits → rel err < 2^-10)
    assert abs(out["p.50"] - 500.5) / 500.5 < 2 ** -10 + 1e-9
    assert abs(out["p.99"] - 990.01) / 990.01 < 2 ** -10 + 1e-9
    # 1 significant digit: coarser buckets, still within its own bound
    out1 = aggs.aggregate(df, {"p": {"percentiles": {
        "field": "v", "percents": [50],
        "hdr": {"number_of_significant_value_digits": 1}}}})["p"].collect()[0]
    assert abs(out1["p.50"] - 500.5) / 500.5 < 2 ** -4


def test_percentile_ranks_tdigest_method(spark):
    from elasticsearch_spark.plans import aggs

    df = spark.createDataFrame(
        [(float(x),) for x in range(1, 1001)], "v double").repartition(4)
    out = aggs.aggregate(df, {"pr": {"percentile_ranks": {
        "field": "v", "values": [100, 500, 900],
        "method": "tdigest", "tdigest": {"compression": 200}}}})["pr"].collect()[0]
    assert abs(out["pr.100"] - 10.0) < 1.0
    assert abs(out["pr.500"] - 50.0) < 1.0
    assert abs(out["pr.900"] - 90.0) < 1.0
    # out-of-range values clamp to 0 / 100
    out2 = aggs.aggregate(df, {"pr": {"percentile_ranks": {
        "field": "v", "values": [0, 2000], "method": "tdigest"}}})["pr"].collect()[0]
    assert out2["pr.0"] == 0.0 and out2["pr.2000"] == 100.0


# ---- round-3 code-review batch (regex/scroll/resolve/lookup fixes) ----

def test_painless_jrepl_java_replacement_semantics():
    from elasticsearch_spark.functions.painless import compile_painless, execute

    def run(src):
        return execute(compile_painless(src), {})

    # \$ is a literal dollar (Matcher.quoteReplacement), $N is a group ref,
    # bare trailing $ stays literal instead of raising re.error
    assert run("'a-b'.replaceAll('-', '\\\\$')") == "a$b"
    assert run("'a-b'.replaceAll('-', 'x$')") == "ax$b"
    assert run("'12-34'.replaceAll('(\\\\d+)-(\\\\d+)', '$2:$1')") == "34:12"
    assert run("def m = /-/.matcher('a-b'); m.replaceAll('\\\\$')") == "a$b"


def test_painless_float_division_by_zero_is_java():
    import math

    from elasticsearch_spark.functions.painless import compile_painless, execute

    def run(src):
        return execute(compile_painless(src), {})

    assert run("1.0 / 0.0") == float("inf")
    assert run("-2.0 / 0.0") == float("-inf")
    assert math.isnan(run("0.0 / 0.0"))
    assert math.isnan(run("5.5 % 0.0"))


def test_is_painless_ignores_quoted_markers():
    from elasticsearch_spark.functions.painless import is_painless

    # SQL expressions whose only "markers" sit inside string literals must
    # stay on the JVM fast path (they predate the interpreter)
    assert not is_painless("replace(text, ';', ',')")
    assert not is_painless("concat(a, 'return')")
    assert not is_painless('upper("ctx.")')
    assert is_painless("def x = 1; return x")
    assert is_painless("doc['lang'].value =~ /^e/")


def test_scroll_custom_sort_with_source_filter(spark, tmp_path):
    import pyspark.sql.functions as F

    from elasticsearch_spark.api import Engine

    eng = Engine(spark, root=str(tmp_path / "scroll_src"))
    eng.create_index("ix", num_partitions=2)
    docs = spark.createDataFrame(
        [(f"u{i}", f"text {i}", "en", i) for i in range(7)],
        "url string, text string, lang string, n int",
    ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp"))
    eng.bulk("ix", docs)
    # custom sort field + _source includes used to crash on page 1 (sort
    # column projected away before the cursor read its keyset values)
    page = eng.search_scroll(
        "ix", {"sort": [{"n": "desc"}], "_source": ["text"], "size": 3})
    got = [r["n"] for r in page["hits"]]
    assert got == [6, 5, 4]
    page2 = eng.scroll(page["_scroll_id"])
    assert [r["n"] for r in page2["hits"]] == [3, 2, 1]
    # _source filtering still applied: lang dropped, text kept
    assert "lang" not in page["hits"][0].asDict()
    assert page["hits"][0]["text"] == "text 6"
    eng.clear_scroll(page["_scroll_id"])


def test_scroll_field_named_like_doc_not_rewritten(spark, tmp_path):
    import pyspark.sql.functions as F

    from elasticsearch_spark.api import Engine

    eng = Engine(spark, root=str(tmp_path / "scroll_ndocs"))
    eng.create_index("ix", num_partitions=2)
    docs = spark.createDataFrame(
        [("a", "x", 3), ("b", "y", 1), ("c", "z", 2)],
        "url string, text string, n_docs int",
    ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp"))
    eng.bulk("ix", docs)
    page = eng.search_scroll("ix", {"sort": ["n_docs"], "size": 3})
    # 'n_docs' contains the substring '_doc' but is a real field — it must
    # sort by n_docs, not silently become url order
    assert [r["url"] for r in page["hits"]] == ["b", "c", "a"]
    eng.clear_scroll(page["_scroll_id"])


def test_resolve_expand_wildcards_none_and_alias_state(spark, tmp_path):
    import pytest as _pt

    from elasticsearch_spark.api import Engine

    eng = Engine(spark, root=str(tmp_path / "resolve_none"))
    eng.create_index("logs-1", num_partitions=1)
    eng.create_index("logs-2", num_partitions=1)
    eng.update_aliases([{"add": {"alias": "lg", "index": "logs-1"}},
                        {"add": {"alias": "lg", "index": "logs-2"}}])
    eng.close_index("logs-2")
    # none: the wildcard is a literal name → index_not_found
    with _pt.raises(ValueError, match="index_not_found"):
        eng.resolve("logs-*", expand_wildcards="none")
    assert eng.resolve("logs-*", expand_wildcards="none",
                       ignore_unavailable=True) == []
    # alias-pattern expansion honors open/closed like direct matches
    assert eng.resolve("lg*") == ["logs-1"]
    assert sorted(eng.resolve("lg*", expand_wildcards="open,closed")) == \
        ["logs-1", "logs-2"]


def test_rank_eval_positional_key_never_collides(spark, tmp_path):
    import pyspark.sql.functions as F

    from elasticsearch_spark.api import Engine

    eng = Engine(spark, root=str(tmp_path / "rankeval"))
    eng.create_index("ix", num_partitions=1)
    docs = spark.createDataFrame(
        [("u1", "alpha beta"), ("u2", "alpha gamma")], "url string, text string",
    ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp"))
    eng.bulk("ix", docs)
    res = eng.rank_eval(
        "ix",
        [
            {"id": "#1", "request": {"query": {"match": {"text": "alpha"}}},
             "ratings": [{"_id": "u1", "rating": 1}]},
            {"request": {"query": {"match": {"text": "alpha"}}},
             "ratings": [{"_id": "u2", "rating": 1}]},
        ],
        {"precision": {"k": 2}},
    )
    # explicit '#1' + positional entry at position 1 coexist
    assert len(res["details"]) == 2


def test_expensive_gate_survives_second_engine(spark, tmp_path):
    import pytest as _pt

    from elasticsearch_spark.api import Engine
    from elasticsearch_spark.plans import dsl

    eng = Engine(spark, root=str(tmp_path / "gate_a"))
    eng.create_index("ix", num_partitions=1)
    import pyspark.sql.functions as F
    docs = spark.createDataFrame(
        [("u1", "hello world")], "url string, text string",
    ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp"))
    eng.bulk("ix", docs)
    eng.put_cluster_settings(
        {"persistent": {"search.allow_expensive_queries": False}})
    try:
        # instantiating a SECOND engine over a fresh root (the remote-
        # engine path) must NOT silently re-enable expensive queries
        Engine(spark, root=str(tmp_path / "gate_b"))
        with _pt.raises(Exception, match="expensive"):
            eng.search("ix", {"query": {"prefix": {"text": "hel"}}})
    finally:
        eng.put_cluster_settings(
            {"persistent": {"search.allow_expensive_queries": None}})
        assert dsl.ALLOW_EXPENSIVE_QUERIES is True


def test_lookup_field_multi_index_search(spark, tmp_path):
    import pyspark.sql.functions as F

    from elasticsearch_spark.api import Engine

    eng = Engine(spark, root=str(tmp_path / "lookup_multi"))
    for ix, urls in (("a1", ["u1"]), ("a2", ["u2"])):
        eng.create_index(ix, num_partitions=1)
        docs = spark.createDataFrame(
            [(u, f"text {u}", "k1" if u == "u1" else "k2") for u in urls],
            "url string, text string, ref string",
        ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp"))
        eng.bulk(ix, docs)
    eng.create_index("dim", num_partitions=1)
    dim = spark.createDataFrame(
        [("k1", "one", "d1"), ("k2", "two", "d2")],
        "url string, label string, text string",
    ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp"))
    eng.bulk("dim", dim)
    res = eng.search("a*", {
        "query": {"match_all": {}}, "size": 10,
        "runtime_mappings": {"joined": {
            "type": "lookup", "target_index": "dim", "input_field": "ref",
            "target_field": "url", "fetch_fields": ["label"]}},
    })
    rows = {r["url"]: r for r in res["hits"].collect()}
    # multi-index fan-out used to emit NULL for every lookup value
    assert rows["u1"]["joined"][0]["label"] == "one"
    assert rows["u2"]["joined"][0]["label"] == "two"

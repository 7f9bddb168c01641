"""Streaming ingest tests: micro-batch = bulk, checkpoint = translog,
searchable after each refresh; watermarked windowed aggregation."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.operators.merge import merge_index
from elasticsearch_spark.operators.topk import IndexReader, search_topk
from elasticsearch_spark.sources import index_store as store
from elasticsearch_spark.sources.pages import pages_pdf
from elasticsearch_spark.streaming import ingest
from tests.conftest import assert_term_stats_are_segment_sums

STREAM_DIR = "/tmp/es_spark_stream_test"


@pytest.fixture(scope="module")
def stream_dirs(spark):
    shutil.rmtree(STREAM_DIR, ignore_errors=True)
    src = f"{STREAM_DIR}/src"
    # two "arrival" files of pages, written before the stream starts
    pdf1, pdf2 = pages_pdf(120), pages_pdf(80, start=200)
    spark.createDataFrame(pdf1).write.parquet(f"{src}/a")
    spark.createDataFrame(pdf2).write.parquet(f"{src}/b")
    return src


def test_stream_ingest_builds_searchable_index(spark, stream_dirs):
    idx = f"{STREAM_DIR}/index"
    ckpt = f"{STREAM_DIR}/ckpt"
    schema = spark.read.parquet(f"{stream_dirs}/a").schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        f"{stream_dirs}/*"
    )
    q = ingest.start_indexing_stream(
        spark, stream, idx, ckpt, num_partitions=4, trigger={"availableNow": True}
    )
    q.awaitTermination(300)
    reader = IndexReader(spark, idx)
    docs = spark.read.parquet(*store.docs_glob(idx))
    assert reader.doc_count == docs.count()
    assert reader.doc_count > 150  # both batches landed (minus url dups)
    # multiple batches → multiple segment namespaces
    segs = {r["seg_id"] for r in docs.select("seg_id").distinct().collect()}
    assert len(segs) >= 2
    # searchable end-to-end
    hits = search_topk(spark, idx, ["the", "of"], k=5, fetch=False).collect()
    assert len(hits) == 5
    assert hits[0]["score"] >= hits[-1]["score"]


def test_stream_restart_is_exactly_once(spark, stream_dirs):
    """Re-running the drained stream from the same checkpoint must not
    rebuild or duplicate anything (translog replay semantics)."""
    idx = f"{STREAM_DIR}/index"
    ckpt = f"{STREAM_DIR}/ckpt"
    before = IndexReader(spark, idx).doc_count
    schema = spark.read.parquet(f"{stream_dirs}/a").schema
    stream = spark.readStream.schema(schema).parquet(f"{stream_dirs}/*")
    q = ingest.start_indexing_stream(
        spark, stream, idx, ckpt, num_partitions=4, trigger={"availableNow": True}
    )
    q.awaitTermination(300)
    assert IndexReader(spark, idx).doc_count == before


def test_replayed_micro_batch_keeps_df(spark, stream_dirs):
    """A micro-batch that Structured Streaming re-runs after a crash (its
    commit missing from the checkpoint) rebuilds nothing and leaves the
    reader's term statistics and the doc count as they were: df is read
    from the committed segments, so there is nothing to fold twice."""
    idx = f"{STREAM_DIR}/index"
    ckpt = f"{STREAM_DIR}/ckpt"
    assert_term_stats_are_segment_sums(spark, idx)
    before = IndexReader(spark, idx).term_stats()
    doc_count = IndexReader(spark, idx).doc_count
    last = max(int(n) for n in os.listdir(f"{ckpt}/commits") if n.isdigit())
    for name in (str(last), f".{last}.crc"):
        os.remove(f"{ckpt}/commits/{name}")
    schema = spark.read.parquet(f"{stream_dirs}/a").schema
    stream = spark.readStream.schema(schema).parquet(f"{stream_dirs}/*")
    q = ingest.start_indexing_stream(
        spark, stream, idx, ckpt, num_partitions=4, trigger={"availableNow": True}
    )
    q.awaitTermination(300)
    assert os.path.exists(f"{ckpt}/commits/{last}")  # the batch ran again
    assert IndexReader(spark, idx).term_stats().equals(before)
    assert IndexReader(spark, idx).doc_count == doc_count
    assert_term_stats_are_segment_sums(spark, idx)


def test_micro_batch_after_forcemerge_keeps_doc_count(spark, tmp_path):
    """A micro-batch committed after a forcemerge counts the merged
    segment's docs too: doc_count is the live segments' rows."""
    src, idx, ckpt = (str(tmp_path / n) for n in ("src", "index", "ckpt"))
    spark.createDataFrame(pages_pdf(120)).write.parquet(f"{src}/a")
    schema = spark.read.parquet(f"{src}/a").schema

    def drain():
        stream = spark.readStream.schema(schema).parquet(f"{src}/*")
        ingest.start_indexing_stream(
            spark, stream, idx, ckpt, num_partitions=4, trigger={"availableNow": True}
        ).awaitTermination(300)

    drain()
    merge_index(spark, idx, segments_per_tier=1 << 20, floor_bytes=1)
    assert len(store.list_segs(idx)) == 1
    spark.createDataFrame(pages_pdf(80, start=200)).write.parquet(f"{src}/b")
    drain()
    rows = spark.read.parquet(*store.docs_glob(idx)).count()
    assert rows > 150  # both batches
    assert IndexReader(spark, idx).doc_count == rows
    assert not os.path.exists(os.path.join(idx, "stats"))
    assert_term_stats_are_segment_sums(spark, idx)


def test_windowed_event_counts_plan(spark):
    """The watermarked windowed agg compiles and produces correct results
    when run over a bounded frame (batch semantics of the same plan)."""
    import datetime as dt

    rows = [
        (dt.datetime(2024, 1, 1, h, m), "click", 1.0)
        for h in range(3)
        for m in (0, 30)
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    out = ingest.windowed_event_counts(df, window="1 hour", watermark="2 hours")
    got = {(r["window_start"].hour, r["doc_count"]) for r in out.collect()}
    assert got == {(0, 2), (1, 2), (2, 2)}


def test_stateful_sessionize_stream(spark, tmp_path):
    """applyInPandasWithState sessionization: gap-split within a batch,
    event-time timeout closes idle sessions when the watermark advances."""
    import datetime as dt
    import time

    from elasticsearch_spark.streaming.sessionize import sessionize_stream

    src = str(tmp_path / "events_src")
    os.makedirs(src, exist_ok=True)
    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(rows, "user_id long, ts timestamp").coalesce(1)\
            .write.mode("overwrite").parquet(f"{src}/__tmp_{name}")
        import glob as g
        import shutil as sh
        for f in g.glob(f"{src}/__tmp_{name}/*.parquet"):
            sh.move(f, f"{src}/{name}.parquet")
        sh.rmtree(f"{src}/__tmp_{name}")

    # batch 1: user 1 has two sessions split by a >30min gap already
    write_batch("b1", [
        (1, base), (1, base + dt.timedelta(minutes=5)),
        (1, base + dt.timedelta(minutes=50)),  # new session (gap 45m)
        (2, base + dt.timedelta(minutes=1)),
    ])
    stream = spark.readStream.schema("user_id long, ts timestamp").parquet(src)
    out = sessionize_stream(stream, gap="30 minutes")
    q = (
        out.writeStream.format("memory").queryName("sessions")
        .outputMode("append").start()
    )
    try:
        q.processAllAvailable()
        got1 = spark.sql("select * from sessions").collect()
        # the first user-1 session closed by the in-batch gap split
        assert {(r["user_id"], r["n_events"]) for r in got1} == {(1, 2)}
        # batch 2: far-future event advances the watermark past end+gap
        write_batch("b2", [(9, base + dt.timedelta(hours=6))])
        q.processAllAvailable()
        # one more batch so the new watermark triggers the timeouts
        write_batch("b3", [(9, base + dt.timedelta(hours=7))])
        q.processAllAvailable()
        got2 = spark.sql("select * from sessions").collect()
        sessions = {(r["user_id"], r["n_events"]) for r in got2}
        assert (1, 1) in sessions and (2, 1) in sessions  # idle sessions closed
    finally:
        q.stop()


def test_transform_continuous(spark, tmp_path):
    from elasticsearch_spark.streaming.transform import transform_continuous

    src = str(tmp_path / "src")
    dest = str(tmp_path / "dest")
    ckpt = str(tmp_path / "ckpt")
    schema = "user string, value double"
    spark.createDataFrame(
        [("a", 1.0), ("a", 2.0), ("b", 10.0)], schema
    ).write.mode("append").parquet(src)
    pivot = {
        "group_by": {"user": {"terms": {"field": "user"}}},
        "aggregations": {"total": {"sum": {"field": "value"}}},
    }
    r1 = transform_continuous(spark, src, schema, dest, pivot, ckpt)
    got = {r.user: r.total for r in spark.read.parquet(dest).collect()}
    assert got == {"a": 3.0, "b": 10.0}
    assert r1["buckets"] == 2
    # second wave of files: the SAME checkpoint folds only the new docs
    # into the state store, and the dest reflects the full pivot
    spark.createDataFrame([("a", 4.0), ("c", 7.0)], schema).write.mode(
        "append"
    ).parquet(src)
    transform_continuous(spark, src, schema, dest, pivot, ckpt)
    got2 = {r.user: r.total for r in spark.read.parquet(dest).collect()}
    assert got2 == {"a": 7.0, "b": 10.0, "c": 7.0}


def test_dedup_stream_exact_first_wins(spark, tmp_path):
    """Streaming exact dedup: duplicates across micro-batches are dropped
    with first-arrival-wins, and the suppression survives a restart from
    the same checkpoint (state rides the checkpoint)."""
    import os

    from elasticsearch_spark.streaming.dedup import dedup_stream

    src = str(tmp_path / "src")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, "Hello  World"), (2, "other doc")], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{src}/b1")
    # batch 2: doc 3 duplicates doc 1 after normalization; doc 4 fresh
    spark.createDataFrame(
        [(3, "hello world"), (4, "third doc")], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{src}/b2")

    schema = spark.read.parquet(f"{src}/b1").schema

    def run():
        stream = spark.readStream.schema(schema).parquet(f"{src}/*")
        q = (
            dedup_stream(stream, "text")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    run()
    got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert 2 in got and 4 in got
    assert len(got & {1, 3}) == 1  # exactly one of the dup pair survives
    # restart: replaying a new duplicate batch must still suppress
    spark.createDataFrame(
        [(5, "HELLO   world"), (6, "brand new")], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{src}/b3")
    run()
    got2 = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert 6 in got2 and 5 not in got2
    assert len(got2) == len(got) + 1


def test_stream_commit_preserves_index_meta(spark, tmp_path):
    """The streaming ingest writes the index meta only when none exists:
    the analyzer_config/index_sort/num_shards/settings (and custom k1/b)
    that create_index or put_settings persisted survive its batches."""
    src, d, ckpt = (str(tmp_path / n) for n in ("src", "meta_idx", "ckpt"))
    os.makedirs(d)
    meta = store.IndexMeta(analyzer="standard", num_partitions=4,
                           analyzer_config=["standard", ["lowercase"]],
                           index_sort=["warc_ts", "desc"], num_shards=2,
                           settings={"custom": 1}, k1=0.9, b=0.3)
    meta.save(d)
    spark.createDataFrame(pages_pdf(20)).write.parquet(f"{src}/a")
    stream = spark.readStream.schema(spark.read.parquet(f"{src}/a").schema).parquet(f"{src}/*")
    ingest.start_indexing_stream(
        spark, stream, d, ckpt, num_partitions=4, trigger={"availableNow": True}
    ).awaitTermination(300)
    assert store.list_segs(d)  # a batch committed
    got = store.IndexMeta.load(d)
    assert got.analyzer_config == ["standard", ["lowercase"]]
    assert got.index_sort == ["warc_ts", "desc"]
    assert got.num_shards == 2 and got.settings == {"custom": 1}
    assert got.k1 == 0.9 and got.b == 0.3


def test_sessionize_late_event_widens_session_start():
    """An in-watermark late event earlier than the open session's start
    must widen the session backwards (the batch twin includes its span)."""
    import pandas as pd
    from elasticsearch_spark.streaming.sessionize import _session_fn

    class FakeState:
        def __init__(self): self._v = None; self.hasTimedOut = False
        @property
        def exists(self): return self._v is not None
        @property
        def get(self): return self._v
        def update(self, v): self._v = v
        def remove(self): self._v = None
        def setTimeoutTimestamp(self, t): pass

    fn = _session_fn(gap_us=60_000_000)
    st = FakeState()
    list(fn((1,), [pd.DataFrame({"ts": [pd.Timestamp("2024-01-01 00:10:00")]})], st))
    list(fn((1,), [pd.DataFrame({"ts": [pd.Timestamp("2024-01-01 00:09:30")]})], st))
    s, e, n = st.get
    assert pd.Timestamp(s * 1000) == pd.Timestamp("2024-01-01 00:09:30")
    assert n == 2

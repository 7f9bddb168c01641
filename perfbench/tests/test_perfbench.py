"""Tests of the benchmark itself (not collected by the repository's tier-1
``tests/`` run):

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import oracle, run, stats  # noqa: E402


def test_tail_follows_ten_samples_beyond_rule():
    assert stats.tail_level(19) is None
    assert stats.tail_level(20) == 50.0
    assert stats.tail_level(39) == 50.0
    assert stats.tail_level(40) == 75.0
    assert stats.tail_level(100) == 90.0
    assert stats.tail_level(199) == 90.0
    assert stats.tail_level(200) == 95.0
    assert stats.tail_level(1000) == 99.0
    assert stats.tail_level(10_000) == 99.9
    xs = list(np.random.default_rng(0).exponential(size=250))
    level, value = stats.tail(xs)
    assert level == 95.0
    assert value == pytest.approx(np.percentile(xs, 95.0))
    beyond = sum(x > value for x in xs)
    assert beyond >= 10


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == run.END_TO_END_UNITS
    assert layer == run.PER_LAYER_UNITS
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(run.LOOPS)
    assert {w["name"]: w["why"] for w in bench["workloads"]} == \
        {name: wl.why for name, wl in run.WORKLOADS.items()}


def test_smallfloat_matches_engine_norms():
    from elasticsearch_spark.functions.smallfloat import quantize_length

    ns = list(range(0, 5000)) + [2**20 + 12345, 2**30 - 1]
    assert [oracle.quantize_length(n) for n in ns] == [int(x) for x in quantize_length(np.array(ns))]


def test_event_log_folds_tasks_into_job_groups(tmp_path):
    from perfbench.trace import read_event_log

    def task(stage, launch, finish, run, gc, read=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish, "Getting Result Time": 0},
                "Task Metrics": {"Executor Run Time": run, "JVM GC Time": gc,
                                 "Executor Deserialize Time": 5, "Result Serialization Time": 0,
                                 "Input Metrics": {"Bytes Read": read}}}

    events = [
        {"Event": "SparkListenerJobStart", "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "ops.bulk",
                        "callSite.short": "collect at /x/elasticsearch_spark/operators/ops.py:483"}},
        task(0, 100, 200, 80, 4, read=1000),
        task(1, 100, 150, 45, 0),
        {"Event": "SparkListenerJobStart", "Stage IDs": [2], "Properties": {}},
        task(2, 0, 10, 10, 0),
    ]
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = read_event_log(str(tmp_path))
    bulk = groups["ops.bulk"]
    assert (bulk.jobs, bulk.tasks, bulk.run_ms, bulk.gc_ms, bulk.input_bytes) == (1, 2, 125, 4, 1000)
    assert bulk.sched_delay_ms == (100 - 80 - 5) + (50 - 45 - 5)
    assert dict(bulk.modules) == {"ops": 1}
    assert groups[""].tasks == 1 and groups["*"].tasks == 3 and groups["*"].jobs == 2


def test_tree_cpu_counts_children_and_teardown_waits_for_them():
    from perfbench import harness

    cpu0 = harness.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c",
                              "import time\nt = time.process_time()\n"
                              "while time.process_time() - t < 0.5: pass\n"
                              "time.sleep(30)"])
    try:
        deadline = time.monotonic() + 10
        while harness.tree_cpu_s() - cpu0 < 0.4 and time.monotonic() < deadline:
            time.sleep(0.05)
        assert harness.tree_cpu_s() - cpu0 >= 0.4
        procs = harness._descendants()
        assert child.pid in {p for p, _ in procs}
        harness._wait_gone(procs, timeout_s=0.2)  # the sleeping child is killed
        assert not any(map(harness._alive, procs))
    finally:
        child.kill()
        child.wait()


@pytest.fixture(scope="module")
def spark_work(tmp_path_factory):
    from perfbench import harness

    work = str(tmp_path_factory.mktemp("perfbench"))
    spark = harness.start_spark(work)
    yield spark, work
    harness.stop_jvm()


def test_oracle_agrees_with_engine_on_tiny_corpus(spark_work):
    """Every query kind and the whole nrt op cycle (bulk with updates,
    deletes, full merge) score identically in the engine and the oracle."""
    from perfbench import workloads as W
    from perfbench.trace import Tracer

    spark, work = spark_work
    wl = W.Workload("tiny", "test", pages=300, partitions=3, clients=1)
    log = W.Log()
    st = W.set_up(spark, wl, 5, work, log, Tracer(spark.sparkContext, False))
    assert log.failed == 0
    pool = W.hot_pool(st.draw)
    st.corpus = oracle.Corpus(W.standard_tokenize,
                              {t for qs in pool.values() for q in qs for t in q.terms})
    for u, t in zip(st.docs["url"], st.docs["text"]):
        st.corpus.add(u, t)
    checked = {k: 0 for k in pool}
    for kind, qs in pool.items():
        for q in qs[:6]:
            hits = [(r["url"], r["score"])
                    for r in st.es.search(W.INDEX, q.body())["hits"].collect()]
            assert W.check_hits(st.corpus, q, hits), (q, hits)
            checked[kind] += bool(hits)
    assert checked["or"] and checked["phrase"], checked

    docs, markers, deletes = W.round_ops(st, 5, 0)
    st.corpus.tracked.update(markers)
    st.es.bulk(W.INDEX, spark.createDataFrame(docs))
    for u, t in zip(docs["url"], docs["text"]):
        st.corpus.add(u, t)
    st.es.delete(W.INDEX, deletes)
    for u in deletes:
        st.corpus.delete(u)
    probe = [W.Query("or", (markers[0], markers[-1]))] + pool["or"][:4]
    for q in probe:
        hits = [(r["url"], r["score"]) for r in st.es.search(W.INDEX, q.body())["hits"].collect()]
        assert W.check_hits(st.corpus, q, hits), (q, hits)
    assert st.es.forcemerge(W.INDEX, **W.FULL_MERGE)["merges"] == 1
    st.corpus.expunge()
    for q in probe:
        hits = [(r["url"], r["score"]) for r in st.es.search(W.INDEX, q.body())["hits"].collect()]
        assert W.check_hits(st.corpus, q, hits), (q, hits)

"""Serving benchmark for the elasticsearch_spark engine.

    python3 perfbench/run.py --workload search_hot --seed 1 --seconds 8 --trace 0

Runs one named workload (``perfbench/workloads.py``) from a seed on one
``local[4]`` SparkSession, checks every result against the independent
oracle (``perfbench/oracle.py``), and prints, as the last stdout line, one
JSON object ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end metrics of BENCHMARK.json;
with ``--trace 1`` the run repeats the workload with the Spark event log on
and job groups around every engine call, and reports the per-layer metrics
instead (plus the traced-minus-untraced search latency as the tracing
overhead). A summary line before the result carries the tail latency,
repeat share, error rate and host-noise telemetry.

All files live under ``<checkout>/.perfbench`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

START = time.perf_counter()
# no new round or cycle starts after this many seconds of the run, so a
# slow host still ends well inside the 180 s a run may take
STOP_AFTER_S = 110.0

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import elasticsearch_spark  # noqa: E402,F401  (fail fast outside a checkout)

from perfbench import harness, probes  # noqa: E402
from perfbench.stats import median, tail  # noqa: E402
from perfbench.trace import Tracer, read_event_log  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    SAMPLE_DOCS,
    WORKLOADS,
    Log,
    run_nrt_mixed,
    run_search_hot,
    set_up,
)

END_TO_END_UNITS = {
    "setup_s": "s",
    "bytes_per_text_byte": "B/B",
    "search_cpu_ms": "ms",
    "op_cpu_ms": "ms",
    "python_peak_rss_mb": "MB",
}

PER_LAYER_UNITS = {
    "api.search.plan_ms": "ms",
    "api.search.collect_ms": "ms",
    "api.search.match_or_p50_ms": "ms",
    "api.search.match_and_p50_ms": "ms",
    "api.search.phrase_p50_ms": "ms",
    "topk.jobs_per_search": "count",
    "topk.tasks_per_search": "count",
    "topk.busy_share": "ratio",
    "topk.scheduler_delay_ms_per_task": "ms",
    "topk.input_mb_per_search": "MB",
    "topk.segments_per_search": "count",
    "topk.useful_segment_share": "ratio",
    "analysis.tokenize_mb_per_s": "MB/s",
    "codec.encode_mb_per_s": "MB/s",
    "codec.decode_mb_per_s": "MB/s",
    "codec.bytes_per_posting": "B",
    "postings.build_s": "s",
    "postings.busy_share": "ratio",
    "postings.gc_share": "ratio",
    "postings.shuffle_write_mb": "MB",
    "postings.output_mb": "MB",
    "merge.forcemerge_s": "s",
    "merge.rewritten_mb": "MB",
    "merge.segments_before": "count",
    "merge.segments_after": "count",
    "merge.busy_share": "ratio",
    "ops.bulk_p50_ms": "ms",
    "ops.jobs_per_bulk": "count",
    "ops.segments_added_per_bulk": "count",
    "ops.tombstones_per_bulk": "count",
    "store.live_segments": "count",
    "spark.gc_share": "ratio",
    "spark.scheduler_delay_ms": "ms",
    "trace.overhead_ms": "ms",
}

LOOPS = {"search_hot": run_search_hot, "nrt_mixed": run_nrt_mixed}


def _busy_wall_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + ((cur_e - cur_s) if cur_e is not None else 0.0)


def _share(num: float, den: float) -> float:
    return num / den if den else 0.0


def _p50_ms(searches) -> float:
    return median([r.total_s * 1e3 for r in searches])


def end_to_end(st, log: Log, python_rss_mb: float) -> dict:
    return {
        # CPU seconds, like the search metrics: see the README
        "setup_s": st.setup_cpu_s,
        "bytes_per_text_byte": st.index_bytes / st.text_bytes,
        "search_cpu_ms": 1e3 * _share(log.search_cpu_s, log.done),
        "op_cpu_ms": 1e3 * _share(log.op_cpu_s, log.ops),
        "python_peak_rss_mb": python_rss_mb,
    }


def per_layer(st, log: Log, groups: dict, probe: dict, untraced_p50_ms: float) -> dict:
    """Per-layer metrics of the traced pass. Metrics of a layer the
    workload does not call (merges in search_hot, say) read 0."""
    g = lambda prefix: [v for k, v in groups.items() if k.startswith(prefix)]  # noqa: E731
    srch = log.searches
    match = [r for r in srch if r.query.kind in ("or", "and")]
    match_groups = g("api.search.or") + g("api.search.and") + g("api.collect.or") + g("api.collect.and")
    all_search_groups = g("api.search.") + g("api.collect.")
    search_wall_ms = 1e3 * _busy_wall_s([(r.start, r.start + r.total_s) for r in srch])

    def kind_p50(kind):
        return _p50_ms([r for r in srch if r.query.kind == kind])

    def tot(gs, attr):
        return sum(getattr(x, attr) for x in gs)

    build = groups.get("postings.build")
    merges = g("merge.forcemerge")
    merge_wall_ms = 1e3 * sum(m["s"] for m in log.merges)
    ops_groups = g("ops.")
    session = groups["*"]
    n_match = len(match)
    return {
        "api.search.plan_ms": median([r.plan_s * 1e3 for r in srch]),
        "api.search.collect_ms": median([r.collect_s * 1e3 for r in srch]),
        "api.search.match_or_p50_ms": kind_p50("or"),
        "api.search.match_and_p50_ms": kind_p50("and"),
        "api.search.phrase_p50_ms": kind_p50("phrase"),
        "topk.jobs_per_search": _share(tot(match_groups, "jobs"), n_match),
        "topk.tasks_per_search": _share(tot(match_groups, "tasks"), n_match),
        "topk.busy_share": _share(tot(all_search_groups, "run_ms"), harness.CORES * search_wall_ms),
        "topk.scheduler_delay_ms_per_task": _share(tot(match_groups, "sched_delay_ms"),
                                                   tot(match_groups, "tasks")),
        "topk.input_mb_per_search": _share(tot(match_groups, "input_bytes") / 1e6, n_match),
        "topk.segments_per_search": median([r.segments for r in match]),
        "topk.useful_segment_share": _share(sum(r.useful_segments for r in match),
                                            sum(r.segments for r in match)),
        **probe,
        "postings.build_s": st.build_s,
        "postings.busy_share": _share(build.run_ms, harness.CORES * st.build_s * 1e3) if build else 0.0,
        "postings.gc_share": _share(build.gc_ms, build.run_ms) if build else 0.0,
        "postings.shuffle_write_mb": build.shuffle_write_bytes / 1e6 if build else 0.0,
        "postings.output_mb": st.index_bytes / 1e6,
        "merge.forcemerge_s": median([m["s"] for m in log.merges]),
        "merge.rewritten_mb": median([m["rewritten_bytes"] / 1e6 for m in log.merges]),
        "merge.segments_before": median([m["before"] for m in log.merges]),
        "merge.segments_after": median([m["after"] for m in log.merges]),
        "merge.busy_share": _share(tot(merges, "run_ms"), harness.CORES * merge_wall_ms),
        "ops.bulk_p50_ms": median([b["s"] * 1e3 for b in log.bulks]),
        "ops.jobs_per_bulk": _share(tot(ops_groups, "jobs"), len(log.bulks)),
        "ops.segments_added_per_bulk": median([b["segs_added"] for b in log.bulks]),
        "ops.tombstones_per_bulk": median([b["tombstones"] for b in log.bulks]),
        "store.live_segments": median([r.segments for r in srch if r.segments]),
        "spark.gc_share": _share(session.gc_ms, session.run_ms),
        "spark.scheduler_delay_ms": _share(session.sched_delay_ms, session.tasks),
        "trace.overhead_ms": _p50_ms(srch) - untraced_p50_ms,
    }


def run_untraced(wl, seed: int, seconds: float, work: str, log: Log, summary: dict) -> dict:
    t0 = time.perf_counter()
    spark = harness.start_spark(work)
    t1 = time.perf_counter()
    tracer = Tracer(spark.sparkContext, False)
    st = set_up(spark, wl, seed, work, log, tracer)
    t2 = time.perf_counter()
    LOOPS[wl.name](st, wl, seed, seconds, tracer, log, traced=False,
                   stop_by=START + STOP_AFTER_S)
    t3 = time.perf_counter()
    rss = harness.tree_peak_rss_mb()  # before the JVM and workers exit
    summary.update(rounds=len(log.bulks), setup_wall_s=round(st.setup_wall_s, 2),
                   phase_s={"spark_start": round(t1 - t0, 2), "set_up": round(t2 - t1, 2),
                            "workload": round(t3 - t2, 2)},
                   peak_rss_mb_by_process={k: round(v) for k, v in rss.items()})
    # the JVM's peak swings ±25% run to run with G1 heap sizing, so the
    # bounded metric counts the Python side; the JVM figure is in the summary
    return end_to_end(st, log, sum(v for k, v in rss.items() if k.startswith("python")))


def run_traced(wl, seed: int, seconds: float, work: str, log: Log, summary: dict) -> dict:
    """Two passes of the same seed on fresh SparkContexts (the JVM stays
    up), each with half the window, so a traced run takes about as long as
    two untraced ones."""
    stop_by = START + STOP_AFTER_S
    # pass 1: tracing off, same seed — the baseline for the overhead figure
    spark = harness.start_spark(work)
    off = Tracer(spark.sparkContext, False)
    st0 = set_up(spark, wl, seed, os.path.join(work, "untraced"), log, off)
    probe, bad = probes.codec_probe(st0.index_dir)
    if bad:
        log.fail("codec round trip: re-encoded streams differ from the stored bytes")
    probe["analysis.tokenize_mb_per_s"] = probes.tokenize_mb_per_s(
        list(st0.docs["text"][:SAMPLE_DOCS]))
    log0 = Log()
    LOOPS[wl.name](st0, wl, seed, seconds / 2, off, log0, traced=False, stop_by=stop_by)
    log.attempted += log0.attempted
    log.failed += log0.failed
    spark.stop()

    # pass 2: event log on, a job group around every engine call
    event_dir = os.path.join(work, "events")
    spark = harness.start_spark(work, event_dir=event_dir)
    on = Tracer(spark.sparkContext, True)
    st1 = set_up(spark, wl, seed, os.path.join(work, "traced"), log, on)
    LOOPS[wl.name](st1, wl, seed, seconds / 2, on, log, traced=True, stop_by=stop_by)
    spark.stop()
    groups = read_event_log(event_dir)
    summary.update(untraced_searches=len(log0.searches), rounds=len(log.bulks),
                   jobs_by_module={k: dict(v.modules) for k, v in groups.items() if k != "*"})
    return per_layer(st1, log, groups, probe, _p50_ms(log0.searches))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    wl = WORKLOADS[args.workload]
    work = harness.make_workdir(f"{wl.name}-s{args.seed}")
    log = Log()
    summary = {"workload": wl.name, "seed": args.seed, "trace": args.trace}
    try:
        with harness.HostTelemetry() as host:
            run = run_traced if args.trace else run_untraced
            metrics = run(wl, args.seed, args.seconds, work, log, summary)
    finally:
        harness.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(harness.WORK_ROOT)  # only when no other run is using it
        except OSError:
            pass

    lat = [r.total_s * 1e3 for r in log.searches]
    t = tail(lat)
    distinct = len({r.query for r in log.searches})
    by_kind = {}
    for r in log.searches:
        by_kind.setdefault(r.query.kind, []).append(r.total_s * 1e3)
    summary.update(
        searches=len(lat),
        search_p50_ms=round(median(lat), 1),
        search_qps=round(_share(log.done, log.window_s), 4),
        p50_ms_by_kind={k: [len(v), round(median(v), 1)] for k, v in sorted(by_kind.items())},
        tail_ms=None if t is None else {"percentile": t[0], "value": round(t[1], 3)},
        repeat_share=round(1 - distinct / len(lat), 4) if lat else 0.0,
        bulk_p50_ms=round(median([b["s"] * 1e3 for b in log.bulks]), 1),
        forcemerge_s=round(median([m["s"] for m in log.merges]), 3),
        error_rate=round(log.failed / max(log.attempted, 1), 6),
        env=host.fields(),
    )
    units = PER_LAYER_UNITS if args.trace else END_TO_END_UNITS
    print("perfbench summary: " + json.dumps(summary), flush=True)
    print(json.dumps({
        "correct": log.failed == 0,
        "attempted": max(log.attempted, 1),
        "failed": log.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Workload definitions, seeded input generation and the client loops.

Every input comes from ``--seed``: the corpus row window, the query pool
and its popularity draw, and the bulk op stream. The engine only ever sees
the generated pages and requests.
"""

from __future__ import annotations

import os
import sys
import threading
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from elasticsearch_spark.api import Engine
from elasticsearch_spark.functions.analysis import standard_tokenize
from elasticsearch_spark.operators.ops import read_tombstones
from elasticsearch_spark.sources import index_store as store
from elasticsearch_spark.sources.pages import PAGES_SCHEMA, pages_pdf

from .harness import tree_cpu_s
from .oracle import Corpus, same_topk
from .trace import Tracer

INDEX = "pages"
K = 10  # hits per search
SAMPLE_DOCS = 1500  # corpus sample the query pool is drawn from


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    pages: int  # rows of the pages generator in the corpus window
    partitions: int  # pinned index partition count (= initial segments)
    clients: int  # closed-loop client threads


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "search_hot",
            "read-only serving: 2 closed-loop clients send a Zipf-popular match/phrase mix "
            "over 16 segments; loads api, topk and Spark scheduling under concurrency",
            # 4 clients saturate the engine (~1 search/s) and identical runs
            # then differ by ±20%; at 2 clients they agree within ±5%
            pages=4000, partitions=16, clients=2,
        ),
        Workload(
            "nrt_mixed",
            "writes beside reads: a bulk of new, updated and deleted docs, never-repeating "
            "searches and a full merge over many small segments and tombstones",
            pages=2000, partitions=8, clients=1,
        ),
    )
}

# search_hot traffic: the reference query-set mix (sources/pages.py
# query_set: 40% match OR, 40% match AND, 10% bool + lang filter, 10%
# match_phrase) as a fixed per-client cycle, so every seed runs the same
# mix — minus the bool + filter share: it runs through the DSL compiler's
# full scan (~10 s a query under concurrency), and one such query per window
# decides every other latency, so it is left out until bool filters use the
# index. A round is 3 requests per client, so the phrase comes first in the
# cycle and the clients are staggered by half a cycle: a round then sends a
# 3:2:1 or/and/phrase mix
KIND_CYCLE = ("phrase", "or", "and", "or", "and", "or", "and", "or", "and")
ROUND_REQUESTS = 3  # per client; a round takes 7-11 s on 4 cores
POOL_SIZES = {"or": 120, "and": 120, "phrase": 30}
ZIPF_S = 1.1

# nrt_mixed rounds
NEW_PER_BULK, UPDATES_PER_BULK, DELETES_PER_BULK = 320, 100, 80
FRESH_PER_ROUND = 3  # never-repeating pool queries per round, plus one marker query
# rounds between forcemerges: a round plus a merge takes ~20 s on 4 cores,
# so one cycle fills a run's window
MERGE_EVERY = 1
FULL_MERGE = dict(segments_per_tier=1 << 20)  # one group: every delete expunged
MAX_ROUNDS = 64


def corpus_start(seed: int) -> int:
    """First generator row of the seed's corpus window (windows never
    overlap; a multiple of 100 keeps the generator's duplicate-url pairs
    inside the window). Row ids stay below ~1e8: the generator's warc_ts
    grows 37 s per row and must stay inside pandas' nanosecond range."""
    return 10_000_000 + (seed % 2_000) * 10_000


def op_pages_start(seed: int, rnd: int) -> int:
    """First generator row of round ``rnd``'s op batch (disjoint from every
    corpus window)."""
    return 40_000_000 + (seed % 2_000) * 30_000 + rnd * 450


def write_pages(spark, path: str, start: int, n: int) -> None:
    """The corpus window as a parquet table, generated in parallel with
    ``pages_pdf`` inside ``mapInPandas``."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids) and ids[-1] - ids[0] + 1 != len(ids):
                raise ValueError("range batch is not contiguous")
            if len(ids):
                yield pages_pdf(len(ids), start=int(ids[0]))

    spark.range(start, start + n, numPartitions=4).mapInPandas(gen, PAGES_SCHEMA) \
        .write.mode("overwrite").parquet(path)


def read_docs(path: str) -> pd.DataFrame:
    """Input rows as the engine keeps them: latest warc_ts per url."""
    pdf = pq.read_table(path, columns=["url", "warc_ts", "text"]).to_pandas()
    return pdf.sort_values(["url", "warc_ts"]).drop_duplicates("url", keep="last") \
        .reset_index(drop=True)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(path) for f in fs)


# --- queries ------------------------------------------------------------------

@dataclass(frozen=True)
class Query:
    kind: str  # or | and | phrase
    terms: tuple[str, ...]

    def body(self) -> dict:
        text = " ".join(self.terms)
        if self.kind == "phrase":
            q = {"match_phrase": {"text": text}}
        else:
            q = {"match": {"text": {"query": text, "operator": self.kind}}}
        return {"query": q, "size": K}


class TermDraw:
    """Queries of terms at hot / mid / tail document frequency, ranked on a
    corpus sample, plus out-of-vocabulary terms (the reference query-set
    bands). A query's shape — term count, band of each term, OOV term,
    phrase source — depends only on its place in the draw sequence; the
    terms come from the seed. Every seed so sends equally costly traffic,
    each on its own corpus and terms."""

    def __init__(self, sample_tokens: list[list[str]], seed: int):
        df = Counter(t for toks in sample_tokens for t in set(toks))
        self.ranked = sorted(df, key=lambda t: (-df[t], t))
        self.sample_tokens = sample_tokens
        self.shape = np.random.Generator(np.random.Philox(key=[0, 7]))
        self.rng = np.random.Generator(np.random.Philox(key=[seed, 7]))
        self.tag = str(seed)
        self.n_oov = 0

    def term(self) -> str:
        lo, hi = ((0, 50), (50, 2000), (2000, len(self.ranked)))[int(self.shape.integers(0, 3))]
        return self.ranked[int(self.rng.integers(lo, max(lo + 1, min(hi, len(self.ranked)))))]

    def terms(self) -> tuple[str, ...]:
        ts = [self.term() for _ in range(int(self.shape.integers(2, 6)))]
        if self.shape.random() < 1 / 17:
            self.n_oov += 1
            ts.append(f"zzoov{self.tag}x{self.n_oov}")
        return tuple(dict.fromkeys(ts))

    def phrase(self) -> tuple[str, ...]:
        """Half are spans of real text (hits guaranteed), half pairs of
        hot/mid terms (mostly none)."""
        n = int(self.shape.integers(2, 4))
        if self.shape.random() < 0.5:
            toks = self.sample_tokens[int(self.rng.integers(0, len(self.sample_tokens)))]
            i = int(self.rng.integers(0, max(1, len(toks) - n)))
            if len(toks[i:i + n]) == n:
                return tuple(toks[i:i + n])
        return (self.ranked[int(self.rng.integers(0, 2000))],
                self.ranked[int(self.rng.integers(0, 2000))])

    def query(self, kind: str) -> Query:
        return Query(kind, self.phrase() if kind == "phrase" else self.terms())


def hot_pool(draw: TermDraw) -> dict[str, list[Query]]:
    pool = {}
    for kind, n in POOL_SIZES.items():
        qs: dict[Query, None] = {}
        while len(qs) < n:
            qs[draw.query(kind)] = None
        pool[kind] = list(qs)
    return pool


def fresh_queries(draw: TermDraw, n: int) -> list[Query]:
    """``n`` distinct match OR queries. One kind only: a run sends five
    searches, and AND queries take ~1.5x less time, so a mix would put the
    median on the edge between the two kinds."""
    out: dict[Query, None] = {}
    while len(out) < n:
        out[draw.query("or")] = None
    return list(out)


def check_hits(corpus: Corpus, q: Query, hits: list[tuple[str, float]]) -> bool:
    """Engine hits against the oracle: match hits rank for rank; phrase hits
    must each contain the phrase, as many as the oracle finds (up to K)."""
    if q.kind in ("or", "and"):
        return same_topk(hits, corpus.ranking(list(q.terms), q.kind), K)
    expected = corpus.phrase_docs(list(q.terms))
    return len(hits) == min(K, len(expected)) and all(u in expected for u, _ in hits)


# --- run state ------------------------------------------------------------------

@dataclass
class SearchRecord:
    query: Query
    start: float
    plan_s: float  # inside Engine.search: analysis + the eager term-stats job
    collect_s: float  # the hits collect
    hits: list
    segments: int = 0  # live segments at search time (traced runs)
    useful_segments: int = 0  # of those, segments holding a query term

    @property
    def total_s(self) -> float:
        return self.plan_s + self.collect_s


@dataclass
class Log:
    searches: list[SearchRecord] = field(default_factory=list)
    bulks: list[dict] = field(default_factory=list)  # {s, segs_added, tombstones}
    merges: list[dict] = field(default_factory=list)  # {s, before, after, rewritten_bytes}
    done: float = 0.0  # searches completed inside the window
    search_cpu_s: float = 0.0  # process-tree CPU time while searches ran (see harness)
    op_cpu_s: float = 0.0  # the same over every engine call of the window
    ops: float = 0.0  # engine calls completed inside the window
    window_s: float = 0.0  # wall of the rounds (search_hot) or client busy time (nrt_mixed)
    attempted: int = 0
    failed: int = 0
    lock: threading.Lock = field(default_factory=threading.Lock)

    def fail(self, what: str) -> None:
        with self.lock:
            self.failed += 1
        print(f"perfbench: FAILED {what}", file=sys.stderr)


@dataclass
class Setup:
    es: Engine
    index_dir: str
    docs: pd.DataFrame  # input as indexed (deduped)
    doc_count: int
    setup_wall_s: float
    setup_cpu_s: float  # process-tree CPU time of the same set-up
    build_s: float
    index_bytes: int
    text_bytes: int
    corpus: Corpus
    draw: TermDraw
    pool: dict
    fresh: list[Query]


def _build(spark, wl: Workload, seed: int, work: str, tracer):
    """One set-up: write the corpus window, create a fresh index, first
    bulk. Returns (engine, pages path, root, bulk info, setup s, setup CPU
    s, build s)."""
    pages_path = os.path.join(work, "pages")
    root = os.path.join(work, "idx")
    cpu0 = tree_cpu_s()
    t0 = time.perf_counter()
    write_pages(spark, pages_path, corpus_start(seed), wl.pages)
    es = Engine(spark, root=root)
    es.create_index(INDEX, num_partitions=wl.partitions)
    t1 = time.perf_counter()
    tracer.group("postings.build")
    info = es.bulk(INDEX, spark.read.parquet(pages_path))
    tracer.clear()
    t2 = time.perf_counter()
    return es, pages_path, root, info, t2 - t0, tree_cpu_s() - cpu0, t2 - t1


def set_up(spark, wl: Workload, seed: int, work: str, log: Log, tracer) -> Setup:
    """Set the workload up from scratch on a fresh session (so set-up time
    includes the session's Python-worker and JIT start-up, as a user's
    first index build does), then derive the query pool and the oracle
    from the seed's corpus."""
    es, pages_path, root, info, setup_wall_s, setup_cpu_s, build_s = _build(
        spark, wl, seed, work, tracer)
    log.attempted += 1

    docs = read_docs(pages_path)
    draw = TermDraw([standard_tokenize(t) for t in docs["text"][:SAMPLE_DOCS]], seed)
    pool = hot_pool(draw) if wl.name == "search_hot" else {}
    fresh = fresh_queries(draw, MAX_ROUNDS * (FRESH_PER_ROUND + 1)) \
        if wl.name == "nrt_mixed" else []
    tracked = {t for qs in pool.values() for q in qs for t in q.terms}
    tracked |= {t for q in fresh for t in q.terms}
    corpus = Corpus(standard_tokenize, tracked)
    for u, t in zip(docs["url"], docs["text"]):
        corpus.add(u, t)
    if info["doc_count"] != len(corpus.docs):
        log.fail(f"setup: index holds {info['doc_count']} docs, input has {len(corpus.docs)}")
    index_dir = os.path.join(root, INDEX)
    return Setup(es, index_dir, docs, info["doc_count"], setup_wall_s, setup_cpu_s, build_s,
                 dir_bytes(index_dir), sum(len(t.encode()) for t in docs["text"]), corpus, draw,
                 pool, fresh)


def _search(st: Setup, q: Query, tracer, log: Log) -> SearchRecord | None:
    t0 = time.perf_counter()
    try:
        tracer.group(f"api.search.{q.kind}")
        res = st.es.search(INDEX, q.body())
        t1 = time.perf_counter()
        tracer.group(f"api.collect.{q.kind}")
        rows = res["hits"].collect()
        t2 = time.perf_counter()
    except Exception:
        traceback.print_exc()
        log.fail(f"search {q}")
        return None
    finally:
        tracer.clear()
    return SearchRecord(q, t0, t1 - t0, t2 - t1, [(r["url"], r["score"]) for r in rows])


_UNTRACED = Tracer(None, False)


def warm_up(st: Setup, queries: list[Query]) -> None:
    """Unmeasured, untraced requests, one thread each, so the first
    measured request pays no lazy reader state or JIT warm-up."""
    threads = [threading.Thread(target=_search, args=(st, q, _UNTRACED, Log())) for q in queries]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def _useful(index_dir: str, segs: list[int], terms: tuple[str, ...]) -> int:
    return sum(
        pq.read_table(os.path.join(store.seg_dir(index_dir, s), "postings.parquet"),
                      columns=["term"], filters=[("term", "in", list(terms))]).num_rows > 0
        for s in segs
    )


# --- search_hot -------------------------------------------------------------------

def client_stream(st: Setup, seed: int, client: int):
    """Endless seeded request stream of one client: the kind cycle
    (staggered per client) with Zipf-popular picks from the kind's pool."""
    rng = np.random.Generator(np.random.Philox(key=[seed, 1000 + client]))
    weights = {k: 1.0 / np.arange(1, len(v) + 1) ** ZIPF_S for k, v in st.pool.items()}
    probs = {k: w / w.sum() for k, w in weights.items()}
    j = client * (len(KIND_CYCLE) + 1) // 2
    while True:
        kind = KIND_CYCLE[j % len(KIND_CYCLE)]
        j += 1
        yield st.pool[kind][int(rng.choice(len(st.pool[kind]), p=probs[kind]))]


def run_search_hot(st: Setup, wl: Workload, seed: int, seconds: float, tracer, log: Log,
                   traced: bool, stop_by: float) -> None:
    """Whole rounds of ROUND_REQUESTS closed-loop requests per client;
    another round starts only if it should end within ``seconds`` and
    before ``stop_by`` (an absolute ``perf_counter`` time). Whole rounds
    give every run the same requests in the same JIT warm-up state however
    fast the host is, so CPU per search and the kind mix do not depend on
    how many requests fit in the window."""
    streams = [client_stream(st, seed, c) for c in range(wl.clients)]
    warm_up(st, st.pool["or"][:wl.clients])

    records: list[SearchRecord] = []

    def client(stream):
        for _ in range(ROUND_REQUESTS):
            q = next(stream)
            with log.lock:
                log.attempted += 1
            rec = _search(st, q, tracer, log)
            if rec is not None:
                with log.lock:
                    records.append(rec)

    t0 = time.perf_counter()
    rounds, round_s = 0, 0.0
    while rounds == 0 or (time.perf_counter() - t0 + round_s <= seconds
                          and time.perf_counter() + round_s <= stop_by):
        r0, cpu0 = time.perf_counter(), tree_cpu_s()
        threads = [threading.Thread(target=client, args=(s,)) for s in streams]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        log.search_cpu_s += tree_cpu_s() - cpu0
        round_s = time.perf_counter() - r0
        log.window_s += round_s
        rounds += 1
    log.op_cpu_s = log.search_cpu_s
    log.done = log.ops = len(records)
    log.searches.extend(sorted(records, key=lambda r: r.start))

    verdicts: dict[tuple, bool] = {}  # repeated queries with equal hits are checked once
    segs = store.list_segs(st.index_dir) if traced else []
    useful: dict[Query, int] = {}
    for rec in log.searches:
        key = (rec.query, tuple(rec.hits))
        if key not in verdicts:
            verdicts[key] = check_hits(st.corpus, rec.query, rec.hits)
        if not verdicts[key]:
            log.fail(f"oracle mismatch {rec.query}")
        if traced and rec.query.kind in ("or", "and"):
            if rec.query not in useful:
                useful[rec.query] = _useful(st.index_dir, segs, rec.query.terms)
            rec.segments, rec.useful_segments = len(segs), useful[rec.query]


# --- nrt_mixed ----------------------------------------------------------------------

def round_ops(st: Setup, seed: int, rnd: int) -> tuple[pd.DataFrame, list[str], list[str]]:
    """Seeded op batch of round ``rnd``: new urls, updates of live urls and
    deletes of other live urls. Returns (index docs, marker tokens, deletes).
    Every written doc carries a unique marker token."""
    rng = np.random.Generator(np.random.Philox(key=[seed, 2000 + rnd]))
    src = pages_pdf(NEW_PER_BULK + UPDATES_PER_BULK, start=op_pages_start(seed, rnd))
    live = sorted(st.corpus.live_urls())
    picked = rng.choice(len(live), size=UPDATES_PER_BULK + DELETES_PER_BULK, replace=False)
    updates = [live[i] for i in picked[:UPDATES_PER_BULK]]
    deletes = [live[i] for i in picked[UPDATES_PER_BULK:]]
    urls = [f"https://nrt.example/s{seed}/r{rnd}/d{i}" for i in range(NEW_PER_BULK)] + updates
    markers = [f"mk{seed}r{rnd}n{i}" for i in range(len(urls))]
    docs = pd.DataFrame({
        "url": urls,
        "text": [t + " " + m for t, m in zip(src["text"], markers)],
        "lang": src["lang"].to_numpy(),
        "warc_ts": src["warc_ts"].to_numpy(),
    })
    return docs, markers, deletes


def run_nrt_mixed(st: Setup, wl: Workload, seed: int, seconds: float, tracer, log: Log,
                  traced: bool, stop_by: float) -> None:
    """Whole cycles of rounds and a merge; see the loop at the end."""
    spark = st.es.spark
    warm_up(st, st.fresh[-1:])  # the window never reaches the end of the list
    fresh = iter(st.fresh)
    busy = 0.0  # client time spent inside engine calls

    def search(q: Query) -> None:
        nonlocal busy
        log.attempted += 1
        cpu0 = tree_cpu_s()
        rec = _search(st, q, tracer, log)
        cpu = tree_cpu_s() - cpu0
        if rec is None:
            return
        log.search_cpu_s += cpu
        log.op_cpu_s += cpu
        log.ops += 1
        busy += rec.total_s
        if traced:
            segs = store.list_segs(st.index_dir)
            rec.segments, rec.useful_segments = len(segs), _useful(st.index_dir, segs, q.terms)
        log.searches.append(rec)
        if not check_hits(st.corpus, q, rec.hits):
            log.fail(f"oracle mismatch {q}")
        dead = {u for u, _ in rec.hits} - st.corpus.live_urls()
        if dead:
            log.fail(f"deleted or superseded docs returned: {sorted(dead)[:3]}")

    def call(name: str, fn):
        nonlocal busy
        log.attempted += 1
        tracer.group(name)
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            log.fail(name)
            return None, 0.0
        finally:
            tracer.clear()
        dt = time.perf_counter() - t0
        log.op_cpu_s += tree_cpu_s() - cpu0
        log.ops += 1
        busy += dt
        return out, dt

    def merge() -> None:
        before = store.list_segs(st.index_dir) if traced else []
        out, dt = call("merge.forcemerge", lambda: st.es.forcemerge(INDEX, **FULL_MERGE))
        if out is None:
            return
        if out.get("merges", 0):
            st.corpus.expunge()
        m = {"s": dt}
        if traced:
            after = store.list_segs(st.index_dir)
            m.update(before=len(before), after=len(after), rewritten_bytes=sum(
                dir_bytes(store.seg_dir(st.index_dir, s)) for s in set(after) - set(before)))
        log.merges.append(m)
        search(next(fresh))  # oracle equality right after every merge

    def one_round(rnd: int) -> None:
        docs, markers, deletes = round_ops(st, seed, rnd)
        st.corpus.tracked.update(markers)
        frame = spark.createDataFrame(docs)
        segs0 = store.list_segs(st.index_dir) if traced else []
        tomb0 = len(read_tombstones(st.index_dir)) if traced else 0
        out, dt = call("ops.bulk", lambda: st.es.bulk(INDEX, frame))
        if out is not None:
            for u, t in zip(docs["url"], docs["text"]):
                st.corpus.add(u, t)
        out_d, dt_d = call("ops.delete", lambda: st.es.delete(INDEX, deletes))
        if out_d is not None:
            for u in deletes:
                st.corpus.delete(u)
        if out is not None and out_d is not None:
            b = {"s": dt + dt_d}
            if traced:
                b.update(segs_added=len(set(store.list_segs(st.index_dir)) - set(segs0)),
                         tombstones=len(read_tombstones(st.index_dir)) - tomb0)
            log.bulks.append(b)
        # read-your-writes: one new and one updated doc by their markers
        ryw = Query("or", (markers[rnd % NEW_PER_BULK],
                           markers[NEW_PER_BULK + rnd % UPDATES_PER_BULK]))
        n_before = len(log.searches)
        search(ryw)
        if len(log.searches) > n_before:
            got = {u for u, _ in log.searches[-1].hits}
            want = {docs["url"][rnd % NEW_PER_BULK],
                    docs["url"][NEW_PER_BULK + rnd % UPDATES_PER_BULK]}
            if not want <= got:
                log.fail(f"read-your-writes: {sorted(want - got)} not visible after bulk")
        for _ in range(FRESH_PER_ROUND):
            search(next(fresh))

    # whole cycles of MERGE_EVERY rounds plus a merge, so every run has the
    # same op mix; another cycle starts only if it should end in the window
    # and before ``stop_by``
    t0 = time.perf_counter()
    rnd, cycle_s = 0, 0.0
    while rnd + MERGE_EVERY <= MAX_ROUNDS and (rnd == 0 or (
            time.perf_counter() - t0 + cycle_s <= seconds
            and time.perf_counter() + cycle_s <= stop_by)):
        c0 = time.perf_counter()
        for _ in range(MERGE_EVERY):
            one_round(rnd)
            rnd += 1
        merge()
        cycle_s = time.perf_counter() - c0
    log.window_s = busy
    log.done = len(log.searches)

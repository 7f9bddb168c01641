"""Top-k BM25 retrieval over the segment store, and the per-segment query
phase every index query runs through.

Two physical strategies for term queries, both returning identical
results (tested):

- ``naive``: decode every postings block of the query terms, score, and
  aggregate — the correctness reference.
- ``wand``: block-max WAND pruning (the reference's top-k path once
  ``track_total_hits`` (10000) is passed —
  ``server/.../search/query/TopDocsCollectorContext.java:211-216``; the
  block-max skipping itself lives in Lucene 9.1). Our formulation is
  region-at-a-time: doc-id space is cut at block boundaries into regions;
  each region's upper bound is the sum of the covering blocks' per-block
  score caps (idf·(k1+1)·maxtf/(maxtf+k1·(1−b+b·min_ql/avgdl))); regions are
  processed in descending upper-bound order with a bounded top-k heap and
  the scan STOPS at the first region whose bound can't beat the current
  k-th score. Everything inside a region is fully scored, so the stop is
  exact — rank-identical to naive.

Distribution model (SURVEY §3.1) — the reference's one collector per
shard (``QueryPhase.java:98``) and its coordinator, shared by match,
msearch, phrase, intervals, spans and the index-sorted scan. A search runs
NO Spark job: at 8-16 segments a job's Arrow/Python round trip costs more
than the per-segment work it would spread.

- ``query_segments`` lists the segments a query scans (the reader's,
  pruned to a routing value's shard; a point-in-time search pins a copy
  of the reader over its segment set);
- ``query_phase`` runs a per-segment function over them on the driver's
  query-phase thread pool (``sparkContext.defaultParallelism`` threads;
  the pyarrow reads and numpy kernels release the GIL for most of their
  time). ``Segment`` is the only reader of the segment files, opened once
  per ``IndexReader`` and shared by every search (Lucene's
  ``SegmentReader``): it holds both files' footers, the block table
  (``term, first_doc_id, last_doc_id, n, max_tf, min_ql, sum_tf`` per
  postings block), the sorted doc ids with their SmallFloat norms and the
  doc-id → row map of the fetch — ~20 MB for all 16 segments at 4,000
  pages. A warm search finds its terms' block rows by ``searchsorted`` and
  reads only their ``ids_bytes`` / ``tf_bytes`` (+ ``pos_bytes``) column
  values; only the live-doc mask is derived per search, from the
  memoized tombstone slice. Each segment yields its ≤k candidates, tagged
  with its segment id; one failing segment fails the search;
- the coordinator merge ranks the candidates by score desc, doc_id asc
  (``SearchPhaseController.java:186-205``, the reference's deterministic
  tie-break) and keeps ranks ``offset .. offset+k`` (``from``/``size``);
- the fetch phase runs after the merge (``FetchSearchPhase.java``):
  ``Segment.fetch`` reads the stored fields of the final hits by row from
  the open docs file, once per segment that holds one — ≤k rows in all;
- the hits become a local relation, ``createDataFrame`` of an Arrow table
  (``hits_frame``), so neither building nor collecting them runs a job.

df, N and sum_dl are sums of each segment's own counts (Lucene's
``TermStates`` and ``CollectionStatistics``), read from the open segments
by the driver-side ``IndexReader`` (no Spark job); df and avgdl reach
every segment alike — the dfs-phase determinism mechanism
(``DfsPhase.java:31-81``): scores never depend on how the segments are
split.
"""

from __future__ import annotations

import copy
import functools
import heapq
import itertools
import os
import re
import threading
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_type, to_arrow_schema
from pyspark.sql.types import (
    DoubleType, IntegerType, LongType, StringType, StructField, StructType,
)

from ..functions import bm25
from ..sources import index_store as store
from .codec import decode_blocks, decode_ids

CAND_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("score", DoubleType()),
    StructField("n_terms_matched", IntegerType()),
])
MCAND_SCHEMA = StructType([StructField("qid", StringType()), *CAND_SCHEMA.fields])
FETCH_FIELDS = ("url", "lang", "warc_ts")  # the match path's fetched fields

# the block table: one row per postings block, held by the open segment
_BLOCK_TABLE = ["term", "first_doc_id", "last_doc_id", "n", "max_tf", "min_ql", "sum_tf"]
_FRAME_COLS = ["term", "first_doc_id", "last_doc_id", "n", "max_tf", "min_ql"]


def _member(a: np.ndarray, sorted_b: np.ndarray) -> np.ndarray:
    """Mask of the elements of ``a`` that occur in the sorted ``sorted_b``."""
    if len(sorted_b) == 0:
        return np.zeros(len(a), dtype=bool)
    return sorted_b[np.minimum(np.searchsorted(sorted_b, a), len(sorted_b) - 1)] == a


def _ranges(lo: np.ndarray, hi: np.ndarray) -> np.ndarray:
    """The concatenation of ``arange(lo[i], hi[i])`` over i."""
    n = hi - lo
    return np.repeat(lo - (np.cumsum(n) - n), n) + np.arange(int(n.sum()))


def term_positions(post: pd.DataFrame) -> dict[str, tuple]:
    """term -> (doc_ids, tfs, flat_pos, occ_off) for each term of a
    positional postings frame (``Segment.postings(..., positions=True)``),
    decoded in one ``decode_blocks`` call (``occ_off`` indexes the
    segment-wide ``flat_pos``)."""
    if not len(post):
        return {}
    t = post["term"].to_numpy()
    ids, tfs, flat_pos, occ_off = decode_blocks(
        post["first_doc_id"], post["n"], post["ids_bytes"], post["tf_bytes"], post["pos_bytes"]
    )
    # the file is term-sorted, so each term's blocks are one run
    run = np.flatnonzero(np.r_[True, t[1:] != t[:-1], True])
    p_off = np.r_[0, np.cumsum(post["n"].to_numpy())][run]
    return {
        t[r]: (ids[a:z], tfs[a:z], flat_pos, occ_off[a:z + 1])
        for r, a, z in zip(run[:-1], p_off[:-1], p_off[1:])
    }


class _File:
    """A parquet file held open: its footer is read once, and ``rows``
    reads chosen rows of chosen columns from only the row groups holding
    them. Holding the file open also keeps it readable after a merge
    deletes it (POSIX unlink semantics), as a point in time needs."""

    def __init__(self, path: str):
        self.file = pq.ParquetFile(path)
        md = self.file.metadata
        self.starts = np.cumsum([0] + [md.row_group(i).num_rows for i in range(md.num_row_groups)])

    def rows(self, rows: np.ndarray, columns: list[str]) -> pa.Table:
        """``columns`` of the ascending file rows ``rows``."""
        if not len(rows):
            return self.file.schema_arrow.empty_table().select(columns)
        rg = np.searchsorted(self.starts, rows, side="right") - 1
        groups = np.unique(rg)
        # where each read group's first row lands in the read table
        base = np.r_[0, np.cumsum(np.diff(self.starts)[groups])[:-1]]
        # one thread: the query phase already reads the segments in parallel
        tab = self.file.read_row_groups(groups.tolist(), columns=columns, use_threads=False)
        return tab.take(rows - self.starts[rg] + base[np.searchsorted(groups, rg)])


class Segment:
    """One committed segment, opened once per reader and shared by every
    search and thread (Lucene's ``SegmentReader``) — the only code that
    knows the segment file layout. Opening reads, and then holds:

    - both files' parquet footers, the files kept open;
    - the block table: ``term, first_doc_id, last_doc_id, n, max_tf,
      min_ql, sum_tf`` per postings block, term-sorted, so a term's blocks
      are one run found by ``searchsorted``; its df (docs) and cf
      (occurrences) sum the run's ``n`` and ``sum_tf``;
    - the sorted doc ids with their SmallFloat-decoded lengths (``norms``)
      and file rows (the doc-id → row map of ``fetch``);
    - its share of the collection statistics: its doc count (``doc_ids``,
      deleted docs too) and ``sum_dl``, the block table's Σ ``sum_tf`` —
      every token of every doc is one posting occurrence, so it equals the
      docs' summed lengths.

    A query then reads only the byte columns of its terms' block rows
    (``postings``); it scans no ``term`` column and builds no dataset. At
    4,000 pages in 16 segments (205,291 block rows) the sixteen hold
    ~20 MB, most of it the block table's term strings.

    The live-doc mask is not open state: ``tombstones`` reads the current
    slice at every call (memoized per tombstone-file fingerprint by
    ``ops.seg_tombstones``), so a delete shows on the next search without
    a reopen — except on a ``frozen`` copy, a point in time's."""

    def __init__(self, index_dir: str, seg: int):
        self.index_dir = index_dir
        self.dir = store.seg_dir(index_dir, int(seg))
        self._postings = _File(os.path.join(self.dir, "postings.parquet"))
        self._docs = _File(os.path.join(self.dir, "docs.parquet"))
        blocks = self._postings.file.read(columns=_BLOCK_TABLE)
        self.blocks = {c: blocks[c].to_numpy(zero_copy_only=False) for c in _BLOCK_TABLE}
        self.sum_dl = int(self.blocks["sum_tf"].sum())
        from ..functions.smallfloat import byte4_to_int

        docs = self._docs.file.read(columns=["doc_id", "norm"])
        ids = docs["doc_id"].to_numpy()
        self._rows = np.argsort(ids, kind="mergesort")
        self.norms = ids[self._rows], byte4_to_int(docs["norm"].to_numpy())[self._rows]
        self._frozen: np.ndarray | None = None

    @property
    def doc_ids(self) -> np.ndarray:
        """Every doc id of the segment, sorted (deleted ones too)."""
        return self.norms[0]

    @property
    def docs_schema(self) -> pa.Schema:
        """Arrow schema of the stored docs (the docs.parquet footer)."""
        return self._docs.file.schema_arrow

    def _block_rows(self, terms) -> np.ndarray:
        """The block-table rows of ``terms``' blocks, in term order."""
        t = self.blocks["term"]
        q = np.array(sorted(set(terms)), dtype=object)
        return _ranges(np.searchsorted(t, q), np.searchsorted(t, q, side="right"))

    def _range_rows(self, start: str, end: str | None) -> np.ndarray:
        """The block-table rows of the terms in ``[start, end)`` (None: no
        upper bound): one run of the term-sorted table."""
        t = self.blocks["term"]
        return np.arange(np.searchsorted(t, start), len(t) if end is None else np.searchsorted(t, end))

    def postings(self, terms, positions: bool = False) -> pd.DataFrame:
        """The postings blocks of ``terms``, in term order: the block
        table's rows with their ``ids_bytes`` and ``tf_bytes`` read from
        the open file (and ``pos_bytes`` when ``positions``)."""
        rows = self._block_rows(terms)
        cols = ["ids_bytes", "tf_bytes", *(["pos_bytes"] if positions else [])]
        data = self._postings.rows(rows, cols)
        return pd.DataFrame({
            **{c: self.blocks[c][rows] for c in _FRAME_COLS},
            **{c: data[c].to_numpy(zero_copy_only=False) for c in cols},
        })

    def positions(self, terms) -> dict[str, tuple]:
        """``term_positions`` of the postings of ``terms``."""
        return term_positions(self.postings(terms, positions=True))

    def term_docs(self, terms=(), prefix: str | None = None) -> np.ndarray:
        """The sorted union of the doc ids of ``terms``, or of every term
        that starts with ``prefix``, read from their blocks' ``ids_bytes``
        alone (deleted docs too)."""
        rows = self._block_rows(terms) if prefix is None else \
            self._range_rows(prefix, _prefix_end(prefix))
        ids = self._postings.rows(rows, ["ids_bytes"])["ids_bytes"]
        b = self.blocks
        return np.unique(decode_ids(b["first_doc_id"][rows], b["n"][rows],
                                    ids.to_numpy(zero_copy_only=False)))

    def doc_freqs(self, terms: np.ndarray) -> np.ndarray:
        """The df of each of ``terms`` (an object array) in this segment, 0
        when absent."""
        t = self.blocks["term"]
        c = np.r_[0, np.cumsum(self.blocks["n"], dtype=np.int64)]
        return c[np.searchsorted(t, terms, side="right")] - c[np.searchsorted(t, terms)]

    def dictionary(self, start: str = "", end: str | None = None):
        """The segment's term dictionary in ``[start, end)`` (None: no upper
        bound): (sorted distinct terms, df, cf)."""
        rows = self._range_rows(start, end)
        t = self.blocks["term"][rows]
        if not len(t):
            return t, np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
        first = np.flatnonzero(np.r_[True, t[1:] != t[:-1]])
        return (t[first], np.add.reduceat(self.blocks["n"][rows].astype(np.int64), first),
                np.add.reduceat(self.blocks["sum_tf"][rows].astype(np.int64), first))

    @property
    def tombstones(self) -> np.ndarray:
        """Sorted deleted doc ids in this segment's doc-id range: the
        segment range-reads ONLY its own tombstone slice, so a giant
        delete_by_query never becomes a per-segment memory tax."""
        if self._frozen is not None:
            return self._frozen
        ids = self.doc_ids
        if not len(ids):
            return ids
        from .ops import seg_tombstones

        return seg_tombstones(self.index_dir, self.dir, int(ids[0]), int(ids[-1]))

    def frozen(self) -> "Segment":
        """This open segment with its live-doc mask fixed as of now: the
        view a point in time holds."""
        pinned = copy.copy(self)
        pinned._frozen = self.tombstones
        return pinned

    def live(self, ids: np.ndarray) -> np.ndarray:
        """``ids`` minus deleted and superseded docs (the liveDocs mask)."""
        tombs = self.tombstones
        if len(ids) == 0 or len(tombs) == 0:
            return ids
        return ids[~_member(ids, tombs)]

    @property
    def allowed(self) -> np.ndarray | None:
        """Sorted live doc ids, or None when no doc of the segment is dead
        (derived anew at every call)."""
        live = self.live(self.doc_ids)
        return None if len(live) == len(self.doc_ids) else live

    def docs_batches(self, columns: list[str], batch_size: int):
        """Stream the stored docs in file (index-sort) order."""
        yield from self._docs.file.iter_batches(batch_size=batch_size, columns=columns)

    def fetch(self, doc_ids, fields) -> pd.DataFrame:
        """The stored ``fields`` of the docs ``doc_ids`` (ids of this
        segment): ``doc_id, *fields`` rows, read by row from the open
        docs file."""
        pos = np.searchsorted(self.doc_ids, np.unique(np.asarray(doc_ids, dtype=np.int64)))
        return self._docs.rows(np.sort(self._rows[pos]), ["doc_id", *fields]).to_pandas()


def _score_segment_arrays(
    post: pd.DataFrame,
    weights: dict[str, tuple[float, int]],
    norm_doc_ids: np.ndarray,
    norm_ql: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
    allowed: np.ndarray | None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Decode + score all blocks in `post` → (doc_ids, scores, per-doc term counts)."""
    docs, tfs = decode_blocks(post["first_doc_id"], post["n"], post["ids_bytes"], post["tf_bytes"])
    w = np.repeat([weights[t][0] for t in post["term"]], post["n"])
    scores = w * bm25.tf_norm(tfs, norm_ql[np.searchsorted(norm_doc_ids, docs)], avgdl, k1, b)
    if allowed is not None:
        ok = _member(docs, allowed)
        docs, scores = docs[ok], scores[ok]
    if len(docs) == 0:
        return docs, scores, np.zeros(0, dtype=np.int64)
    uniq, inv, counts = np.unique(docs, return_inverse=True, return_counts=True)
    summed = np.zeros(len(uniq), dtype=np.float64)
    np.add.at(summed, inv, scores)
    return uniq, summed, counts


def _topk_from_arrays(docs, scores, counts, k, msm) -> pd.DataFrame:
    if msm > 1:
        keep = counts >= msm
        docs, scores, counts = docs[keep], scores[keep], counts[keep]
    if len(docs) > k:
        # bounded selection: score desc, doc_id asc tie-break
        idx = np.lexsort((docs, -scores))[:k]
    else:
        idx = np.lexsort((docs, -scores))
    return pd.DataFrame(
        {"doc_id": docs[idx], "score": scores[idx], "n_terms_matched": counts[idx].astype(np.int32)}
    )


def _wand_segment(post, weights, norm_doc_ids, norm_ql, avgdl, k1, b, k, allowed) -> pd.DataFrame:
    """Region-at-a-time block-max WAND within one segment."""
    terms = post["term"].to_numpy()
    first = post["first_doc_id"].to_numpy()
    last = post["last_doc_id"].to_numpy()
    w = np.array([weights[t][0] for t in terms], dtype=np.float64)
    max_tf = post["max_tf"].to_numpy().astype(np.float64)
    min_ql = post["min_ql"].to_numpy().astype(np.float64)
    ub = w * (max_tf / (max_tf + k1 * (1.0 - b + b * min_ql / avgdl)))

    # regions: cut doc space at block starts; a block [first,last] covers
    # regions [idx(first), idx_of_region_containing(last)]
    bounds = np.unique(first)
    r_of_first = np.searchsorted(bounds, first)
    r_of_last = np.searchsorted(bounds, last, side="right") - 1
    n_regions = len(bounds)
    ub_region = np.zeros(n_regions + 1, dtype=np.float64)
    np.add.at(ub_region, r_of_first, ub)
    np.subtract.at(ub_region, r_of_last + 1, ub)
    ub_region = np.cumsum(ub_region[:-1])

    region_order = np.argsort(-ub_region, kind="mergesort")

    # lazily decoded per-block postings, scored once
    n_blocks = len(post)
    b_ids: list[np.ndarray | None] = [None] * n_blocks
    b_scores: list[np.ndarray | None] = [None] * n_blocks
    ns = post["n"].to_numpy()
    ids_bytes = post["ids_bytes"].to_numpy()
    tf_bytes = post["tf_bytes"].to_numpy()

    # blocks grouped by covering region via interval list
    blocks_by_region: list[list[int]] = [[] for _ in range(n_regions)]
    for i in range(n_blocks):
        for r in range(r_of_first[i], r_of_last[i] + 1):
            blocks_by_region[r].append(i)

    heap: list[tuple[float, int]] = []  # (score, -doc_id) min-heap of top-k
    out_docs, out_scores, out_counts = [], [], []

    for r in region_order:
        theta = heap[0][0] if len(heap) >= k else -np.inf
        if ub_region[r] < theta and len(heap) >= k:
            # exact stop: no remaining region can beat the k-th score.
            # Strictly-below only — a region whose bound EQUALS theta can
            # still hold a doc that attains it with a smaller doc_id, which
            # wins the (score desc, doc_id asc) tie-break vs the naive path.
            break
        lo = bounds[r]
        hi = bounds[r + 1] if r + 1 < n_regions else np.iinfo(np.int64).max
        # one decode for the region's not-yet-decoded blocks
        todo = [i for i in blocks_by_region[r] if b_ids[i] is None]
        if todo:
            ids, tfs = decode_blocks(first[todo], ns[todo], ids_bytes[todo], tf_bytes[todo])
            sc = np.repeat(w[todo], ns[todo]) * bm25.tf_norm(
                tfs, norm_ql[np.searchsorted(norm_doc_ids, ids)], avgdl, k1, b
            )
            off = np.r_[0, np.cumsum(ns[todo])]
            for i, lo_i, hi_i in zip(todo, off[:-1], off[1:]):
                b_ids[i], b_scores[i] = ids[lo_i:hi_i], sc[lo_i:hi_i]
        docs_acc, score_acc = [], []
        for i in blocks_by_region[r]:
            ids, sc = b_ids[i], b_scores[i]
            s0, s1 = np.searchsorted(ids, lo), np.searchsorted(ids, hi)
            docs_acc.append(ids[s0:s1])
            score_acc.append(sc[s0:s1])
        if not docs_acc:
            continue
        docs = np.concatenate(docs_acc)
        scores = np.concatenate(score_acc)
        if allowed is not None and len(docs):
            ok = _member(docs, allowed)
            docs, scores = docs[ok], scores[ok]
        if len(docs) == 0:
            continue
        uniq, inv, counts = np.unique(docs, return_inverse=True, return_counts=True)
        summed = np.zeros(len(uniq), dtype=np.float64)
        np.add.at(summed, inv, scores)
        for d, s, c in zip(uniq, summed, counts):
            item = (float(s), -int(d), int(c))
            if len(heap) < k:
                heapq.heappush(heap, item)
            elif item > heap[0]:
                heapq.heapreplace(heap, item)

    for s, nd, c in heap:
        out_docs.append(-nd)
        out_scores.append(s)
        out_counts.append(c)
    return pd.DataFrame(
        {
            "doc_id": np.array(out_docs, dtype=np.int64),
            "score": np.array(out_scores, dtype=np.float64),
            "n_terms_matched": np.array(out_counts, dtype=np.int32),
        }
    )


def score_verified(
    seg: Segment,
    decoded: dict[str, tuple],
    terms,
    weights: dict[str, tuple[float, int]],
    verified: np.ndarray,
    avgdl: float,
    k1: float,
    b: float,
    k: int,
) -> pd.DataFrame:
    """The BM25 scorer for positionally verified docs (sorted ids of one
    segment): the sum over ``terms`` present in ``decoded`` (global df
    weights), ≤k rows by score desc, doc_id asc."""
    norm_doc_ids, norm_ql = seg.norms
    ql = norm_ql[np.searchsorted(norm_doc_ids, verified)].astype(np.float64)
    scores = np.zeros(len(verified), dtype=np.float64)
    matched = np.zeros(len(verified), dtype=np.int32)
    for t in terms:
        if t not in decoded or t not in weights:
            continue
        ids, tfs = decoded[t][0], decoded[t][1]
        p = np.minimum(np.searchsorted(ids, verified), len(ids) - 1)
        ok = ids[p] == verified
        tf_v = np.where(ok, tfs[p], 0).astype(np.float64)
        scores += weights[t][0] * bm25.tf_norm(tf_v, ql, avgdl, k1, b)
        matched += ok
    return _topk_from_arrays(verified, scores, matched, k, 1)


def _bm25_segment(
    per_q: dict[str | None, tuple[list, int, str]],
    weights: dict[str, tuple[float, int]],
    avgdl: float,
    k1: float,
    b: float,
    k: int,
):
    """Per-segment fn for a batch of term queries: the segment's postings
    are read ONCE for the union of every query's terms (one read of their
    block rows, one tombstone mask), then the WAND / scored loop runs
    per query on the in-memory slice. per_q: qid -> (live_terms, msm,
    mode); qid None = a single query, emitted without a qid column."""
    live = sorted({t for terms, _, _ in per_q.values() for t in terms})

    def per_segment(seg: Segment) -> pd.DataFrame | None:
        post = seg.postings(live)
        if len(post) == 0:
            return None
        norm_doc_ids, norm_ql = seg.norms
        allowed = seg.allowed
        outs = []
        for qid, (terms, msm, mode) in per_q.items():
            post_q = post[post["term"].isin(terms)]
            if len(post_q) == 0:
                continue
            if mode == "wand" and msm <= 1:
                r = _wand_segment(
                    post_q, weights, norm_doc_ids, norm_ql, avgdl, k1, b, k, allowed
                )
            else:
                r = _topk_from_arrays(
                    *_score_segment_arrays(
                        post_q, weights, norm_doc_ids, norm_ql, avgdl, k1, b, allowed
                    ),
                    k, msm,
                )
            if qid is not None:
                r.insert(0, "qid", qid)
            outs.append(r)
        return pd.concat(outs, ignore_index=True) if outs else None

    return per_segment


class IndexReader:
    """Open index handle: the index meta, the live segment list and one
    open ``Segment`` per live segment — the DfsPhase's per-query stats
    round-trip, on the driver with no Spark job. ``Engine`` owns one reader
    per index and every index search path (match, msearch, phrase,
    phrase_prefix, intervals, spans, the sorted scan) takes it.

    A term's df is the sum of its per-segment df over the committed
    segments (Lucene's ``TermStates``), read from the segments' block
    tables, and so are the collection statistics (the DFS phase's
    ``CollectionStatistics``): ``doc_count`` (N) sums the segments' doc
    ids, ``sum_dl`` their ``Segment.sum_dl``, and ``avgdl`` is their ratio.
    Masked docs count until a merge expunges them, and no write can leave
    a statistic behind its postings, as none is persisted; the meta gives
    only the settings (analyzer, k1, b, ...). A pin keeps its parent's
    statistics. Each segment is opened on first use — once, however many
    threads ask; the first search opens the missing ones on the
    query-phase pool — and kept, keyed by the segment and its postings
    file's identity. At 4,000 pages in 16 segments the open state is
    ~20 MB (``Segment``); at web scale the block table needs an on-disk
    term dictionary that is read by range.

    A reader is a snapshot of one commit: ``state``
    (``index_store.commit_state``) is its invalidation key, and
    ``Engine._reader`` reopens the reader when the state on disk differs —
    so a bulk, delete or merge from this process, a second ``Engine`` or
    the streaming ingest is seen by the next search. A reopened reader
    takes over the open segments that survived the write; a delete, which
    leaves the state alone, reaches the next search through each segment's
    live-doc mask. Safe to share between threads."""

    def __init__(self, spark: SparkSession, index_dir: str,
                 state: store.CommitState | None = None, segments: dict | None = None):
        self.spark = spark
        self.index_dir = index_dir
        self.state = state or store.commit_state(index_dir)
        self.meta = store.IndexMeta.loads(self.state.meta)
        self.segs = list(self.state.segs)
        self._ids = dict(zip(self.state.segs, self.state.postings))
        segments = segments or {}
        self._open = {k: segments[k] for k in self._ids.items() if k in segments}
        self._opening: dict = {}  # key -> the lock its one opener holds
        self._lock = threading.Lock()

    def reopen(self, state: store.CommitState) -> "IndexReader":
        """A reader on ``state`` that keeps this reader's open segments
        ``state`` still holds."""
        return IndexReader(self.spark, self.index_dir, state, self._open)

    def segment(self, s: int) -> Segment:
        """Segment ``s``, opened on first use: a thread that finds another
        opening it waits for that open instead of repeating it."""
        key = (s, self._ids.get(s))
        seg = self._open.get(key)
        if seg is None:
            with self._lock:
                lock = self._opening.setdefault(key, threading.Lock())
            with lock:
                seg = self._open.get(key)
                if seg is None:
                    seg = self._open[key] = Segment(self.index_dir, s)
        return seg

    def _segments(self) -> list[Segment]:
        """The committed segments, open; the missing ones are opened in
        parallel on the query-phase pool."""
        missing = [s for s, i in self._ids.items() if (s, i) not in self._open]
        if missing:
            _on_pool(self.spark, self.segment, missing)
        return [self.segment(s) for s in self._ids]

    def pin(self, segs=None) -> "IndexReader":
        """A point in time over ``segs`` of this reader's commit (None:
        all): each segment open now, its live-doc mask frozen as of now.
        The view sees no later write or delete, and it outlives a merge
        that retires its segments, whose files it holds open. The reader
        of an ``Engine._pin``: a point in time or a scroll pins the whole
        commit; an async search's partial reduce the segments it reduces."""
        pinned = copy.copy(self)
        # scores over a part of the commit use the whole commit's statistics
        pinned._totals = self._totals
        if segs is not None:
            keep = set(segs)
            pinned.segs = [s for s in self.segs if s in keep]
            pinned._ids = {s: i for s, i in self._ids.items() if s in keep}
        # the opens land in this reader's shared state; the copy holds its
        # own frozen segments
        pinned._open = {(s, i): seg.frozen()
                        for (s, i), seg in zip(pinned._ids.items(), pinned._segments())}
        pinned._opening = {}
        return pinned

    @functools.cached_property
    def _totals(self) -> tuple[int, int]:
        """(N, sum_dl) over the committed segments."""
        segs = self._segments()
        return sum(len(seg.doc_ids) for seg in segs), sum(seg.sum_dl for seg in segs)

    @property
    def doc_count(self) -> int:
        """N: the docs of the committed segments, masked ones included."""
        return self._totals[0]

    @property
    def sum_dl(self) -> int:
        """The summed doc lengths (tokens) of the committed segments."""
        return self._totals[1]

    @property
    def avgdl(self) -> float:
        """sum_dl / N (1.0 for an empty index)."""
        n, s = self._totals
        return float(s) / n if n else 1.0

    def live_count(self) -> int:
        """The live docs of the committed segments: each segment's doc ids
        minus its tombstone slice."""
        return sum(len(seg.live(seg.doc_ids)) for seg in self._segments())

    def _runs(self, prefix: str):
        """Per segment, its dictionary's terms that start with ``prefix``
        (a range of the sorted terms)."""
        end = _prefix_end(prefix)
        for seg in self._segments():
            yield seg.dictionary(prefix, end)[0]

    def term_weights(self, terms: list[str]) -> dict[str, tuple[float, int]]:
        """term -> (idf·(k1+1) weight, df); zero-df terms drop out."""
        terms = np.array(list(dict.fromkeys(terms)), dtype=object)
        dfs = np.zeros(len(terms), dtype=np.int64)
        for seg in self._segments():
            dfs += seg.doc_freqs(terms)
        return {
            t: (float(bm25.idf(np.float64(df), self.doc_count) * (self.meta.k1 + 1.0)), int(df))
            for t, df in zip(terms, dfs)
            if df
        }

    def prefix_terms(self, prefix: str, max_expansions: int | None) -> list[str]:
        """The first ``max_expansions`` dictionary terms (term order)
        starting with ``prefix``: the rewrite of a prefix leaf
        (match_phrase_prefix, intervals ``prefix``, span_multi ``prefix``;
        None: every such term). Each segment contributes at most
        ``max_expansions`` terms of its range, so even an empty prefix
        holds O(segments · max_expansions) terms."""
        return _first_distinct((run[:max_expansions] for run in self._runs(prefix)), max_expansions)

    def expand_terms(self, kind: str, value: str, max_expansions: int | None,
                     fuzziness: int = 2, prefix_length: int = 0) -> list[str]:
        """The rewrite of a multi-term leaf (intervals prefix / wildcard /
        regexp / fuzzy sources, span_multi): the first ``max_expansions``
        (None: all) dictionary terms, in term order, that
        - ``prefix``: start with ``value`` (``prefix_terms``);
        - ``wildcard``: match ``value`` whole, ``*`` any run, ``?`` any
          one character, ``\\`` escaping the next; every other character
          is literal;
        - ``regexp``: match ``value`` whole;
        - ``fuzzy``: are within Levenshtein ``fuzziness`` of ``value`` and
          share its first ``prefix_length`` characters.
        A scan of the segments' dictionaries on the driver."""
        if kind == "prefix":
            return self.prefix_terms(value, max_expansions)
        if kind == "wildcard":
            match = re.compile(_wildcard_regex(value), re.DOTALL).fullmatch
        elif kind == "regexp":
            match = re.compile(value).fullmatch
        elif kind != "fuzzy":
            raise ValueError(f"cannot expand a {kind!r} leaf")

        def keep(run):
            if kind == "fuzzy":
                return run[edit_distances(value, run, fuzziness) <= fuzziness]
            return filter(match, run)

        head = value[:prefix_length] if kind == "fuzzy" else ""
        runs = (itertools.islice(keep(run), _cap(max_expansions)) for run in self._runs(head))
        return _first_distinct(runs, max_expansions)

    def term_stats(self) -> pa.Table:
        """``term, df, cf`` of every term of the committed segments, in term
        order: the whole vocabulary, for the suggesters, ``_terms_enum``
        and term vectors."""
        terms, df, cf = (np.concatenate(c) for c in zip(
            (np.zeros(0, object), np.zeros(0, np.int64), np.zeros(0, np.int64)),
            *(seg.dictionary() for seg in self._segments())))
        tab = pa.table({"term": pa.array(terms, pa.string()), "df": df, "cf": cf})
        return tab.group_by("term").aggregate([("df", "sum"), ("cf", "sum")]) \
            .rename_columns(["term", "df", "cf"]).sort_by("term")

    @functools.cached_property
    def docs_footer(self) -> pa.Schema | None:
        """Arrow schema of the stored docs: a segment's docs.parquet footer,
        read on the driver once per reader (None with no segment)."""
        if not self.segs:
            return None
        return self.segment(self.segs[0]).docs_schema

    def docs_schema(self, columns) -> StructType:
        """Spark types of stored ``columns`` (no schema-inference job), the
        way Spark's parquet reader types them (tz-naive timestamps →
        timestamp_ntz)."""
        sch = self.docs_footer
        if sch is None:
            return StructType([StructField(c, StringType()) for c in columns])
        return StructType([
            StructField(c, from_arrow_type(sch.field(c).type, prefer_timestamp_ntz=True))
            for c in columns
        ])

    def close(self) -> None:
        """Drop the open segments."""
        with self._lock:
            self._open.clear()


def _cap(n: int | None) -> int | None:
    """An expansion cap as an ``islice`` stop (None: no cap)."""
    return None if n is None else max(n, 0)


def _first_distinct(runs, n: int | None) -> list[str]:
    """The first ``n`` (None: all) distinct terms of the union of sorted
    ``runs``."""
    merged = heapq.merge(*runs)
    return [t for t, _ in itertools.islice(itertools.groupby(merged), _cap(n))]


def edit_distances(a: str, terms, k: int) -> np.ndarray:
    """The Levenshtein distance (code points) of ``a`` to each of ``terms``,
    capped at ``k + 1``: the dynamic program run over every term at once,
    one numpy column per character of the longest term within ``k`` of
    ``a``'s length, stopped once every row exceeds ``k``."""
    terms = np.asarray(terms, dtype=object)
    out = np.full(len(terms), k + 1, dtype=np.int64)
    lens = np.fromiter(map(len, terms), np.int64, len(terms))
    near = np.flatnonzero(np.abs(lens - len(a)) <= k)
    if not len(near):
        return out
    width = len(a) + k
    # UCS-4 code points, zero past each term's end (columns the term's own
    # cell never reads)
    cps = np.array(terms[near].tolist(), dtype=f"<U{max(width, 1)}").view(np.int32)
    cps = cps.reshape(len(near), -1)[:, :width]
    prev = np.tile(np.arange(width + 1), (len(near), 1))
    for i, ca in enumerate(a, 1):
        best = np.minimum(prev[:, :-1] + (cps != ord(ca)), prev[:, 1:] + 1)
        cur = np.empty_like(prev)
        cur[:, 0] = i
        for j in range(1, width + 1):
            cur[:, j] = np.minimum(best[:, j - 1], cur[:, j - 1] + 1)
        if (cur.min(axis=1) > k).all():
            return out
        prev = cur
    out[near] = np.minimum(prev[np.arange(len(near)), lens[near]], k + 1)
    return out


def _wildcard_regex(pattern: str) -> str:
    """A wildcard pattern as a regex body: ``*`` → ``.*``, ``?`` → ``.``,
    ``\\x`` → literal x, every other character literal."""
    out, chars = [], iter(pattern)
    for c in chars:
        if c == "\\":
            out.append(re.escape(next(chars, c)))
        else:
            out.append({"*": ".*", "?": "."}.get(c) or re.escape(c))
    return "".join(out)


def _prefix_end(prefix: str) -> str | None:
    """The smallest string above every string that starts with ``prefix``
    (None: no upper bound). Code-point order is UTF-8 byte order, the
    order parquet statistics and filters compare in."""
    for i in range(len(prefix) - 1, -1, -1):
        c = ord(prefix[i]) + 1
        if c == 0xD800:  # surrogates do not occur in UTF-8 text
            c = 0xE000
        if c <= 0x10FFFF:
            return prefix[:i] + chr(c)
    return None


_P1, _P2, _P3 = 0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9
_P4, _P5 = 0x85EBCA77C2B2AE63, 0x27D4EB2F165667C5
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxhash64(data: bytes, seed: int = 42) -> int:
    """XXH64 of ``data`` as a signed 64-bit int — what Spark's
    ``xxhash64`` (seed 42) returns for a string, over its UTF-8 bytes."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed & _M64, (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _xxh_round(v[j], int.from_bytes(data[i:i + 8], "little"))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12) + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _xxh_round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh_round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for byte in data[i:]:
        h ^= byte * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    h ^= h >> 32
    return h - (1 << 64) if h >> 63 else h


def routing_shard(value: str, num_shards: int) -> int:
    """Shard for a routing value (IndexRouting.java's murmur3 analog):
    ``pmod(xxhash64(v), S)`` — identical to the build partition's
    ``pmod(xxhash64(v), P) % S`` because S divides P. Computed on the
    driver by ``xxhash64``, which is pinned to Spark's own ``xxhash64`` (the
    expression the build routes with) by a property test, so query- and
    index-time hashing cannot drift; a routed search runs no extra job."""
    return xxhash64(value.encode("utf-8")) % num_shards


def routed_segs(
    index_dir: str,
    segs: list[int],
    routing: str,
    meta: store.IndexMeta,
) -> list[int]:
    """Prune a segment list to the routing value's shard. Unknown-shard
    segments (pre-sharding merges) are kept — they may contain the
    shard's docs."""
    if not meta.num_shards:
        raise ValueError(
            "routing requires an index built with num_shards "
            "(the number_of_shards index setting)"
        )
    shard = routing_shard(routing, meta.num_shards)
    return [
        s
        for s in segs
        if store.shard_of(index_dir, s, meta) in (shard, None)
    ]


def query_segments(reader: IndexReader, routing: str | None = None) -> list[int]:
    """Segments a query scans: the reader's; ``routing`` (``?routing=``,
    IndexRouting.java) keeps only the value's shard plus unknown-shard
    segments — query cost drops from O(segments) to O(segments/P), the
    shard-pruning the reference gets by sending the search to one shard."""
    if routing is None:
        return reader.segs
    return routed_segs(reader.index_dir, reader.segs, routing, reader.meta)


_POOL: ThreadPoolExecutor | None = None
_POOL_LOCK = threading.Lock()
_POOL_NAME = "query-phase"


def _on_pool(spark: SparkSession, fn, items) -> list:
    """``fn`` over ``items`` on the query-phase pool, results in item order.
    The pool is the process's one, sized ``sparkContext.defaultParallelism``
    and shared by every search (concurrent clients too). Its own tasks are
    refused, so a busy pool cannot deadlock on itself. A failure cancels
    the items not started yet and is raised: a search never returns part
    of its hits."""
    global _POOL
    if threading.current_thread().name.startswith(_POOL_NAME):
        raise RuntimeError("a query-phase task may not wait on the query-phase pool")
    with _POOL_LOCK:
        if _POOL is None:
            _POOL = ThreadPoolExecutor(
                spark.sparkContext.defaultParallelism, thread_name_prefix=_POOL_NAME)
    futures = [_POOL.submit(fn, x) for x in items]
    try:
        return [f.result() for f in futures]
    finally:
        for f in futures:
            f.cancel()


def query_phase(reader: IndexReader, segs: list[int], per_segment) -> pd.DataFrame | None:
    """``per_segment(Segment) -> candidates | None`` over ``segs``: every
    segment's candidates in one frame, each row tagged with its ``seg``
    (None when no segment has one)."""
    def run(s: int) -> pd.DataFrame | None:
        r = per_segment(reader.segment(s))
        return None if r is None or not len(r) else r.assign(seg=s)

    outs = [r for r in _on_pool(reader.spark, run, segs) if r is not None]
    return pd.concat(outs, ignore_index=True) if outs else None


def hits_frame(spark: SparkSession, rows: pd.DataFrame | None, schema: StructType) -> DataFrame:
    """``rows`` (the ``schema`` columns) as a local relation: an Arrow table
    handed to ``createDataFrame``, so neither building nor collecting the
    frame runs a Spark job. An empty result is an empty Arrow table too —
    an empty pandas frame would fall back to a one-job ``parallelize``."""
    if rows is None or not len(rows):
        table = to_arrow_schema(schema).empty_table()
    else:
        table = pa.Table.from_pandas(rows[schema.names], preserve_index=False)
    return spark.createDataFrame(table, schema)


def _fetch_frame(reader: IndexReader, hits: pd.DataFrame | None, fields,
                 schema: StructType) -> DataFrame:
    """The fetch phase, after the merge (``FetchSearchPhase.java``): the
    merged ``hits`` with the stored ``fields`` of their docs attached, one
    ``Segment.fetch`` per segment that holds a hit. Rows keep the merge's
    order; columns are ``schema``'s, or ``doc_id, *fields, *the rest``
    when fields are fetched (a field the schema has is not fetched)."""
    fields = [f for f in dict.fromkeys(fields) if f not in schema.names]
    if fields:
        schema = StructType([
            schema["doc_id"], *reader.docs_schema(fields).fields,
            *(f for f in schema.fields if f.name != "doc_id"),
        ])
        if hits is not None and len(hits):
            docs = _on_pool(
                reader.spark,
                lambda g: reader.segment(g[0]).fetch(g[1].to_numpy(), fields),
                list(hits.groupby("seg")["doc_id"]),
            )
            hits = hits.merge(pd.concat(docs, ignore_index=True), on="doc_id", how="left")
    return hits_frame(reader.spark, hits, schema)


def search_segments(
    reader: IndexReader,
    segs: list[int],
    per_segment,
    k: int,
    offset: int = 0,
    fields=(),
) -> DataFrame:
    """Query-then-fetch of a scored search: ``per_segment`` (emitting its
    top ``offset + k``) over ``segs``, merged to the global ranks ``offset
    .. offset+k`` by score desc, doc_id asc, with the stored ``fields``
    attached: ``doc_id, *fields, score, n_terms_matched`` rows."""
    cands = query_phase(reader, segs, per_segment)
    if cands is not None:
        cands = cands.sort_values(["score", "doc_id"], ascending=[False, True])
        cands = cands.iloc[offset:offset + k]
    return _fetch_frame(reader, cands, fields, CAND_SCHEMA)


def search_topk(
    spark: SparkSession,
    index_dir: str,
    query_terms: list[str],
    k: int = 10,
    operator: str = "or",
    minimum_should_match: int | None = None,
    mode: str = "wand",
    fetch: bool = True,
    reader: IndexReader | None = None,
    routing: str | None = None,
    offset: int = 0,
    fields=(),
) -> DataFrame:
    """Multi-term BM25 top-k over the index (query-then-fetch lifecycle):
    the one-query case of the batched per-segment scorer, run on the
    driver with no Spark job. ``fetch`` attaches ``FETCH_FIELDS``, and the
    stored ``fields`` ride the fetch either way; ``offset`` skips that many top
    hits (``from``), each segment emitting ``offset + k``.

    routing: the shard pruning of ``query_segments``. Shard-aware tiered
    merge keeps merged segments prunable."""
    reader = reader or IndexReader(spark, index_dir)
    meta = reader.meta
    terms = list(dict.fromkeys(query_terms))
    weights = reader.term_weights(terms)
    live = [t for t in terms if t in weights]
    msm = len(live) if operator == "and" else int(minimum_should_match or 1)
    if not live or (operator == "and" and len(live) < len(terms)):
        segs = []  # nothing can match
    else:
        segs = query_segments(reader, routing)
    fn = _bm25_segment({None: (live, msm, mode)}, weights, reader.avgdl, meta.k1, meta.b, k + offset)
    return search_segments(reader, segs, fn, k, offset, (*(FETCH_FIELDS if fetch else ()), *fields))


def search_term_docs(reader: IndexReader, fields, terms=(), prefix: str | None = None) -> DataFrame:
    """Every live doc holding any of ``terms`` — or, given ``prefix``, any
    term that starts with it — unscored, with its stored ``fields``:
    ``doc_id, *fields`` rows. The constant-score rewrite of a multi-term
    leaf (prefix, fuzzy), whose every doc scores the boost. Each segment
    reads only the ``ids_bytes`` of the terms' block rows (a prefix's are
    one run of its term-sorted block table) and subtracts its tombstones;
    no norm is read and nothing is scored. No Spark job."""
    def per_segment(seg: Segment) -> pd.DataFrame | None:
        ids = seg.live(seg.term_docs(terms, prefix))
        return pd.DataFrame({"doc_id": ids}) if len(ids) else None

    segs = query_segments(reader) if prefix is not None or len(terms) else []
    hits = query_phase(reader, segs, per_segment)
    return _fetch_frame(reader, hits, fields, StructType([CAND_SCHEMA["doc_id"]]))


def msearch_topk(
    spark: SparkSession,
    index_dir: str,
    queries: dict[str, dict] | list[list[str]],
    k: int = 10,
    mode: str = "wand",
    reader: IndexReader | None = None,
    fetch: bool = False,
) -> DataFrame:
    """Batched _msearch at the postings layer: M top-k queries in ONE query
    phase (not M) — per-query results identical to M search_topk calls,
    but the per-segment postings/norms/tombstone reads are amortized across
    the batch (the reference coordinates _msearch as one round the same
    way, ``TransportMultiSearchAction.java``). No Spark job.

    queries: {qid: {"terms": [...], "operator": "or"|"and",
    "minimum_should_match": int?}} or a plain list of term-lists
    (qids q0..qN-1). Returns (qid, doc_id, score, n_terms_matched) rows,
    per-qid top-k, ordered by qid, score desc, doc_id asc; fetch=True
    attaches ``FETCH_FIELDS`` after the merge (``doc_id, *FETCH_FIELDS,
    qid, score, n_terms_matched``).
    """
    if isinstance(queries, list):
        queries = {f"q{i}": {"terms": t} for i, t in enumerate(queries)}
    reader = reader or IndexReader(spark, index_dir)
    meta = reader.meta
    weights = reader.term_weights([t for q in queries.values() for t in q["terms"]])
    per_q: dict[str | None, tuple[list, int, str]] = {}
    for qid, q in queries.items():
        terms = list(dict.fromkeys(q["terms"]))
        live = [t for t in terms if t in weights]
        op = q.get("operator", "or")
        if not live or (op == "and" and len(live) < len(terms)):
            continue  # conjunctive query with a vocabulary miss: no hits
        msm = len(live) if op == "and" else int(q.get("minimum_should_match") or 1)
        per_q[qid] = (live, msm, mode)
    fn = _bm25_segment(per_q, weights, reader.avgdl, meta.k1, meta.b, k)
    cands = query_phase(reader, query_segments(reader) if per_q else [], fn)
    if cands is not None:
        cands = cands.sort_values(["qid", "score", "doc_id"], ascending=[True, False, True])
        cands = cands.groupby("qid", sort=False).head(k)
    return _fetch_frame(reader, cands, FETCH_FIELDS if fetch else (), MCAND_SCHEMA)


def sorted_scan(
    reader: IndexReader,
    k: int = 10,
    columns: tuple = ("doc_id", "url", "warc_ts", "lang"),
    routing: str | None = None,
) -> DataFrame:
    """Early-terminated sorted fetch over an index built with
    ``index_sort`` (Lucene index sorting, ``S/index/IndexSortConfig.java``
    + the sorted-query early-termination of ``CollectorManager``/
    ``TopFieldCollector``): each segment's docs.parquet is WRITTEN in
    index-sort order, so the query phase streams each file batch-by-batch
    and STOPS after k live rows — at 100 TB a "latest-k" query reads O(k)
    rows per segment instead of scanning and sorting the table. The
    coordinator merge sorts the ≤ k·segments rows by the sort field, then
    doc_id, and keeps k; no Spark job."""
    if not reader.meta.index_sort:
        raise ValueError("index was not built with index_sort")
    sfield, sorder = reader.meta.index_sort
    segs = query_segments(reader, routing=routing)
    out_cols = list(dict.fromkeys(list(columns) + [sfield]))
    # real column types from the store footer — a hardcoded name→type map
    # would declare a numeric index_sort field (or any custom stored
    # column) as string, breaking the Arrow conversion or mis-sorting
    # '9' > '10' at the coordinator merge
    out_schema = reader.docs_schema(out_cols)

    def per_segment(seg: Segment) -> pd.DataFrame | None:
        taken = []
        n_live = 0
        tombs = seg.tombstones
        for batch in seg.docs_batches(out_cols, max(k, 128)):
            part = batch.to_pandas()
            part = part[~_member(part["doc_id"].to_numpy(), tombs)]
            taken.append(part)
            n_live += len(part)
            if n_live >= k:
                break  # early termination: later row groups unread
        return pd.concat(taken, ignore_index=True).head(k) if taken else None

    cands = query_phase(reader, segs, per_segment)
    if cands is not None:
        asc = sorder != "desc"
        # Spark's order: nulls first ascending, last descending
        cands = cands.sort_values([sfield, "doc_id"], ascending=[asc, True],
                                  na_position="first" if asc else "last").head(k)
    return hits_frame(reader.spark, cands, out_schema)

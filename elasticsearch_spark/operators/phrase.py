"""Positional queries over the index (phrase / phrase_prefix / intervals)
+ highlighting (fetch sub-phase).

match_phrase (``server/.../index/query/MatchPhraseQueryBuilder.java``),
match_phrase_prefix (``MatchPhrasePrefixQueryBuilder.java``) and intervals
(``IntervalQueryBuilder.java``) against the DOCS_AND_FREQS_AND_POSITIONS
postings. Execution is FULLY DISTRIBUTED: doc ids are segment-local
(``doc_id = pid << 40 | row``), so every occurrence of a document lives in
exactly one segment — the positional verify runs inside the shared
per-segment query phase of ``operators/topk.py`` (one task per segment
slice, zero shuffle, no driver filesystem access), and the coordinator
merge is the same ≤k-rows-per-task ``orderBy(score, doc_id).limit(k)`` as
the WAND query phase.

The ordered verify is a VECTORIZED GREEDY CHAIN over sorted position
lists (the standard two-pointer sweep, O(total occurrences · n_terms)):
occurrences are keyed ``dense_doc << 32 | position``; for each occurrence
of the first term, each later term advances to its smallest key strictly
greater than the current chain key within the same doc (`searchsorted`).
The greedy chain yields the minimal window end for every start, so
``width - (n-1) <= slop`` is exact — no ``itertools.product`` blow-up on
docs that repeat phrase terms many times.

Scoring: verified docs are ranked by the BM25 sum of the query terms
(global df via the build-time stats table — DfsPhase determinism), ties
broken by doc_id ASC, matching ``SearchPhaseController.java:202-205``.

Slop semantics: ordered, total internal gap ≤ slop (exact for slop=0;
Lucene's transposition-cost sloppy matching is intentionally not
reproduced — ordered-sloppy is the documented subset).

Highlighting = the ``highlight`` fetch sub-phase
(``server/.../search/fetch/subphase/highlight/``): regexp-tagged fragments
around the first match, ``<em>``-wrapped, as native Column expressions.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import analysis
from ..sources import index_store as store
from .topk import HITS_SCHEMA, IndexReader, Segment, score_verified, search_segments

_POS_BITS = 32
_POS_MASK = (1 << _POS_BITS) - 1


# --------------------------------------------------------------------------
# in-task decode helpers (run inside the per-segment scorer)
# --------------------------------------------------------------------------

def _occ_keys(
    ids: np.ndarray, tfs: np.ndarray, flat_pos: np.ndarray, occ_off: np.ndarray,
    cand: np.ndarray,
) -> np.ndarray:
    """Occurrence keys ``dense_doc << 32 | pos`` restricted to candidate
    docs (cand sorted ascending). Output is sorted (docs ascending,
    positions ascending within doc)."""
    pos_idx = np.searchsorted(cand, ids)
    sel = (pos_idx < len(cand)) & (cand[np.minimum(pos_idx, len(cand) - 1)] == ids)
    if not sel.any():
        return np.zeros(0, dtype=np.int64)
    sel_i = np.nonzero(sel)[0]
    lens = tfs[sel_i]
    total = int(lens.sum())
    out_starts = np.r_[0, np.cumsum(lens)[:-1]]
    gather = (
        np.repeat(occ_off[sel_i], lens) + np.arange(total) - np.repeat(out_starts, lens)
    )
    occ_pos = flat_pos[gather]
    occ_dense = np.repeat(pos_idx[sel_i], lens)
    return (occ_dense.astype(np.int64) << _POS_BITS) | occ_pos.astype(np.int64)


def _ordered_chain_verified(key_lists: list[np.ndarray], max_total_gap: int) -> np.ndarray:
    """Dense doc indices with an ordered occurrence chain of total internal
    gap ≤ max_total_gap (< 0 = unbounded). Vectorized greedy sweep."""
    n = len(key_lists)
    cur = key_lists[0]
    if len(cur) == 0:
        return np.zeros(0, dtype=np.int64)
    start_doc = cur >> _POS_BITS
    alive = np.ones(len(cur), dtype=bool)
    for keys in key_lists[1:]:
        if len(keys) == 0:
            return np.zeros(0, dtype=np.int64)
        idx = np.searchsorted(keys, cur, side="right")
        ok = idx < len(keys)
        nxt = keys[np.minimum(idx, len(keys) - 1)]
        ok &= (nxt >> _POS_BITS) == start_doc
        alive &= ok
        cur = np.where(ok, nxt, cur)
    width = (cur & _POS_MASK) - (key_lists[0] & _POS_MASK)
    match = alive & ((max_total_gap < 0) | (width - (n - 1) <= max_total_gap))
    return np.unique(start_doc[match])


def _unordered_window_verified(
    key_lists: list[np.ndarray], max_gaps: int, thresholds: list[int] | None = None
) -> np.ndarray:
    """Dense doc indices containing a window with ≥ thresholds[i]
    occurrences of list i and width - (n_required-1) ≤ max_gaps (< 0 =
    unbounded). A duplicated query term is ONE list with threshold =
    multiplicity (distinct occurrences required; positions of distinct
    terms never collide — one token is one term). Per-doc two-pointer
    sweep over the merged occurrence sequence."""
    nl = len(key_lists)
    thr = np.array(thresholds if thresholds is not None else [1] * nl, dtype=np.int64)
    n_required = int(thr.sum())
    ev_keys = np.concatenate(key_lists)
    ev_list = np.concatenate([np.full(len(kk), i, dtype=np.int32) for i, kk in enumerate(key_lists)])
    order = np.argsort(ev_keys, kind="mergesort")
    ev_keys, ev_list = ev_keys[order], ev_list[order]
    docs = ev_keys >> _POS_BITS
    out = []
    for d in np.unique(docs):
        m = docs == d
        pos = (ev_keys[m] & _POS_MASK).astype(np.int64)
        lab = ev_list[m]
        have = np.zeros(nl, dtype=np.int64)
        lo = 0
        satisfied = 0
        hit = False
        for hi in range(len(pos)):
            have[lab[hi]] += 1
            if have[lab[hi]] == thr[lab[hi]]:
                satisfied += 1
            while satisfied == nl:
                width = pos[hi] - pos[lo]
                if max_gaps < 0 or width - (n_required - 1) <= max_gaps:
                    hit = True
                    break
                if have[lab[lo]] == thr[lab[lo]]:
                    satisfied -= 1
                have[lab[lo]] -= 1
                lo += 1
            if hit:
                break
        if hit:
            out.append(int(d))
    return np.array(out, dtype=np.int64)


def _positional_segment(
    weights: dict[str, tuple[float, int]],
    meta: store.IndexMeta,
    k: int,
    terms: list[str],
    expansions: list[str],
    ordered: bool,
    max_total_gap: int,
):
    """Per-segment fn: decode the query terms' postings WITH positions,
    verify positionally, score verified docs by the BM25 term sum, emit ≤k
    rows.

    ``expansions`` non-empty = phrase_prefix: the LAST slot's occurrence
    list is the union of the expansion terms' occurrences (Lucene's
    MultiPhraseQuery position union), and matched expansions contribute
    their own BM25 terms to the score."""
    slot_terms: list[list[str]] = [[t] for t in terms] + ([expansions] if expansions else [])
    fetch_terms = sorted({t for st in slot_terms for t in st})
    score_terms = list(dict.fromkeys(t for st in slot_terms for t in st))
    avgdl, k1, b = meta.avgdl, meta.k1, meta.b

    def per_segment(seg: Segment) -> pd.DataFrame | None:
        decoded = seg.positions(fetch_terms, slot_terms)
        if not decoded:
            return None  # conjunction can't match in this segment

        # candidate docs: in every slot (union of the slot's terms)
        cand = None
        for st in slot_terms:
            slot_ids = np.unique(np.concatenate(
                [decoded[t][0] for t in st if t in decoded]
            ))
            cand = slot_ids if cand is None else np.intersect1d(cand, slot_ids, assume_unique=True)
            if len(cand) == 0:
                return None
        cand = seg.live(cand)
        if len(cand) == 0:
            return None

        key_lists = []
        for st in slot_terms:
            ks = [
                _occ_keys(*decoded[t], cand) for t in st if t in decoded
            ]
            ks = [x for x in ks if len(x)]
            if not ks:
                key_lists.append(np.zeros(0, dtype=np.int64))
            elif len(ks) == 1:
                key_lists.append(ks[0])
            else:
                key_lists.append(np.sort(np.concatenate(ks)))
        if ordered:
            v_dense = _ordered_chain_verified(key_lists, max_total_gap)
        else:
            # duplicate query terms → one list with threshold =
            # multiplicity (intervals slots are single terms)
            mult: dict[str, int] = {}
            for st in slot_terms:
                mult[st[0]] = mult.get(st[0], 0) + 1
            uniq_lists, thrs = [], []
            seen: set[str] = set()
            for i, st in enumerate(slot_terms):
                if st[0] in seen:
                    continue
                seen.add(st[0])
                uniq_lists.append(key_lists[i])
                thrs.append(mult[st[0]])
            v_dense = _unordered_window_verified(uniq_lists, max_total_gap, thrs)
        if len(v_dense) == 0:
            return None
        return score_verified(
            seg, decoded, score_terms, weights, cand[v_dense], avgdl, k1, b, k
        )

    return per_segment


# --------------------------------------------------------------------------
# public query surface
# --------------------------------------------------------------------------

def search_phrase(
    reader: IndexReader,
    phrase: str,
    k: int = 10,
    slop: int = 0,
    routing: str | None = None,
) -> DataFrame:
    """match_phrase over the positional index: per-segment conjunction +
    position-chain verify + BM25 top-k (score DESC, doc_id ASC). Exact —
    every verified doc competes, not a candidate sample. ``routing`` scans
    only the value's shard (``query_segments``)."""
    meta = reader.meta
    terms = analysis.analyze(phrase, meta.analyzer)
    if not terms:
        return reader.spark.createDataFrame([], HITS_SCHEMA)
    weights = reader.term_weights(terms)
    if any(t not in weights for t in terms):
        # conjunction with a zero-df term matches nothing
        return reader.spark.createDataFrame([], HITS_SCHEMA)
    fn = _positional_segment(weights, meta, k, terms, [], True, slop)
    return search_segments(reader, fn, k, routing)


def search_phrase_prefix(
    reader: IndexReader,
    phrase: str,
    k: int = 10,
    slop: int = 0,
    max_expansions: int = 50,
    routing: str | None = None,
) -> DataFrame:
    """match_phrase_prefix (``MatchPhrasePrefixQueryBuilder.java``): the
    last analyzed token is a PREFIX expanded against the global term
    dictionary (first ``max_expansions`` in term order — the reference's
    expansion cap, so every segment task sees the same deterministic set),
    and the phrase chain must end at one of the expansions' positions
    (MultiPhraseQuery position union). Scored as the BM25 sum of the fixed
    terms plus every matched expansion term."""
    meta = reader.meta
    terms = analysis.analyze(phrase, meta.analyzer)
    if not terms:
        return reader.spark.createDataFrame([], HITS_SCHEMA)
    fixed = terms[:-1]
    expansions = reader.prefix_terms(terms[-1], max_expansions)
    if not expansions:
        return reader.spark.createDataFrame([], HITS_SCHEMA)
    weights = reader.term_weights(list(dict.fromkeys(fixed)) + expansions)
    if any(t not in weights for t in fixed):
        return reader.spark.createDataFrame([], HITS_SCHEMA)
    fn = _positional_segment(weights, meta, k, fixed, expansions, True, slop)
    return search_segments(reader, fn, k, routing)


def search_intervals(
    reader: IndexReader,
    text: str,
    ordered: bool = True,
    max_gaps: int = -1,
    k: int = 10,
    routing: str | None = None,
) -> DataFrame:
    """intervals query (``IntervalQueryBuilder.java`` match source):
    an interval containing all terms, in order when ``ordered``, total
    internal gap ≤ max_gaps (-1 = unbounded). Distributed per-segment
    verify, BM25-ranked like phrase."""
    meta = reader.meta
    terms = analysis.analyze(text, meta.analyzer)
    if not terms:
        return reader.spark.createDataFrame([], HITS_SCHEMA)
    weights = reader.term_weights(terms)
    if any(t not in weights for t in terms):
        return reader.spark.createDataFrame([], HITS_SCHEMA)
    fn = _positional_segment(weights, meta, k, terms, [], ordered, max_gaps)
    return search_segments(reader, fn, k, routing)


# --------------------------------------------------------------------------
# test/introspection helper (NOT on the query path)
# --------------------------------------------------------------------------

def _index_positions(index_dir: str, terms: list[str], cand_ids: set[int]) -> dict[str, dict[int, np.ndarray]]:
    """Per term: {doc_id: ascending positions} for candidate docs, decoded
    straight from the postings blocks. Local introspection used by tests —
    the query path decodes positions inside the segment tasks instead."""
    out: dict[str, dict[int, np.ndarray]] = {t: {} for t in terms}
    for seg in store.list_segs(index_dir):
        for term, (ids, _tfs, flat, occ_off) in Segment(index_dir, seg).positions(set(terms)).items():
            for j, d in enumerate(ids):
                if int(d) in cand_ids:
                    out[term][int(d)] = flat[occ_off[j] : occ_off[j + 1]]
    return out


# --------------------------------------------------------------------------
# highlight fetch sub-phase
# --------------------------------------------------------------------------

def highlight(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    fragment_size: int = 100,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
    number_of_fragments: int = 1,
    no_match_size: int = 0,
) -> DataFrame:
    """Add a `highlight` column: fragments of ±fragment_size/2 chars around
    matching terms, matches wrapped in tags. Pure Column expressions
    (unified-highlighter-lite; ``server/.../fetch/subphase/highlight/``).
    ``number_of_fragments > 1`` emits an ARRAY of up to N fragments (one
    per match region, regex scan order — the reference's default scoring
    of fragments: fragments are SCORED by match count and returned
    best-first (the unified highlighter's passage scoring, ties broken by
    document order), still as pure Column expressions."""
    import re as _re

    # terms are analyzer OUTPUT, not regex: escape metacharacters ("c++",
    # "3.5") for the pattern, and escape the pattern again for embedding
    # in SQL string literals (expr parses \ and ' inside '...')
    pat = "|".join(_re.escape(t) for t in sorted(terms, key=len, reverse=True))
    sqlpat = pat.replace("\\", "\\\\").replace("'", "\\'")
    # HighlightBuilder.noMatchSize applies to every fragmentation mode:
    # non-matching docs highlight as NULL by default, or a leading snippet
    has_match = F.expr(f"lower({text_col}) rlike '(?i)(?:{sqlpat})'")
    no_match = (F.col(text_col).substr(F.lit(1), F.lit(no_match_size))
                if no_match_size > 0 else F.lit(None).cast("string"))
    if number_of_fragments == 0:
        # number_of_fragments: 0 (HighlightBuilder semantics): no
        # fragmentation — the ENTIRE field value returns with every match
        # wrapped
        tagged0 = F.regexp_replace(
            F.col(text_col), f"(?i)({pat})", f"{pre_tag}$1{post_tag}"
        )
        return df.withColumn(
            "highlight", F.when(has_match, tagged0).otherwise(no_match))
    if number_of_fragments > 1:
        half = fragment_size // 2
        ctx = f"(?i)[^\\\\n]{{0,{half}}}(?:{sqlpat})[^\\\\n]{{0,{half}}}"
        # rank candidate fragments by (-match_count, original_index): the
        # struct sort is JVM-side; slice keeps the best N
        ranked = F.expr(
            f"""transform(
                  array_sort(
                    transform(regexp_extract_all({text_col}, '{ctx}', 0),
                              (fr, i) -> struct(
                                -size(regexp_extract_all(fr, '(?i)(?:{sqlpat})', 0)) AS neg,
                                i AS ord, fr AS fr)
                    )
                  ),
                  s -> s.fr
                )"""
        )
        frags = F.slice(ranked, 1, number_of_fragments)
        tagged_arr = F.transform(
            frags, lambda fr: F.regexp_replace(fr, f"(?i)({pat})", f"{pre_tag}$1{post_tag}")
        )
        return df.withColumn(
            "highlight",
            F.when(has_match, tagged_arr).otherwise(
                F.array(no_match) if no_match_size > 0
                else F.lit(None).cast("array<string>")))
    # guard the empty extract: locate('', s) = 1 would read as a match
    matched_term = F.expr(
        f"regexp_extract(lower({text_col}), '(?i)({sqlpat})', 1)")
    first_pos = F.when(
        matched_term != "",
        F.expr(
            f"locate(regexp_extract(lower({text_col}), '(?i)({sqlpat})', 1), lower({text_col}))"
        ),
    ).otherwise(F.lit(0))
    half = fragment_size // 2
    frag_start = F.greatest(first_pos - half, F.lit(1))
    # HighlightBuilder.noMatchSize: fields without a match highlight as
    # NULL by default; no_match_size > 0 emits a leading snippet instead
    no_match = (F.col(text_col).substr(F.lit(1), F.lit(no_match_size))
                if no_match_size > 0 else F.lit(None).cast("string"))
    fragment = F.when(
        first_pos > 0,
        F.col(text_col).substr(frag_start, F.lit(fragment_size)),
    )
    tagged = F.coalesce(
        F.regexp_replace(fragment, f"(?i)({pat})", f"{pre_tag}$1{post_tag}"),
        no_match)
    return df.withColumn("highlight", tagged)

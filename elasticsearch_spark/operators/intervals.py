"""The one positional verifier: Lucene's minimal-interval algebra, evaluated
per segment over every candidate document at once.

match_phrase, match_phrase_prefix (``operators/phrase.py``) and every
intervals source (``IntervalQueryBuilder.java`` +
``IntervalsSourceProvider.java``: match / prefix / wildcard / fuzzy /
regexp leaves, ``any_of`` / ``all_of``, and the containing / contained_by
/ not_containing / not_contained_by / overlapping / not_overlapping /
before / after / script filters) compile to one tree:

- a leaf is a list of terms; its intervals are the union of their
  occurrences (MultiPhraseQuery's position union for the phrase_prefix
  expansions);
- match_phrase(slop) is ``all_of(ordered, max_gaps=slop)`` over
  single-term leaves; an intervals ``match`` is ``all_of`` over its
  analyzed words;
- under unordered ``all_of`` a leaf repeated n times is one REPEAT node:
  n consecutive occurrences, token width n — a repeated term needs
  distinct occurrences.

Intervals are doc-keyed: ``(dense_doc << 32 | start, dense_doc << 32 |
end)`` rows of an ``(n, 2)`` int64 array, ``dense_doc`` indexing the
segment's candidate docs. Every node keeps the MINIMAL set (no interval
contains another), so its rows are sorted by start AND by end across all
docs, and each combinator is a handful of vectorized ``searchsorted``
calls over the whole candidate set — the same-doc check is a compare of
the keys' high bits. Script filters are the one per-interval loop.

Execution is the shared per-segment query phase (``operators/topk.py``):
leaf expansion runs once (capped, term-ordered — the same set for every
segment); each segment's function reads the tree's postings, skips the
segment before any decode when a required leaf has no term in it, derives
candidates from the tree's presence requirements, evaluates the tree,
scores verified docs by the BM25 sum of their matched terms (global df —
DfsPhase determinism) and yields ≤k rows to the coordinator merge.

Documented subset vs the reference: ordered ``all_of`` requires
non-overlapping child order (Lucene ORDERED likewise) and chains each
start greedily; unordered gap accounting is window width − Σ child token
widths; ``before``/``after`` use exists-semantics against the reference
source's intervals; slop is ordered total gap (no transpositions).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions import analysis
from .topk import (
    IndexReader, Segment, query_segments, score_verified, search_segments, term_positions,
)

MAX_EXPANSIONS = 128

_POS_BITS = 32
_POS_MASK = (1 << _POS_BITS) - 1
_EMPTY_IV = np.zeros((0, 2), dtype=np.int64)


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


# --------------------------------------------------------------------------
# doc-keyed minimal-interval algebra (pure numpy; unit-tested directly)
# --------------------------------------------------------------------------


def _same_doc(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    return (a >> _POS_BITS) == (b >> _POS_BITS)


def _drop_containing(iv: np.ndarray) -> np.ndarray:
    """Minimal subset of intervals with strictly increasing starts: drop i
    when a later interval ends at or before it. A later doc's keys are
    larger, so the suffix minimum never crosses docs wrongly."""
    if len(iv) == 0:
        return iv
    suf_min_end = np.minimum.accumulate(iv[::-1, 1])[::-1]
    return iv[np.r_[suf_min_end[1:] > iv[:-1, 1], True]]


def minimal(iv: np.ndarray) -> np.ndarray:
    """Reduce to the minimal set: drop intervals containing another; input
    any order, output sorted by start (ends then strictly increase)."""
    if len(iv) == 0:
        return _EMPTY_IV
    iv = iv[np.lexsort((iv[:, 1], iv[:, 0]))]
    # same start: keep only the smallest end (later ones contain it)
    return _drop_containing(iv[np.r_[True, iv[1:, 0] != iv[:-1, 0]]])


def _points(keys: np.ndarray) -> np.ndarray:
    """Single-token intervals: a read-only (n, 2) view of the keys, each
    column the keys array itself (contiguous for ``searchsorted``)."""
    return np.broadcast_to(keys[:, None], (len(keys), 2))


def iv_positions(pos: np.ndarray) -> np.ndarray:
    """Leaf: single-token intervals at each occurrence key."""
    return _points(np.unique(pos))


def iv_repeat(keys: np.ndarray, n: int) -> np.ndarray:
    """Repeat node: n consecutive occurrences within one doc, from the
    sorted occurrence keys of the repeated leaf."""
    if len(keys) < n:
        return _EMPTY_IV
    s, e = keys[: len(keys) - n + 1], keys[n - 1:]
    same = _same_doc(s, e)
    return np.stack([s[same], e[same]], axis=1)


def iv_ordered(children: list[np.ndarray], max_gaps: int) -> np.ndarray:
    """all_of ordered: chains c0 < c1 < … (start_{i+1} > end_i, one doc),
    total inter-child gap ≤ max_gaps (< 0 = unbounded). For every c0
    interval each next child takes its first interval starting after the
    chain's end — the minimal-end chain, as minimal sets have increasing
    ends."""
    if not children or any(len(c) == 0 for c in children):
        return _EMPTY_IV
    start, end = children[0][:, 0], children[0][:, 1]
    doc = start >> _POS_BITS
    ok = np.ones(len(start), dtype=bool)
    gaps = 0
    for c in children[1:]:
        starts = c[:, 0]
        i = np.minimum(np.searchsorted(starts, end, side="right"), len(c) - 1)
        nxt = starts[i]
        ok &= (nxt > end) & (nxt >> _POS_BITS == doc)
        if max_gaps >= 0:
            gaps = gaps + (nxt - end - 1)
        end = c[i, 1]
    if max_gaps >= 0:
        ok &= gaps <= max_gaps
    return _drop_containing(np.stack([start[ok], end[ok]], axis=1))


def iv_unordered(children: list[np.ndarray], max_gaps: int, widths=None) -> np.ndarray:
    """all_of unordered: a window covering one interval per child (overlap
    allowed); gaps = window width − Σ child token widths ≤ max_gaps.
    Anchor scan: each child's intervals in turn are the window's max end;
    every other child contributes its last interval ending ≤ that end (the
    latest-starting one). ``widths[j]`` is child j's token width (a repeat
    node's n); None = the interval's own width."""
    if not children or any(len(c) == 0 for c in children):
        return _EMPTY_IV
    tok = [
        c[:, 1] - c[:, 0] + 1 if w is None else np.full(len(c), w, dtype=np.int64)
        for c, w in zip(children, widths or [None] * len(children))
    ]
    out = []
    for ci, anchor in enumerate(children):
        end = anchor[:, 1]
        w_start, covered = anchor[:, 0], tok[ci]
        ok = np.ones(len(end), dtype=bool)
        for cj, other in enumerate(children):
            if cj == ci:
                continue
            i = np.searchsorted(other[:, 1], end, side="right") - 1
            ok &= i >= 0
            i = np.maximum(i, 0)
            ok &= _same_doc(other[i, 1], end)
            w_start = np.minimum(w_start, other[i, 0])
            covered = covered + tok[cj][i]
        if max_gaps >= 0:
            ok &= end - w_start + 1 - covered <= max_gaps
        out.append(np.stack([w_start[ok], end[ok]], axis=1))
    return minimal(np.concatenate(out))


def iv_any_of(children: list[np.ndarray]) -> np.ndarray:
    return minimal(np.concatenate([_EMPTY_IV, *children]))


_FILTER_KINDS = (
    "containing", "contained_by", "not_containing", "not_contained_by",
    "overlapping", "not_overlapping", "before", "after",
)
_POSITIVE_FILTERS = ("containing", "contained_by", "overlapping", "before", "after")


def iv_filter(iv: np.ndarray, g: np.ndarray, kind: str) -> np.ndarray:
    """Keep source intervals standing in `kind` relation to some interval
    of the reference set g in the same doc (both minimal, so g's starts
    and ends both increase)."""
    if kind not in _FILTER_KINDS:
        raise ValueError(f"unknown interval filter {kind!r}")
    neg = kind.startswith("not_")
    base = kind[4:] if neg else kind
    if len(iv) == 0 or len(g) == 0:
        return iv if neg else iv[:0]
    s, e = iv[:, 0], iv[:, 1]
    last = len(g) - 1
    if base == "containing":
        # ∃g: I.s <= g.s and g.e <= I.e → the first g with g.s >= I.s has
        # the smallest end in that suffix (a later doc's end is too big)
        i = np.minimum(np.searchsorted(g[:, 0], s), last)
        keep = (g[i, 0] >= s) & (g[i, 1] <= e)
    elif base == "contained_by":
        # ∃g: g.s <= I.s and I.e <= g.e → the last g with g.s <= I.s has
        # the largest end in that prefix (an earlier doc's end is too small)
        i = np.searchsorted(g[:, 0], s, side="right") - 1
        keep = (i >= 0) & (g[np.maximum(i, 0), 1] >= e)
    elif base == "overlapping":
        # ∃g: g.s <= I.e and g.e >= I.s
        i = np.searchsorted(g[:, 0], e, side="right") - 1
        keep = (i >= 0) & (g[np.maximum(i, 0), 1] >= s)
    elif base == "before":
        # ∃g in the doc starting after I ends
        i = np.minimum(np.searchsorted(g[:, 0], e, side="right"), last)
        keep = (g[i, 0] > e) & _same_doc(g[i, 0], e)
    else:  # after: ∃g in the doc ending before I starts
        i = np.searchsorted(g[:, 1], s) - 1
        keep = (i >= 0) & _same_doc(g[np.maximum(i, 0), 1], s)
    return iv[~keep] if neg else iv[keep]


# --------------------------------------------------------------------------
# tree build (driver side): leaf term expansion + normalisation
# --------------------------------------------------------------------------


def leaf(terms: list[str]) -> dict:
    return {"op": "leaf", "terms": list(terms)}


def all_of(children: list[dict], ordered: bool = False, max_gaps: int = -1) -> dict:
    """all_of node. Unordered: identical unfiltered leaves fold into one
    repeat node (a repeated term needs distinct occurrences). A single
    unfiltered child that is not a repeat is the node itself."""
    if not ordered:
        groups: dict = {}
        for c in children:
            plain = c["op"] == "leaf" and "filter" not in c
            groups.setdefault(tuple(c["terms"]) if plain else id(c), []).append(c)
        children = [
            g[0] if len(g) == 1 else {"op": "repeat", "terms": g[0]["terms"], "n": len(g)}
            for g in groups.values()
        ]
    if len(children) == 1 and children[0]["op"] != "repeat" and "filter" not in children[0]:
        return children[0]
    return {"op": "all_of", "children": children, "ordered": ordered, "max_gaps": max_gaps}


def compile_source(reader: IndexReader, src: dict) -> dict:
    """dict AST → eval tree: leaves carry concrete term lists; combinators
    carry children + params; filters attach a compiled reference tree."""
    (kind, body), = src.items()
    flt = None
    if isinstance(body, dict) and "filter" in body:
        (fkind, fsrc), = body["filter"].items()
        if fkind == "script":
            # IntervalsSourceProvider.ScriptFilterSource — resolve inline /
            # stored forms + params now; evaluated per candidate interval
            from ..plans.dsl import script_source

            flt = ("script", script_source(fsrc))
        elif fkind not in _FILTER_KINDS:
            raise ValueError(f"unknown intervals filter {fkind!r}")
        else:
            flt = (fkind, compile_source(reader, fsrc))
    opts = body if isinstance(body, dict) else {}
    ordered, max_gaps = bool(opts.get("ordered", False)), int(opts.get("max_gaps", -1))
    if kind == "match":
        # per-leaf analyzer override (IntervalsSourceProvider.Match.analyzer,
        # search.query/70_intervals.yml); use_field (positions from a second
        # indexed field) is out of the one-positional-field doc model
        words = analysis.analyze(body["query"], body.get("analyzer", reader.meta.analyzer))
        node = all_of([leaf([w]) for w in words], ordered, max_gaps)
    elif kind == "prefix":
        p = body["prefix"] if isinstance(body, dict) else body
        node = leaf(reader.prefix_terms(p, MAX_EXPANSIONS))
    elif kind in ("wildcard", "regexp"):
        node = leaf(reader.expand_terms(kind, body["pattern"], MAX_EXPANSIONS))
    elif kind == "fuzzy":
        from ..plans.dsl import resolve_fuzziness

        node = leaf(reader.expand_terms(
            kind, body["term"], MAX_EXPANSIONS,
            resolve_fuzziness(body.get("fuzziness", 2), body["term"]),
            int(body.get("prefix_length", 0))))
    elif kind == "any_of":
        node = {"op": "any_of", "children": [compile_source(reader, s) for s in body["intervals"]]}
    elif kind == "all_of":
        node = all_of([compile_source(reader, s) for s in body["intervals"]], ordered, max_gaps)
    else:
        raise ValueError(f"unknown intervals source {kind!r}")
    if flt:
        node["filter"] = flt
    return node


def tree_terms(node: dict, include_filters: bool = True) -> list[str]:
    """Terms of the tree. include_filters=True → the fetch set (filters
    need positions too); False → the SCORING set (a filter's reference
    terms never contribute to the BM25 sum, like Lucene's IntervalQuery)."""
    if "terms" in node:
        terms = list(node["terms"])
    else:
        terms = [t for c in node["children"] for t in tree_terms(c, include_filters)]
    if "filter" in node and include_filters \
            and node["filter"][0] != "script":  # script filters hold source text
        terms += tree_terms(node["filter"][1], include_filters)
    return list(dict.fromkeys(terms))


# --------------------------------------------------------------------------
# per-segment evaluation
# --------------------------------------------------------------------------


def _union(arrs: list[np.ndarray]) -> np.ndarray:
    arrs = [a for a in arrs if len(a)]
    if len(arrs) == 1:
        return arrs[0]
    return np.unique(np.concatenate(arrs)) if arrs else np.zeros(0, dtype=np.int64)


def _required_docs(node: dict, term_docs: dict[str, np.ndarray]) -> np.ndarray:
    """Docs satisfying the node's presence requirement (superset of
    matches; filters add their reference's requirement only for the
    positive kinds)."""
    if "terms" in node:
        out = _union([term_docs[t] for t in node["terms"] if t in term_docs])
    elif node["op"] == "any_of":
        out = _union([_required_docs(c, term_docs) for c in node["children"]])
    else:  # all_of
        out = None
        for c in node["children"]:
            r = _required_docs(c, term_docs)
            out = r if out is None else np.intersect1d(out, r, assume_unique=True)
            if len(out) == 0:
                break
        if out is None:
            out = np.zeros(0, dtype=np.int64)
    if "filter" in node and node["filter"][0] in _POSITIVE_FILTERS and len(out):
        out = np.intersect1d(out, _required_docs(node["filter"][1], term_docs), assume_unique=True)
    return out


def _may_match(node: dict, terms) -> bool:
    """Whether the tree can match where only ``terms`` occur: its presence
    requirement over a one-doc universe."""
    one = np.zeros(1, dtype=np.int64)
    return len(_required_docs(node, dict.fromkeys(terms, one))) > 0


def _node_width(node: dict) -> int:
    """Number of positions the node's matched terms cover: leaf = 1,
    repeat = n, combinators = sum of children, any_of = its smallest
    alternative."""
    if "terms" in node:
        return node.get("n", 1)
    widths = [_node_width(c) for c in node["children"]]
    return min(widths) if node["op"] == "any_of" else sum(widths)


def _script_keep(iv: np.ndarray, script, n_terms: int) -> np.ndarray:
    """IntervalFilterScript (90_interval_query_filter.yml): the script sees
    ``interval.start/.end/.gaps`` per candidate interval and keeps it when
    it returns true. gaps = interior slack: span width minus the positions
    the source's terms cover (exact for leaf/all_of trees; any_of uses its
    smallest alternative — a documented approximation of Lucene's
    per-alternative gaps())."""
    from ..functions import painless as P

    fsrc, fparams = script
    prog = P.compile_painless(fsrc)
    keep = []
    for s, e in iv & _POS_MASK:
        span = {"start": int(s), "end": int(e), "gaps": max(0, int(e - s) + 1 - n_terms)}
        keep.append(bool(P.execute(prog, {"interval": span, "params": dict(fparams or {})})))
    return np.asarray(keep, dtype=bool)


def evaluate(node: dict, keys: dict[str, np.ndarray]) -> np.ndarray:
    """The node's doc-keyed minimal intervals; ``keys``: term → its sorted
    occurrence keys over the candidate docs."""
    op = node["op"]
    if "terms" in node:
        occ = _union([keys[t] for t in node["terms"] if t in keys])
        iv = _points(occ) if op == "leaf" else iv_repeat(occ, node["n"])
    else:
        children = [evaluate(c, keys) for c in node["children"]]
        if op == "any_of":
            iv = iv_any_of(children)
        elif node["ordered"]:
            iv = iv_ordered(children, node["max_gaps"])
        else:
            iv = iv_unordered(children, node["max_gaps"], [c.get("n") for c in node["children"]])
    if "filter" in node and len(iv):
        fkind, fnode = node["filter"]
        if fkind == "script":
            iv = iv[_script_keep(iv, fnode, _node_width(node))]
        else:
            iv = iv_filter(iv, evaluate(fnode, keys), fkind)
    return iv


def _tree_segment(tree: dict, weights: dict[str, tuple[float, int]],
                  reader: IndexReader, k: int):
    """Per-segment fn: read the tree's postings, skip the segment before
    decoding when a required leaf is absent, evaluate the tree over every
    candidate doc at once, BM25-score the verified docs."""
    fetch_terms = tree_terms(tree)
    score_terms = tree_terms(tree, include_filters=False)
    avgdl, k1, b = reader.avgdl, reader.meta.k1, reader.meta.b

    def per_segment(seg: Segment) -> pd.DataFrame | None:
        post = seg.postings(fetch_terms, positions=True)
        if not _may_match(tree, set(post["term"])):
            return None
        decoded = term_positions(post)
        cand = seg.live(_required_docs(tree, {t: v[0] for t, v in decoded.items()}))
        if len(cand) == 0:
            return None
        root = evaluate(tree, {t: _occ_keys(*v, cand) for t, v in decoded.items()})
        if len(root) == 0:
            return None
        verified = cand[np.unique(root[:, 0] >> _POS_BITS)]
        return score_verified(seg, decoded, score_terms, weights, verified, avgdl, k1, b, k)

    return per_segment


def search_tree(reader: IndexReader, tree: dict, k: int = 10,
                routing: str | None = None, offset: int = 0, fields=()) -> DataFrame:
    """Hits ``offset .. offset+k`` of a compiled tree: per-segment verify +
    BM25 ranking over its matched terms, as ``doc_id, url, *fields,
    score`` rows. A tree whose required terms are absent from the whole
    index reads no segment."""
    weights = reader.term_weights(tree_terms(tree))
    segs = query_segments(reader, routing=routing) if _may_match(tree, weights) else []
    fn = _tree_segment(tree, weights, reader, k + offset)
    return search_segments(reader, segs, fn, k, offset, ("url", *fields)).drop("n_terms_matched")


def search_intervals_source(
    reader: IndexReader, source: dict, k: int = 10, routing: str | None = None,
    offset: int = 0, fields=(),
) -> DataFrame:
    """intervals query with a full source AST (IntervalsSourceProvider)."""
    return search_tree(reader, compile_source(reader, source), k, routing, offset, fields)

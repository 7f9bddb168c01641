"""Full intervals query source algebra (``IntervalQueryBuilder.java`` +
``IntervalsSourceProvider.java``): match / prefix / wildcard / fuzzy /
regexp sources, ``any_of`` / ``all_of`` combinators, and interval filters
(containing / contained_by / not_containing / not_contained_by /
overlapping / not_overlapping / before / after).

Semantics: Lucene's MINIMAL-interval algebra — every node produces the set
of minimal intervals (no interval in the set contains another) per
document; a document matches when the root set is non-empty. Minimal sets
sorted by start have strictly increasing ends, which every combinator here
exploits for O(n log n) evaluation.

Execution = the shared per-segment query phase (``operators/topk.py``),
as for phrase/intervals-match: term-dictionary expansion for multi-term leaf
sources happens once on the driver (capped, term-ordered — deterministic
across tasks); the per-SEGMENT task decodes only the fetched terms'
postings (parquet term-filter pushdown), derives candidate docs from the
tree's presence requirements with numpy set ops, evaluates the interval
algebra per candidate (arrays are per-doc tiny), scores verified docs by
the BM25 sum of their matched terms (global df — DfsPhase determinism),
and emits ≤k rows to the coordinator merge. Zero shuffle, no driver reads.

Documented subset vs the reference: ordered ``all_of`` requires
non-overlapping child order (Lucene ORDERED likewise); unordered gap
accounting uses window_width − Σchild_width; ``before``/``after`` use
exists-semantics against the reference source's intervals.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import analysis
from ..sources import index_store as store
from .phrase import _POS_BITS, _POS_MASK, _occ_keys
from .topk import HITS_SCHEMA, IndexReader, Segment, score_verified, search_segments

MAX_EXPANSIONS = 128

_EMPTY_IV = np.zeros((0, 2), dtype=np.int64)

# --------------------------------------------------------------------------
# minimal-interval algebra (pure numpy; unit-tested directly)
# --------------------------------------------------------------------------


def minimal(iv: np.ndarray) -> np.ndarray:
    """Reduce to the minimal set: drop intervals containing another; input
    any order, output sorted by start (ends then strictly increase)."""
    if len(iv) == 0:
        return _EMPTY_IV
    iv = np.unique(iv, axis=0)  # sorts by (start, end), dedups
    # same start: keep only the smallest end (later ones contain it)
    first_of_start = np.r_[True, iv[1:, 0] != iv[:-1, 0]]
    iv = iv[first_of_start]
    # drop i when some j>i (start_j > start_i) has end_j <= end_i
    suf_min_end = np.minimum.accumulate(iv[::-1, 1])[::-1]
    keep = np.r_[suf_min_end[1:] > iv[:-1, 1], True]
    return iv[keep]


def iv_positions(pos: np.ndarray) -> np.ndarray:
    """Leaf: single-token intervals at each occurrence position."""
    if len(pos) == 0:
        return _EMPTY_IV
    pos = np.unique(pos)
    return np.stack([pos, pos], axis=1)


def iv_ordered(children: list[np.ndarray], max_gaps: int) -> np.ndarray:
    """all_of ordered: chains c0 < c1 < … (start_{i+1} > end_i), total
    inter-child gap ≤ max_gaps. Greedy min-end chain per starting interval
    is minimal because minimal child sets have increasing ends."""
    if any(len(c) == 0 for c in children):
        return _EMPTY_IV
    out = []
    for s0, e0 in children[0]:
        prev_end, gaps, ok = e0, 0, True
        for c in children[1:]:
            i = np.searchsorted(c[:, 0], prev_end, side="right")
            if i == len(c):
                ok = False
                break
            s, e = c[i]
            gaps += s - prev_end - 1
            prev_end = e
        if ok and (max_gaps < 0 or gaps <= max_gaps):
            out.append((s0, prev_end))
    return minimal(np.array(out, dtype=np.int64).reshape(-1, 2))


def iv_unordered(children: list[np.ndarray], max_gaps: int) -> np.ndarray:
    """all_of unordered: a window covering one interval per child (overlap
    allowed); gaps = window_width − Σ child widths ≤ max_gaps. Anchor scan:
    each interval in turn is the max-end of the window; per other child
    take the latest-starting interval ending ≤ anchor end."""
    if any(len(c) == 0 for c in children):
        return _EMPTY_IV
    if len(children) == 1:
        return children[0]
    out = []
    for ci, c in enumerate(children):
        for sa, ea in c:
            w_start, w_len, ok = sa, ea - sa + 1, True
            for cj, other in enumerate(children):
                if cj == ci:
                    continue
                i = np.searchsorted(other[:, 1], ea, side="right") - 1
                if i < 0:
                    ok = False
                    break
                s, e = other[i]
                w_start = min(w_start, s)
                w_len += e - s + 1
            if not ok:
                continue
            width = ea - w_start + 1
            if max_gaps < 0 or width - w_len <= max_gaps:
                out.append((w_start, ea))
    return minimal(np.array(out, dtype=np.int64).reshape(-1, 2))


def iv_any_of(children: list[np.ndarray]) -> np.ndarray:
    nonempty = [c for c in children if len(c)]
    if not nonempty:
        return _EMPTY_IV
    return minimal(np.concatenate(nonempty))


def iv_filter(iv: np.ndarray, g: np.ndarray, kind: str) -> np.ndarray:
    """Keep source intervals standing in `kind` relation to the reference
    set g (both minimal/sorted; g's ends increase with starts)."""
    if len(iv) == 0:
        return iv
    neg = kind.startswith("not_")
    base = kind[4:] if neg else kind
    if len(g) == 0:
        keep = np.zeros(len(iv), dtype=bool)
    elif base == "containing":
        # ∃g: I.s <= g.s and g.e <= I.e → first g with g.s >= I.s has the
        # smallest end in that suffix
        i = np.searchsorted(g[:, 0], iv[:, 0], side="left")
        keep = (i < len(g)) & (g[np.minimum(i, len(g) - 1), 1] <= iv[:, 1])
    elif base == "contained_by":
        # ∃g: g.s <= I.s and I.e <= g.e → last g with g.s <= I.s has the
        # largest end in that prefix
        i = np.searchsorted(g[:, 0], iv[:, 0], side="right") - 1
        keep = (i >= 0) & (g[np.maximum(i, 0), 1] >= iv[:, 1])
    elif base == "overlapping":
        # ∃g: g.s <= I.e and g.e >= I.s
        i = np.searchsorted(g[:, 0], iv[:, 1], side="right") - 1
        keep = (i >= 0) & (g[np.maximum(i, 0), 1] >= iv[:, 0])
    elif base == "before":
        keep = iv[:, 1] < g[-1, 0]  # ∃g starting after I ends
    elif base == "after":
        keep = iv[:, 0] > g[0, 1]  # ∃g ending before I starts
    else:
        raise ValueError(f"unknown interval filter {kind!r}")
    return iv[~keep] if neg else iv[keep]


# --------------------------------------------------------------------------
# AST compile (driver side): leaf term expansion + eval-tree build
# --------------------------------------------------------------------------

_FILTER_KINDS = (
    "containing", "contained_by", "not_containing", "not_contained_by",
    "overlapping", "not_overlapping", "before", "after",
)


def _expand_dict(reader: IndexReader, pred) -> list[str]:
    """Deterministic capped expansion of a wildcard, regexp or fuzzy leaf:
    a Spark scan of the GLOBAL term dictionary in term order."""
    df = reader.spark.read.parquet(store.term_stats_path(reader.index_dir))
    rows = df.where(pred(F.col("term"))).orderBy("term").limit(MAX_EXPANSIONS).collect()
    return [r["term"] for r in rows]


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
            # in _eval_node
            from ..plans.dsl import script_source

            flt = ("script", script_source(fsrc))
        elif fkind not in _FILTER_KINDS:
            raise ValueError(f"unknown intervals filter {fkind!r}")
        else:
            flt = (fkind, compile_source(reader, fsrc))
    if kind == "match":
        # per-leaf analyzer override (IntervalsSourceProvider.Match.analyzer,
        # search.query/70_intervals.yml); use_field (positions from a second
        # indexed field) is out of the one-positional-field doc model
        words = analysis.analyze(body["query"], body.get("analyzer", reader.meta.analyzer))
        node = {
            "op": "all_of",
            "children": [{"op": "leaf", "terms": [w]} for w in words],
            "ordered": bool(body.get("ordered", False)),
            "max_gaps": int(body.get("max_gaps", -1)),
        }
    elif kind == "prefix":
        p = body["prefix"] if isinstance(body, dict) else body
        node = {"op": "leaf", "terms": reader.prefix_terms(p, MAX_EXPANSIONS)}
    elif kind == "wildcard":
        pat = body["pattern"]
        like = pat.replace("*", "%").replace("?", "_")
        node = {"op": "leaf", "terms": _expand_dict(reader, lambda c: c.like(like))}
    elif kind == "regexp":
        pat = body["pattern"]
        node = {"op": "leaf", "terms": _expand_dict(reader, lambda c: c.rlike(f"^(?:{pat})$"))}
    elif kind == "fuzzy":
        t = body["term"]
        fuzz = int(body.get("fuzziness", 2))
        plen = int(body.get("prefix_length", 0))
        node = {
            "op": "leaf",
            "terms": _expand_dict(
                reader,
                lambda c: (F.levenshtein(c, F.lit(t)) <= fuzz)
                & (c.startswith(t[:plen]) if plen else F.lit(True)),
            ),
        }
    elif kind == "any_of":
        node = {
            "op": "any_of",
            "children": [
                compile_source(reader, s) for s in body["intervals"]
            ],
        }
    elif kind == "all_of":
        node = {
            "op": "all_of",
            "children": [
                compile_source(reader, s) for s in body["intervals"]
            ],
            "ordered": bool(body.get("ordered", False)),
            "max_gaps": int(body.get("max_gaps", -1)),
        }
    else:
        raise ValueError(f"unknown intervals source {kind!r}")
    if flt:
        node["filter"] = flt
    return node


def tree_terms(node: dict, include_filters: bool = True) -> list[str]:
    """Terms of the tree. include_filters=True → the fetch set (filters
    need positions too); False → the SCORING set (a filter's reference
    terms never contribute to the BM25 sum, like Lucene's IntervalQuery)."""
    if node["op"] == "leaf":
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


def _required_docs(node: dict, term_docs: dict[str, np.ndarray]) -> np.ndarray:
    """Docs satisfying the node's presence requirement (superset of
    matches; filters add their reference's requirement only for the
    positive kinds)."""
    if node["op"] == "leaf":
        arrs = [term_docs[t] for t in node["terms"] if t in term_docs]
        out = np.unique(np.concatenate(arrs)) if arrs else np.zeros(0, dtype=np.int64)
    elif node["op"] == "any_of":
        arrs = [_required_docs(c, term_docs) for c in node["children"]]
        arrs = [a for a in arrs if len(a)]
        out = np.unique(np.concatenate(arrs)) if arrs else np.zeros(0, dtype=np.int64)
    else:  # all_of
        out = None
        for c in node["children"]:
            r = _required_docs(c, term_docs)
            out = r if out is None else np.intersect1d(out, r, assume_unique=True)
            if len(out) == 0:
                break
        if out is None:
            out = np.zeros(0, dtype=np.int64)
    if "filter" in node and len(out):
        fkind, fnode = node["filter"]
        if fkind in ("containing", "contained_by", "overlapping", "before", "after"):
            out = np.intersect1d(out, _required_docs(fnode, term_docs), assume_unique=True)
    return out


def _presence_sure_docs(node: dict, term_docs: dict[str, np.ndarray]) -> np.ndarray:
    """Docs GUARANTEED to match by term presence alone — no position check
    needed (a strict subset of matches, complement of nothing): a leaf's
    interval set is non-empty iff any of its terms occurs; any_of is sure
    where any child is; unordered all_of with unbounded gaps is sure where
    every child is (some window always covers one interval per child).
    Ordered / gap-bounded / filtered nodes return empty (position-dependent).
    This keeps broad queries (e.g. any_of over a stopword) vectorized —
    the per-doc Python loop runs only on the genuinely positional rest."""
    if "filter" in node:
        return np.zeros(0, dtype=np.int64)
    if node["op"] == "leaf":
        arrs = [term_docs[t] for t in node["terms"] if t in term_docs]
        return np.unique(np.concatenate(arrs)) if arrs else np.zeros(0, dtype=np.int64)
    if node["op"] == "any_of":
        arrs = [_presence_sure_docs(c, term_docs) for c in node["children"]]
        arrs = [a for a in arrs if len(a)]
        return np.unique(np.concatenate(arrs)) if arrs else np.zeros(0, dtype=np.int64)
    # all_of: positional unless unordered with unlimited gaps
    if node.get("ordered") or node.get("max_gaps", -1) >= 0:
        return np.zeros(0, dtype=np.int64)
    out = None
    for c in node["children"]:
        s = _presence_sure_docs(c, term_docs)
        out = s if out is None else np.intersect1d(out, s, assume_unique=True)
        if len(out) == 0:
            break
    return out if out is not None else np.zeros(0, dtype=np.int64)


def _node_width(node: dict) -> int:
    """Number of positions the node's matched terms cover: leaf = 1,
    combinators = sum of children, any_of = its smallest alternative."""
    if node["op"] == "leaf":
        return 1
    widths = [_node_width(c) for c in node["children"]]
    return min(widths) if node["op"] == "any_of" else sum(widths)


def _eval_node(node: dict, leaf_pos) -> np.ndarray:
    """Evaluate one doc: leaf_pos(terms) -> sorted positions array."""
    if node["op"] == "leaf":
        iv = iv_positions(leaf_pos(node["terms"]))
    else:
        children = [_eval_node(c, leaf_pos) for c in node["children"]]
        if node["op"] == "any_of":
            iv = iv_any_of(children)
        elif node.get("ordered"):
            iv = iv_ordered(children, node.get("max_gaps", -1))
        else:
            iv = iv_unordered(children, node.get("max_gaps", -1))
    if "filter" in node and len(iv):
        fkind, fnode = node["filter"]
        if fkind == "script":
            # IntervalFilterScript (90_interval_query_filter.yml): the
            # script sees `interval.start/.end/.gaps` per candidate and
            # keeps the interval when it returns true
            from ..functions import painless as P

            fsrc, fparams = fnode
            prog = P.compile_painless(fsrc)
            # gaps = interior slack: span width minus the positions the
            # source's terms cover. Width is exact for leaf/all_of trees
            # (sum of child widths); any_of uses the smallest alternative —
            # the minimal-interval union favors it — a documented
            # approximation of Lucene's per-alternative gaps()
            n_terms = _node_width(node)
            keep = []
            for s, e in iv:
                span = {"start": int(s), "end": int(e),
                        "gaps": max(0, int(e) - int(s) + 1 - n_terms)}
                env = {"interval": span, "params": dict(fparams or {})}
                keep.append(bool(P.execute(prog, env)))
            iv = iv[np.asarray(keep, dtype=bool)]
        else:
            iv = iv_filter(iv, _eval_node(fnode, leaf_pos), fkind)
    return iv


def _intervals_segment(tree: dict, weights: dict[str, tuple[float, int]],
                       meta: store.IndexMeta, k: int):
    """Per-segment fn: decode the tree's terms with positions, derive
    candidates from its presence requirements, evaluate the interval
    algebra per candidate doc, BM25-score verified docs."""
    fetch_terms = tree_terms(tree)
    score_terms = tree_terms(tree, include_filters=False)
    avgdl, k1, b = meta.avgdl, meta.k1, meta.b

    def per_segment(seg: Segment) -> pd.DataFrame | None:
        decoded = seg.positions(fetch_terms)
        term_docs = {t: v[0] for t, v in decoded.items()}
        cand = seg.live(_required_docs(tree, term_docs))
        if len(cand) == 0:
            return None

        # occurrence keys per term restricted to candidates;
        # per-doc slices via the dense-doc prefix of the key
        keys = {t: _occ_keys(*decoded[t], cand) for t in decoded}

        def leaf_pos_for(dense: int):
            def leaf_pos(terms: list[str]) -> np.ndarray:
                parts = []
                for t in terms:
                    kk = keys.get(t)
                    if kk is None or not len(kk):
                        continue
                    lo = np.searchsorted(kk, dense << _POS_BITS)
                    hi = np.searchsorted(kk, (dense + 1) << _POS_BITS)
                    if hi > lo:
                        parts.append(kk[lo:hi] & _POS_MASK)
                if not parts:
                    return np.zeros(0, dtype=np.int64)
                return np.sort(np.concatenate(parts))

            return leaf_pos

        # presence-decidable docs skip the per-doc interval algebra
        sure = np.intersect1d(
            _presence_sure_docs(tree, term_docs), cand, assume_unique=True
        )
        sure_mask = np.zeros(len(cand), dtype=bool)
        sure_mask[np.searchsorted(cand, sure)] = True
        hit_mask = sure_mask.copy()
        for dense in np.nonzero(~sure_mask)[0]:
            hit_mask[dense] = len(_eval_node(tree, leaf_pos_for(int(dense)))) > 0
        verified = cand[hit_mask]
        if len(verified) == 0:
            return None
        return score_verified(seg, decoded, score_terms, weights, verified, avgdl, k1, b, k)

    return per_segment


def search_intervals_source(
    reader: IndexReader, source: dict, k: int = 10, routing: str | None = None,
) -> DataFrame:
    """intervals query with a full source AST (IntervalsSourceProvider):
    distributed per-segment verify + BM25 ranking over matched terms."""
    tree = compile_source(reader, source)
    terms = tree_terms(tree)
    if not terms:
        return reader.spark.createDataFrame([], HITS_SCHEMA)
    weights = reader.term_weights(terms)
    fn = _intervals_segment(tree, weights, reader.meta, k)
    return search_segments(reader, fn, k, routing)

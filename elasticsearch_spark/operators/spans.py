"""Span queries over the positional index — the Lucene span family.

span_term / span_near / span_or / span_first / span_not /
span_containing / span_within / span_multi, parsed from the ES JSON
shapes (``server/src/main/java/org/elasticsearch/index/query/
SpanTermQueryBuilder.java``, ``SpanNearQueryBuilder.java``,
``SpanOrQueryBuilder.java``, ``SpanFirstQueryBuilder.java``,
``SpanNotQueryBuilder.java``, ``SpanContainingQueryBuilder.java``,
``SpanWithinQueryBuilder.java``, ``SpanMultiTermQueryBuilder.java``).

Execution reuses the shared per-segment query phase (operators/topk.py)
and intervals.py's occurrence keys: per segment, postings-with-positions
term-filter pushdown to the parquet scan, span algebra evaluated per
candidate doc, BM25 scoring of verified docs, ≤k rows to the coordinator
merge.

Semantics (documented subset of Lucene spans):
- a span is an inclusive token-position interval ``(start, end)``;
  ``span_term`` yields ``(p, p)`` per occurrence.
- ``span_near(in_order=True)``: clauses strictly in order and
  non-overlapping (next.start > prev.end); per leading interval the
  greedy minimal chain is emitted; match when
  ``width − Σ clause lengths ≤ slop`` (width = last.end − first.start + 1).
- ``span_near(in_order=False)``: minimal covering window over one
  interval per clause (latest-starting per clause inside the window),
  same slop arithmetic — exact for single-term clauses.
- ``span_first``: spans of ``match`` with ``end < end-param`` (Lucene's
  exclusive end ≤ n).
- ``span_not``: spans of ``include`` overlapping no span of ``exclude``
  (overlap window extended by ``pre``/``post``).
- ``span_containing`` keeps ``big`` spans that contain a ``little``
  span; ``span_within`` keeps ``little`` spans inside a ``big`` span.
- ``span_multi``: the wrapped prefix/wildcard/fuzzy/regexp expands
  against the global term dictionary (``IndexReader.expand_terms``,
  capped at 50, term order) into span_or.

Spans keep non-minimal matches (``span_containing`` over a non-minimal
``big`` span has no minimal-interval equivalent), so they keep this
algebra instead of ``operators/intervals.py``'s; only the term expander is
shared.

Scoring: BM25 sum over the node's MATCH-side leaf terms (include branch
for span_not, big for span_containing, little for span_within), global
df stats — the same DfsPhase determinism as the phrase path.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from .intervals import _POS_BITS, _POS_MASK, _occ_keys
from .topk import IndexReader, Segment, query_segments, score_verified, search_segments

_MAX_SPANS_PER_DOC = 256  # per-node emission cap (bounds pathological docs)


@dataclass
class SpanNode:
    kind: str  # term|near|or|first|not|containing|within
    term: str | None = None
    clauses: list["SpanNode"] = field(default_factory=list)
    slop: int = 0
    in_order: bool = True
    end: int = 0
    pre: int = 0
    post: int = 0


def parse_span(body: dict, expander=None) -> SpanNode:
    """ES span query JSON → SpanNode tree. ``expander(kind, spec)`` maps a
    span_multi inner multi-term query to a list of concrete terms."""
    (kind, spec), = body.items()
    if kind == "span_term":
        (fld, v), = spec.items()
        return SpanNode("term", term=v["value"] if isinstance(v, dict) else v)
    if kind == "span_near":
        return SpanNode(
            "near",
            clauses=[parse_span(c, expander) for c in spec["clauses"]],
            slop=int(spec.get("slop", 0)),
            in_order=bool(spec.get("in_order", True)),
        )
    if kind == "span_or":
        return SpanNode("or", clauses=[parse_span(c, expander) for c in spec["clauses"]])
    if kind == "span_first":
        return SpanNode(
            "first", clauses=[parse_span(spec["match"], expander)], end=int(spec["end"])
        )
    if kind == "span_not":
        return SpanNode(
            "not",
            clauses=[parse_span(spec["include"], expander),
                     parse_span(spec["exclude"], expander)],
            pre=int(spec.get("pre", spec.get("dist", 0))),
            post=int(spec.get("post", spec.get("dist", 0))),
        )
    if kind == "span_containing":
        return SpanNode("containing", clauses=[parse_span(spec["big"], expander),
                                               parse_span(spec["little"], expander)])
    if kind == "span_within":
        return SpanNode("within", clauses=[parse_span(spec["little"], expander),
                                           parse_span(spec["big"], expander)])
    if kind in ("span_field_masking", "field_masking_span"):
        # SpanFieldMaskingQueryBuilder: present the inner field's spans AS the
        # outer field's so they compose inside span_near. Our index carries one
        # positional field (the body text stream), so the masked inner query
        # evaluates over the same stream — the mask is an identity here.
        return parse_span(spec["query"], expander)
    if kind == "span_gap":
        # SpanNearQueryBuilder.SpanGapQueryBuilder: {"span_gap": {field: N}} —
        # a virtual span of width N inside an in-order span_near.
        (_fld, width), = spec.items()
        return SpanNode("gap", end=int(width))
    if kind == "span_multi":
        (mk, ms), = spec["match"].items()
        if expander is None:
            raise ValueError("span_multi requires a term-dictionary expander")
        terms = expander(mk, ms)
        return SpanNode("or", clauses=[SpanNode("term", term=t) for t in terms])
    raise ValueError(f"unsupported span query: {kind}")


def leaf_terms(node: SpanNode) -> set[str]:
    if node.kind == "term":
        return {node.term}
    out: set[str] = set()
    for c in node.clauses:
        out |= leaf_terms(c)
    return out


def match_terms(node: SpanNode) -> set[str]:
    """Leaf terms of the MATCH-producing branch (what scores)."""
    if node.kind == "term":
        return {node.term}
    if node.kind in ("not", "containing", "within", "first"):
        return match_terms(node.clauses[0])
    out: set[str] = set()
    for c in node.clauses:
        out |= match_terms(c)
    return out


def _cand_docs(node: SpanNode, decoded: dict) -> np.ndarray:
    """Conjunctive-skeleton candidate doc ids for a node (superset of
    matching docs — the cheap prefilter before per-doc evaluation)."""
    if node.kind == "term":
        return decoded[node.term][0] if node.term in decoded else np.zeros(0, dtype=np.int64)
    if node.kind in ("or",):
        parts = [_cand_docs(c, decoded) for c in node.clauses]
        return np.unique(np.concatenate(parts)) if parts else np.zeros(0, dtype=np.int64)
    if node.kind == "gap":
        return np.zeros(0, dtype=np.int64)  # never reached: near skips gaps
    if node.kind in ("near", "containing", "within"):
        cur = None
        for c in node.clauses:
            if c.kind == "gap":
                continue
            ids = np.unique(_cand_docs(c, decoded))
            cur = ids if cur is None else np.intersect1d(cur, ids, assume_unique=True)
            if len(cur) == 0:
                break
        return cur if cur is not None else np.zeros(0, dtype=np.int64)
    # first / not: bounded by the match/include branch
    return _cand_docs(node.clauses[0], decoded)


def _presence_sure_spans(node: SpanNode, decoded: dict) -> np.ndarray:
    """Docs GUARANTEED to match by term presence alone (subset of matches):
    a span_term matches wherever its term occurs; span_or where any child
    is sure; span_not where the include branch is sure and NO exclude-branch
    term occurs. Positional kinds (near/containing/within/first) return
    empty — those docs take the per-doc evaluator. Keeps broad span_or /
    span_term queries vectorized instead of a Python loop per doc."""
    if node.kind == "term":
        return decoded[node.term][0] if node.term in decoded else np.zeros(0, dtype=np.int64)
    if node.kind == "or":
        parts = [_presence_sure_spans(c, decoded) for c in node.clauses]
        parts = [p for p in parts if len(p)]
        return np.unique(np.concatenate(parts)) if parts else np.zeros(0, dtype=np.int64)
    if node.kind == "not":
        sure = _presence_sure_spans(node.clauses[0], decoded)
        if not len(sure):
            return sure
        excl = [decoded[t][0] for t in leaf_terms(node.clauses[1]) if t in decoded]
        if excl:
            sure = np.setdiff1d(sure, np.concatenate(excl), assume_unique=False)
        return sure
    return np.zeros(0, dtype=np.int64)


def _eval_spans(node: SpanNode, pos: dict[str, list[int]]) -> list[tuple[int, int]]:
    """Evaluate the span tree for ONE doc → sorted (start, end) intervals."""
    if node.kind == "term":
        return [(p, p) for p in pos.get(node.term, ())][:_MAX_SPANS_PER_DOC]
    if node.kind == "or":
        out: list[tuple[int, int]] = []
        for c in node.clauses:
            out.extend(_eval_spans(c, pos))
        return sorted(set(out))[:_MAX_SPANS_PER_DOC]
    if node.kind == "first":
        return [iv for iv in _eval_spans(node.clauses[0], pos) if iv[1] < node.end]
    if node.kind == "not":
        inc = _eval_spans(node.clauses[0], pos)
        exc = _eval_spans(node.clauses[1], pos)
        if not exc:
            return inc
        return [
            (s, e) for s, e in inc
            if not any(s2 <= e + node.post and e2 >= s - node.pre for s2, e2 in exc)
        ]
    if node.kind == "containing":
        big = _eval_spans(node.clauses[0], pos)
        little = _eval_spans(node.clauses[1], pos)
        return [(s, e) for s, e in big if any(s <= s2 and e2 <= e for s2, e2 in little)]
    if node.kind == "within":
        little = _eval_spans(node.clauses[0], pos)
        big = _eval_spans(node.clauses[1], pos)
        return [(s, e) for s, e in little if any(s2 <= s and e <= e2 for s2, e2 in big)]
    if node.kind == "near":
        gap_len = sum(c.end for c in node.clauses if c.kind == "gap")
        real = [c for c in node.clauses if c.kind != "gap"]
        if gap_len and not node.in_order:
            raise ValueError("span_gap requires in_order=true (Lucene SpanNearQuery.Builder)")
        ivs = [_eval_spans(c, pos) for c in real]
        if not ivs or any(not x for x in ivs):
            return []
        out = []
        if node.in_order:
            for first in ivs[0]:
                cur = first
                # gap spans contribute their width to the total span length,
                # granting that many free positions under the slop check
                lens = cur[1] - cur[0] + 1 + gap_len
                ok = True
                for lst in ivs[1:]:
                    nxt = next((iv for iv in lst if iv[0] > cur[1]), None)
                    if nxt is None:
                        ok = False
                        break
                    lens += nxt[1] - nxt[0] + 1
                    cur = nxt
                if ok:
                    width = cur[1] - first[0] + 1
                    # lower bound: the virtual gap spans must fit between the
                    # real spans (width >= lens); upper bound: slop
                    if 0 <= width - lens <= node.slop:
                        out.append((first[0], cur[1]))
        else:
            events = sorted(
                (iv[0], iv[1], ci) for ci, lst in enumerate(ivs) for iv in lst
            )
            n = len(node.clauses)
            for lo in range(len(events)):
                chosen: dict[int, tuple[int, int]] = {}
                for hi in range(lo, len(events)):
                    s, e, ci = events[hi]
                    chosen[ci] = (s, e)  # latest-starting per clause
                    if len(chosen) == n:
                        width = max(v[1] for v in chosen.values()) - events[lo][0] + 1
                        lens = sum(v[1] - v[0] + 1 for v in chosen.values())
                        if width - lens <= node.slop:
                            out.append((events[lo][0], max(v[1] for v in chosen.values())))
                        break
        return sorted(set(out))[:_MAX_SPANS_PER_DOC]
    raise ValueError(node.kind)


def _span_segment(node: SpanNode, weights: dict[str, tuple[float, int]],
                  reader: IndexReader, k: int):
    """Per-segment fn: decode leaf-term postings with positions, prefilter
    candidates by the conjunctive skeleton, evaluate the span tree per
    candidate doc, BM25-score verified docs."""
    fetch_terms = sorted(leaf_terms(node))
    score_terms = sorted(match_terms(node))
    avgdl, k1, b = reader.avgdl, reader.meta.k1, reader.meta.b

    def per_segment(seg: Segment) -> pd.DataFrame | None:
        decoded = seg.positions(fetch_terms)
        cand = seg.live(np.unique(_cand_docs(node, decoded)))
        if len(cand) == 0:
            return None

        # per-doc position lists: occurrence keys sliced per dense doc
        per_term_pos: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for t in decoded:
            keys = _occ_keys(*decoded[t], cand)
            per_term_pos[t] = (keys >> _POS_BITS, keys & _POS_MASK)
        # presence-decidable docs skip the per-doc span evaluator
        sure = np.intersect1d(
            _presence_sure_spans(node, decoded), cand, assume_unique=True
        )
        sure_mask = np.zeros(len(cand), dtype=bool)
        sure_mask[np.searchsorted(cand, sure)] = True
        verified = list(sure)
        for dense in np.nonzero(~sure_mask)[0]:
            pos = {}
            for t, (dd, pp) in per_term_pos.items():
                lo = np.searchsorted(dd, dense)
                hi = np.searchsorted(dd, dense, side="right")
                if hi > lo:
                    pos[t] = pp[lo:hi].tolist()
            if pos and _eval_spans(node, pos):
                verified.append(cand[dense])
        if not verified:
            return None
        verified = np.sort(np.array(verified, dtype=np.int64))
        return score_verified(seg, decoded, score_terms, weights, verified, avgdl, k1, b, k)

    return per_segment


def _span_multi_expander(reader: IndexReader, max_expansions: int = 50):
    """span_multi's inner prefix / wildcard / fuzzy / regexp query →
    concrete terms (``IndexReader.expand_terms``, the reference's rewrite
    cap of 50)."""
    def expand(kind: str, ms) -> list[str]:
        if kind not in ("prefix", "wildcard", "fuzzy", "regexp"):
            raise ValueError(f"span_multi cannot wrap: {kind}")
        # ES shape: {prefix: {field: {value: ...}}} — unwrap the field level
        if isinstance(ms, dict) and len(ms) == 1 and isinstance(next(iter(ms.values())), (dict, str)):
            (_fld, ms), = ms.items()
        spec = ms if isinstance(ms, dict) else {"value": ms}
        from ..plans.dsl import resolve_fuzziness

        return reader.expand_terms(
            kind, spec["value"], max_expansions,
            resolve_fuzziness(spec.get("fuzziness", 2), str(spec["value"])),
            int(spec.get("prefix_length", 0)))

    return expand


def search_spans(reader: IndexReader, span_body: dict, k: int = 10,
                 routing: str | None = None, offset: int = 0, fields=()) -> DataFrame:
    """Span query → ``doc_id, url, *fields, score`` hits ``offset ..
    offset+k``."""
    node = parse_span(span_body, _span_multi_expander(reader))
    terms = sorted(leaf_terms(node))
    weights = reader.term_weights(terms)
    segs = query_segments(reader, routing=routing) if terms else []
    fn = _span_segment(node, weights, reader, k + offset)
    return search_segments(reader, segs, fn, k, offset, ("url", *fields)).drop("n_terms_matched")

"""Intervals source algebra (operators/intervals.py): minimal-interval
combinators, filters, and the end-to-end AST path over the index."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from elasticsearch_spark.operators.intervals import (
    _FILTER_KINDS,
    all_of,
    evaluate,
    iv_any_of,
    iv_filter,
    iv_ordered,
    iv_positions,
    iv_unordered,
    leaf,
    minimal,
)
from elasticsearch_spark.operators.topk import IndexReader


def A(*pairs):
    return np.array(pairs, dtype=np.int64).reshape(-1, 2)


def test_minimal_drops_containing():
    got = minimal(A((0, 5), (1, 3), (2, 8), (6, 7)))
    # (0,5) contains (1,3); (2,8) contains (6,7)
    assert got.tolist() == [[1, 3], [6, 7]]


def test_minimal_same_start_keeps_smallest_end():
    assert minimal(A((2, 9), (2, 4))).tolist() == [[2, 4]]


def test_iv_positions():
    assert iv_positions(np.array([5, 1, 5])).tolist() == [[1, 1], [5, 5]]


def test_iv_ordered_chain_and_gaps():
    # "a" at 0,10; "b" at 2,12 → chains (0,2) gap1 and (10,12) gap1
    a, b = iv_positions(np.array([0, 10])), iv_positions(np.array([2, 12]))
    assert iv_ordered([a, b], max_gaps=1).tolist() == [[0, 2], [10, 12]]
    assert iv_ordered([a, b], max_gaps=0).tolist() == []
    # unbounded
    assert iv_ordered([a, b], max_gaps=-1).tolist() == [[0, 2], [10, 12]]


def test_iv_ordered_requires_order():
    a, b = iv_positions(np.array([5])), iv_positions(np.array([3]))
    assert iv_ordered([a, b], -1).tolist() == []
    assert iv_ordered([b, a], -1).tolist() == [[3, 5]]


def test_iv_unordered_window():
    a, b = iv_positions(np.array([0, 100])), iv_positions(np.array([3]))
    got = iv_unordered([a, b], max_gaps=2)
    assert got.tolist() == [[0, 3]]  # width 4 − 2 tokens = 2 gaps
    assert iv_unordered([a, b], max_gaps=1).tolist() == []


def test_iv_any_of_minimal_union():
    out = iv_any_of([A((0, 5)), A((1, 3))])
    assert out.tolist() == [[1, 3]]


def test_iv_filters():
    iv = A((0, 4), (6, 9))
    g = A((1, 2))
    assert iv_filter(iv, g, "containing").tolist() == [[0, 4]]
    assert iv_filter(iv, g, "not_containing").tolist() == [[6, 9]]
    assert iv_filter(A((1, 2)), A((0, 4)), "contained_by").tolist() == [[1, 2]]
    assert iv_filter(A((5, 8)), A((0, 4)), "contained_by").tolist() == []
    assert iv_filter(iv, A((3, 7)), "overlapping").tolist() == [[0, 4], [6, 9]]
    assert iv_filter(iv, A((5, 5)), "not_overlapping").tolist() == [[0, 4], [6, 9]]
    assert iv_filter(iv, A((5, 5)), "before").tolist() == [[0, 4]]
    assert iv_filter(iv, A((5, 5)), "after").tolist() == [[6, 9]]
    with pytest.raises(ValueError):
        iv_filter(iv, g, "sideways")


def test_intervals_source_end_to_end(spark, index_dir):
    """AST path over the test index: any_of picks up both phrases; the
    filtered all_of only keeps clean spans."""
    from elasticsearch_spark.operators.intervals import search_intervals_source
    from elasticsearch_spark.operators.phrase import search_phrase

    # an ordered match with max_gaps is match_phrase with that slop
    ast = {"match": {"query": "the of", "ordered": True, "max_gaps": 2}}
    got = [(r["doc_id"], round(r["score"], 8)) for r in
           search_intervals_source(IndexReader(spark, index_dir), ast, k=10).collect()]
    want = [(r["doc_id"], round(r["score"], 8)) for r in
            search_phrase(IndexReader(spark, index_dir), "the of", k=10, slop=2).collect()]
    assert got and got == want

    # prefix leaf inside any_of returns at least the match-only results
    ast2 = {"any_of": {"intervals": [
        {"match": {"query": "the of", "ordered": True, "max_gaps": 2}},
        {"prefix": {"prefix": "w000"}},
    ]}}
    n = search_intervals_source(IndexReader(spark, index_dir), ast2, k=10).count()
    assert n == 10


def test_segment_skipped_before_decode_when_a_required_leaf_is_absent(spark, index_dir, monkeypatch):
    from elasticsearch_spark.operators import intervals as ivs
    from elasticsearch_spark.operators.topk import Segment
    from elasticsearch_spark.sources import index_store as store

    decoded = []
    monkeypatch.setattr(ivs, "term_positions", lambda post: decoded.append(len(post)) or {})
    reader = IndexReader(spark, index_dir)
    segs = [Segment(index_dir, s) for s in store.list_segs(index_dir)]

    def run(tree):
        fn = ivs._tree_segment(tree, reader.term_weights(ivs.tree_terms(tree)), reader, 10)
        return [fn(seg) for seg in segs]

    assert run(all_of([leaf(["the"]), leaf(["zzzabsent"])], ordered=True)) == [None] * len(segs)
    assert decoded == []
    run(leaf(["the"]))  # control: a present leaf decodes in every segment
    assert len(decoded) == len(segs)


def test_intervals_script_filter_yaml(spark, tmp_path):
    """90_interval_query_filter.yml 'Test filtering by script': the filter
    script sees interval.start/.end/.gaps; 'cold' with interval.start > 3
    matches only doc 1 ('…some like it cold', position 7)."""
    from elasticsearch_spark.operators.intervals import search_intervals_source
    from elasticsearch_spark.operators.postings import build_index

    docs = [
        ("1", "Some like it hot, some like it cold"),
        ("2", "Its cold outside, theres no kind of atmosphere"),
        ("3", "Baby its cold there outside"),
        ("4", "Outside it is cold and wet"),
    ]
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [(u, t, "en") for u, t in docs], "url string, text string, lang string"
    ).withColumn("warc_ts", F.to_timestamp(F.lit("2024-01-01")))
    idx = str(tmp_path / "ivs")
    build_index(spark, df, idx, num_partitions=1)
    ast = {"match": {"query": "cold",
                     "filter": {"script": {"source": "interval.start > 3"}}}}
    hits = search_intervals_source(IndexReader(spark, idx), ast, k=10).collect()
    assert [r["url"] for r in hits] == ["1"]
    # boundary: start > 2 picks up doc 4 (position 3) too
    ast2 = {"match": {"query": "cold",
                      "filter": {"script": {"source": "interval.start > 2"}}}}
    assert {r["url"] for r in search_intervals_source(IndexReader(spark, idx), ast2, k=10).collect()} \
        == {"1", "4"}


# --------------------------------------------------------------------------
# differential property test: the doc-keyed evaluator vs a per-doc reference
# --------------------------------------------------------------------------
# The reference evaluates ONE doc at a time over plain positions, with
# Python loops per interval: the minimal-interval combinators, a repeat
# node as n consecutive occurrences of token width n, and the
# sliding-window multiplicity rule for leaf-only unordered queries.

def ref_minimal(iv):
    if len(iv) == 0:
        return iv.reshape(0, 2)
    iv = np.unique(iv, axis=0)
    iv = iv[np.r_[True, iv[1:, 0] != iv[:-1, 0]]]
    suf_min_end = np.minimum.accumulate(iv[::-1, 1])[::-1]
    return iv[np.r_[suf_min_end[1:] > iv[:-1, 1], True]]


def ref_ordered(children, max_gaps):
    if any(len(c) == 0 for c in children):
        return A()
    out = []
    for s0, e0 in children[0]:
        prev_end, gaps, ok = e0, 0, True
        for c in children[1:]:
            i = np.searchsorted(c[:, 0], prev_end, side="right")
            if i == len(c):
                ok = False
                break
            gaps += c[i, 0] - prev_end - 1
            prev_end = c[i, 1]
        if ok and (max_gaps < 0 or gaps <= max_gaps):
            out.append((s0, prev_end))
    return ref_minimal(A(*out))


def ref_unordered(children, max_gaps, widths):
    if any(len(c) == 0 for c in children):
        return A()
    width_of = [(lambda s, e, w=w: e - s + 1 if w is None else w) for w in widths]
    out = []
    for ci, c in enumerate(children):
        for sa, ea in c:
            w_start, covered, ok = sa, width_of[ci](sa, ea), True
            for cj, other in enumerate(children):
                if cj == ci:
                    continue
                i = np.searchsorted(other[:, 1], ea, side="right") - 1
                if i < 0:
                    ok = False
                    break
                s, e = other[i]
                w_start = min(w_start, s)
                covered += width_of[cj](s, e)
            if ok and (max_gaps < 0 or ea - w_start + 1 - covered <= max_gaps):
                out.append((w_start, ea))
    return ref_minimal(A(*out))


def ref_filter(iv, g, kind):
    neg = kind.startswith("not_")
    base = kind[4:] if neg else kind
    rel = {
        "containing": lambda s, e, gs, ge: s <= gs and ge <= e,
        "contained_by": lambda s, e, gs, ge: gs <= s and e <= ge,
        "overlapping": lambda s, e, gs, ge: gs <= e and ge >= s,
        "before": lambda s, e, gs, ge: gs > e,
        "after": lambda s, e, gs, ge: ge < s,
    }[base]
    keep = [any(rel(s, e, gs, ge) for gs, ge in g) != neg for s, e in iv]
    return iv[np.array(keep, dtype=bool)] if len(iv) else iv


def ref_eval(node, pos):
    """One doc: pos = term -> sorted positions."""
    if "terms" in node:
        p = np.unique(np.concatenate([np.zeros(0, np.int64)] + [pos.get(t, np.zeros(0, np.int64))
                                                                for t in node["terms"]]))
        n = node.get("n", 1)
        iv = A(*[(p[i], p[i + n - 1]) for i in range(len(p) - n + 1)])
    else:
        children = [ref_eval(c, pos) for c in node["children"]]
        if node["op"] == "any_of":
            iv = ref_minimal(np.concatenate([A(), *children]))
        elif node["ordered"]:
            iv = ref_ordered(children, node["max_gaps"])
        else:
            iv = ref_unordered(children, node["max_gaps"], [c.get("n") for c in node["children"]])
    if "filter" in node and len(iv):
        fkind, fnode = node["filter"]
        iv = ref_filter(iv, ref_eval(fnode, pos), fkind)
    return iv


def ref_window_verified(pos, words, max_gaps):
    """Leaf-only unordered match of one doc: a window holding as many
    distinct occurrences of each word as the query repeats it, width −
    Σ multiplicities ≤ max_gaps. Two-pointer sweep."""
    need = {w: words.count(w) for w in words}
    ev = sorted((p, w) for w in need for p in pos.get(w, ()))
    n_required = len(words)
    have = dict.fromkeys(need, 0)
    lo = satisfied = 0
    for hi in range(len(ev)):
        w = ev[hi][1]
        have[w] += 1
        satisfied += have[w] == need[w]
        while satisfied == len(need):
            if max_gaps < 0 or ev[hi][0] - ev[lo][0] + 1 - n_required <= max_gaps:
                return True
            wl = ev[lo][1]
            satisfied -= have[wl] == need[wl]
            have[wl] -= 1
            lo += 1
    return False


VOCAB = ("a", "b", "c", "d")
_docs = st.lists(st.lists(st.sampled_from(VOCAB), max_size=14), min_size=1, max_size=5)
_gaps = st.sampled_from([-1, 0, 1, 2, 4])


def _leaf_strategy():
    return st.lists(st.sampled_from(VOCAB), min_size=1, max_size=2, unique=True).map(leaf)


def _tree_strategy():
    def extend(sub):
        combos = st.one_of(
            st.builds(lambda cs, o, g: all_of(cs, o, g),
                      st.lists(sub, min_size=1, max_size=3), st.booleans(), _gaps),
            st.builds(lambda cs: {"op": "any_of", "children": cs},
                      st.lists(sub, min_size=1, max_size=3)),
        )

        def with_filter(node, kind, ref):
            return {**node, "filter": (kind, ref)}

        return st.one_of(combos, st.builds(with_filter, combos, st.sampled_from(_FILTER_KINDS), sub))

    return st.recursive(_leaf_strategy(), extend, max_leaves=6)


def _positions(docs):
    """Per doc: term -> positions, and term -> doc-keyed occurrence keys."""
    per_doc = [{t: np.array([i for i, x in enumerate(d) if x == t], dtype=np.int64)
                for t in set(d)} for d in docs]
    keys = {t: np.array([(di << 32) | int(p) for di, pos in enumerate(per_doc)
                         for p in pos.get(t, ())], dtype=np.int64) for t in VOCAB}
    return per_doc, keys


@settings(max_examples=400, deadline=None)
@given(_tree_strategy(), _docs)
def test_doc_keyed_evaluator_equals_per_doc_reference(tree, docs):
    per_doc, keys = _positions(docs)
    root = evaluate(tree, keys)
    assert (np.diff(root[:, 0]) > 0).all() and (np.diff(root[:, 1]) > 0).all()
    for di, pos in enumerate(per_doc):
        mine = root[(root[:, 0] >> 32) == di] & 0xFFFFFFFF
        assert mine.tolist() == ref_eval(tree, pos).tolist()


@settings(max_examples=400, deadline=None)
@given(st.lists(st.sampled_from(VOCAB), min_size=1, max_size=4), _gaps, _docs)
def test_repeat_nodes_equal_the_multiplicity_rule(words, max_gaps, docs):
    per_doc, keys = _positions(docs)
    root = evaluate(all_of([leaf([w]) for w in words], False, max_gaps), keys)
    got = set((root[:, 0] >> 32).tolist())
    assert got == {di for di, pos in enumerate(per_doc) if ref_window_verified(pos, words, max_gaps)}


def test_repeated_term_needs_distinct_occurrences():
    one, two = {"quick": np.array([5])}, {"quick": np.array([5, 7])}
    tree = all_of([leaf(["quick"]), leaf(["quick"])])
    assert tree["children"] == [{"op": "repeat", "terms": ["quick"], "n": 2}]
    assert evaluate(tree, one).tolist() == []
    assert evaluate(tree, two).tolist() == [[5, 7]]
    assert evaluate({**tree, "max_gaps": 0}, two).tolist() == []


# --------------------------------------------------------------------------
# Engine-level: one evaluator for every intervals form, one term expander
# --------------------------------------------------------------------------

@pytest.fixture(scope="module")
def quick_es(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from elasticsearch_spark.api import Engine

    es = Engine(spark, root=str(tmp_path_factory.mktemp("ivs_engine")))
    es.create_index("q", num_partitions=2)
    texts = {
        "one": "the quick fox", "two": "quick quick fox", "gap": "quick brown quick",
        "a_c": "a_c here", "abc": "abc here", "aa": "aa here", "food": "food crowbar",
        "foo": "foo here", "cat": "cat here", "bat": "bat here", "cut": "cut here",
    }
    es.bulk("q", spark.createDataFrame(
        [(u, t, "en") for u, t in texts.items()], "url string, text string, lang string",
    ).withColumn("warc_ts", F.lit("2024-01-01").cast("timestamp")))
    return es


def _hits(es, query):
    return [(r["url"], r["score"]) for r in es.search("q", {"query": query, "size": 20})["hits"].collect()]


QUICK = {"query": "quick quick", "ordered": False}
FORMS = {
    "plain": {"match": QUICK},
    "never-excluding filter": {"match": {**QUICK, "filter": {"not_containing": {"match": {"query": "zzz"}}}}},
    "wrapped": {"all_of": {"intervals": [{"match": QUICK}]}},
    "two sources": {"all_of": {"intervals": [{"match": {"query": "quick"}}, {"match": {"query": "quick"}}]}},
}


def test_intervals_forms_agree_and_repeats_need_distinct_occurrences(quick_es):
    got = {name: _hits(quick_es, {"intervals": {"text": src}}) for name, src in FORMS.items()}
    assert {u for u, _ in got["plain"]} == {"two", "gap"}  # "one" has one quick
    assert all(hits == got["plain"] for hits in got.values()), got
    adjacent = {"intervals": {"text": {"match": {**QUICK, "max_gaps": 0}}}}
    assert [u for u, _ in _hits(quick_es, adjacent)] == ["two"]


def test_intervals_match_honours_its_analyzer(quick_es):
    src = {"query": "quick fox", "ordered": True}
    assert {u for u, _ in _hits(quick_es, {"intervals": {"text": {"match": src}}})} == {"one", "two"}
    # the keyword analyzer keeps "quick fox" one token, which no doc holds
    assert _hits(quick_es, {"intervals": {"text": {"match": {**src, "analyzer": "keyword"}}}}) == []


def _span_multi(kind, spec):
    return {"span_multi": {"match": {kind: {"text": spec}}}}


@pytest.mark.parametrize("query, want", [
    # intervals wildcard: "_" is a literal, not SQL LIKE's any character
    ({"intervals": {"text": {"wildcard": {"pattern": "a_c"}}}}, {"a_c"}),
    # span wildcard: regex syntax in the pattern is literal
    (_span_multi("wildcard", {"value": "a+"}), set()),
    (_span_multi("wildcard", {"value": "[ab]bc"}), set()),
    (_span_multi("wildcard", {"value": "a?c"}), {"abc", "a_c"}),
    # span regexp: the alternation is anchored as a whole
    (_span_multi("regexp", {"value": "foo|bar"}), {"foo"}),
    # span fuzzy: prefix_length pins the first character
    (_span_multi("fuzzy", {"value": "cat", "fuzziness": 1, "prefix_length": 1}), {"cat", "cut"}),
], ids=["intervals_wildcard_underscore", "span_wildcard_plus", "span_wildcard_brackets",
        "span_wildcard_question", "span_regexp_alternation", "span_fuzzy_prefix_length"])
def test_term_expansion(quick_es, query, want):
    assert {u for u, _ in _hits(quick_es, query)} == want

"""End-to-end north-star gate: build → BM25 top-k rank-identity vs the
independent oracle (FIXTURES.md G2), for naive and block-max WAND paths,
plus engine semantics (dedup-by-url, zero-hit terms, msm) and
checkpoint-resume."""

import os
import shutil

import numpy as np
import pytest

from elasticsearch_spark.operators.topk import search_topk
from elasticsearch_spark.sources import index_store as store
from elasticsearch_spark.sources.pages import query_set
from tests.conftest import assert_rank_identical

NO_DELETES = np.zeros(0, dtype=np.int64)  # a segment's live-doc mask with no delete


def run(spark, index_dir, url_of, terms, op="or", mode="wand", k=10, msm=None):
    res = search_topk(
        spark, index_dir, terms, k=k, operator=op, minimum_should_match=msm, mode=mode,
        fetch=False,
    ).collect()
    return [(url_of[r.doc_id], r.score) for r in res]


@pytest.mark.parametrize("mode", ["naive", "wand"])
def test_disjunctive_rank_identity(spark, index_dir, oracle, url_of, doc_id_of, mode):
    for q in [q for q in query_set(40) if q.kind == "disjunctive"][:8]:
        terms = [t.lower() for t in q.terms]
        got = run(spark, index_dir, url_of, terms, "or", mode)
        exp = oracle.topk(terms, 10, "or", tiebreak=doc_id_of)
        assert_rank_identical(got, exp)


@pytest.mark.parametrize("mode", ["naive", "wand"])
def test_conjunctive_rank_identity(spark, index_dir, oracle, url_of, doc_id_of, mode):
    for q in [q for q in query_set(100) if q.kind == "conjunctive"][:8]:
        terms = [t.lower() for t in q.terms]
        got = run(spark, index_dir, url_of, terms, "and", mode)
        exp = oracle.topk(terms, 10, "and", tiebreak=doc_id_of)
        assert_rank_identical(got, exp)


def test_hot_term_queries(spark, index_dir, oracle, url_of, doc_id_of):
    # stopword-scale terms: WAND must prune yet stay exact
    for terms in (["the", "w00001"], ["the", "of", "and"], ["the"]):
        got = run(spark, index_dir, url_of, terms, "or", "wand")
        exp = oracle.topk(terms, 10, "or", tiebreak=doc_id_of)
        assert_rank_identical(got, exp)


def test_zero_hit_and_partial_oov(spark, index_dir, oracle, url_of, doc_id_of):
    assert run(spark, index_dir, url_of, ["zzoovnothere"], "or", "wand") == []
    # OOV term in AND → zero hits (MatchQueryParser zero_terms handling)
    assert run(spark, index_dir, url_of, ["the", "zzoovnothere"], "and", "wand") == []
    # OOV term in OR → scored on remaining terms
    got = run(spark, index_dir, url_of, ["w00005", "zzoovnothere"], "or", "wand")
    exp = oracle.topk(["w00005"], 10, "or", tiebreak=doc_id_of)
    assert_rank_identical(got, exp)


def test_minimum_should_match(spark, index_dir, oracle, url_of, doc_id_of):
    terms = ["w00001", "w00002", "w00003"]
    got = run(spark, index_dir, url_of, terms, "or", "naive", msm=2)
    exp = oracle.topk(terms, 10, "or", msm=2, tiebreak=doc_id_of)
    assert_rank_identical(got, exp)


def test_dedup_latest_by_url(spark, index_dir, oracle):
    # generator emits 1% duplicate urls; engine keeps exactly one per url
    docs = spark.read.parquet(index_dir + "/segments/seg=*/docs.parquet")
    n = docs.count()
    assert n == docs.select("url").distinct().count()
    assert n == oracle.n


def test_doc_ids_deterministic_and_dense(spark, index_dir):
    docs = spark.read.parquet(index_dir + "/segments/seg=*/docs.parquet").select("seg_id", "doc_id").toPandas()
    for seg, grp in docs.groupby("seg_id"):
        ids = np.sort(grp.doc_id.to_numpy())
        base = int(seg) << 40
        assert np.array_equal(ids, base + np.arange(len(ids)))


def test_resume_skips_complete_partitions(spark, tmp_path):
    from elasticsearch_spark.operators.postings import build_index
    from elasticsearch_spark.sources.pages import pages_df

    d = str(tmp_path / "idx")
    pages = pages_df(spark, 120, n_parts=3)
    r1 = build_index(spark, pages, d, num_partitions=4)
    assert r1["built"] == 4 and r1["skipped"] == 0
    r2 = build_index(spark, pages, d, num_partitions=4)
    assert r2["built"] == 0 and r2["skipped"] == 4
    assert r2["doc_count"] == r1["doc_count"] and r2["n_blocks"] == r1["n_blocks"]
    # damage one partition's manifest → only that one rebuilds
    os.remove(store.manifest_path(d, 2))
    r3 = build_index(spark, pages, d, num_partitions=4)
    assert r3["built"] == 1 and r3["skipped"] == 3
    assert r3["doc_count"] == r1["doc_count"]


def test_wand_equals_naive_on_many_queries(spark, index_dir, url_of):
    for q in query_set(30):
        terms = [t.lower() for t in q.terms]
        op = "and" if q.kind == "conjunctive" else "or"
        a = run(spark, index_dir, url_of, terms, op, "naive")
        b = run(spark, index_dir, url_of, terms, op, "wand")
        assert [x[0] for x in a] == [x[0] for x in b]
        np.testing.assert_allclose([x[1] for x in a], [x[1] for x in b], rtol=1e-12)


def test_msearch_batch_equals_individual(spark, index_dir):
    """msearch_topk (one segment-task wave for M queries) must be
    result-identical to M individual search_topk calls — docs, scores,
    match counts, per-query."""
    from elasticsearch_spark.operators.topk import msearch_topk

    batch = {}
    want = {}
    for i, q in enumerate(query_set(12)):
        if q.kind not in ("disjunctive", "conjunctive"):
            continue
        qid = f"q{i}"
        op = "and" if q.kind == "conjunctive" else "or"
        terms = [t.lower() for t in q.terms]
        batch[qid] = {"terms": terms, "operator": op}
        want[qid] = [
            (r.doc_id, round(r.score, 10), r.n_terms_matched)
            for r in search_topk(
                spark, index_dir, terms, k=10, operator=op, mode="wand", fetch=False
            ).collect()
        ]
    assert len(batch) >= 5
    got: dict[str, list] = {qid: [] for qid in batch}
    rows = msearch_topk(spark, index_dir, batch, k=10, mode="wand").collect()
    for r in sorted(rows, key=lambda r: (r.qid, -r.score, r.doc_id)):
        got[r.qid].append((r.doc_id, round(r.score, 10), r.n_terms_matched))
    # queries whose conjunctive terms miss the vocab return no rows — same
    # as search_topk returning empty
    for qid in batch:
        assert got.get(qid, []) == want[qid], qid


def test_msearch_list_form_and_fetch(spark, index_dir, url_of):
    from elasticsearch_spark.operators.topk import msearch_topk

    qs = [q for q in query_set(6) if q.kind == "disjunctive"][:2]
    lists = [[t.lower() for t in q.terms] for q in qs]
    out = msearch_topk(spark, index_dir, lists, k=3, fetch=True).collect()
    assert {r.qid for r in out} <= {"q0", "q1"}
    assert all(r.url == url_of[r.doc_id] for r in out)


def test_wand_scans_regions_tying_kth_score():
    """A region whose upper bound EQUALS the k-th score must still be
    scanned: its docs can attain exactly that score with a smaller doc_id,
    which wins the (score desc, doc_id asc) tie-break. Region H (high ids)
    fills the heap first (higher bound); region L's bound ties the k-th
    score exactly and its doc 1 must displace doc 101."""
    import pandas as pd

    from elasticsearch_spark.operators.codec import encode_block
    from elasticsearch_spark.operators.topk import (
        _score_segment_arrays, _topk_from_arrays, _wand_segment)

    norm_doc_ids = np.array([1, 2, 100, 101], dtype=np.int64)
    norm_ql = np.array([10, 10, 10, 10], dtype=np.int64)
    ids_a, tf_a = encode_block(np.array([100, 101], dtype=np.int64), np.array([2, 1]), 100)
    ids_b, tf_b = encode_block(np.array([1, 2], dtype=np.int64), np.array([1, 1]), 1)
    post = pd.DataFrame({
        "term": ["a", "b"],
        "first_doc_id": np.array([100, 1], dtype=np.int64),
        "last_doc_id": np.array([101, 2], dtype=np.int64),
        "n": [2, 2], "max_tf": [2, 1], "min_ql": [10, 10],
        "ids_bytes": [ids_a, ids_b], "tf_bytes": [tf_a, tf_b],
    })
    weights = {"a": (1.0, 2), "b": (1.0, 2)}
    wand = _wand_segment(post, weights, norm_doc_ids, norm_ql, 10.0, 1.2, 0.75, 2, NO_DELETES)
    naive = _topk_from_arrays(
        *_score_segment_arrays(post, weights, norm_doc_ids, norm_ql, 10.0, 1.2, 0.75, NO_DELETES),
        2, 1,
    )
    exp = sorted(zip(naive["doc_id"], naive["score"]), key=lambda t: (-t[1], t[0]))
    got = sorted(zip(wand["doc_id"], wand["score"]), key=lambda t: (-t[1], t[0]))
    assert [d for d, _ in exp] == [100, 1]  # the tie-break scenario is live
    assert got == exp

    # doc 1 tombstoned (``deleted`` = the segment's deleted ids): doc 2 now
    # ties doc 101 and wins on doc_id — on both paths alike
    deleted = np.array([1], dtype=np.int64)
    wand = _wand_segment(post, weights, norm_doc_ids, norm_ql, 10.0, 1.2, 0.75, 2, deleted)
    naive = _topk_from_arrays(
        *_score_segment_arrays(post, weights, norm_doc_ids, norm_ql, 10.0, 1.2, 0.75, deleted),
        2, 1,
    )
    exp = sorted(zip(naive["doc_id"], naive["score"]), key=lambda t: (-t[1], t[0]))
    got = sorted(zip(wand["doc_id"], wand["score"]), key=lambda t: (-t[1], t[0]))
    assert [d for d, _ in exp] == [100, 2]
    assert got == exp


def test_wand_decodes_only_visited_regions(monkeypatch):
    """WAND decodes lazily, one ``decode_blocks`` call per visited region
    covering that region's not-yet-decoded blocks: a block lying only in
    regions past the stop is never decoded, and no block twice."""
    from elasticsearch_spark.operators import topk
    from elasticsearch_spark.operators.postings import encode_postings_blocks

    # term a: docs 1000..1299 (blocks first at 1000, 1128, 1256), tf 1 but
    # 50 at doc 1005; term b: docs 1130 and 1260 (one block)
    a_ids = np.arange(1000, 1300, dtype=np.int64)
    a_tfs = np.where(a_ids == 1005, 50, 1)
    ids = np.r_[a_ids, 1130, 1260]
    tfs = np.r_[a_tfs, 1, 1].astype(np.int64)
    codes = np.r_[np.zeros(300, dtype=np.int64), 1, 1]
    flat_pos = np.concatenate([np.arange(t) for t in tfs])
    post = encode_postings_blocks(
        np.array(["a", "b"], dtype=object), codes, ids, tfs,
        np.full(len(ids), 10, dtype=np.int64), 0, flat_pos).to_pandas()
    assert list(post["first_doc_id"]) == [1000, 1128, 1256, 1130]
    norm_ids = np.unique(ids)
    norm_ql = np.full(len(norm_ids), 10, dtype=np.int64)
    weights = {"a": (1.0, 300), "b": (1.0, 2)}

    arrays = topk._score_segment_arrays(post, weights, norm_ids, norm_ql, 10.0, 1.2, 0.75, NO_DELETES)
    calls = []
    real = topk.decode_blocks

    def recording(first_doc_id, *rest):
        calls.append([int(x) for x in first_doc_id])
        return real(first_doc_id, *rest)

    monkeypatch.setattr(topk, "decode_blocks", recording)

    def check(k):
        calls.clear()
        wand = topk._wand_segment(post, weights, norm_ids, norm_ql, 10.0, 1.2, 0.75, k, NO_DELETES)
        naive = topk._topk_from_arrays(*arrays, k, 1)
        got = sorted(zip(wand["doc_id"], wand["score"]), key=lambda t: (-t[1], t[0]))
        exp = sorted(zip(naive["doc_id"], naive["score"]), key=lambda t: (-t[1], t[0]))
        assert got == exp
        flat = [f for c in calls for f in c]
        assert len(flat) == len(set(flat))  # no block decoded twice
        return calls

    # k=1: doc 1005's score beats every other region's bound — only the
    # first block of a is ever decoded
    assert check(1) == [[1000]]
    # k=3: the region at 1130 decodes both of its blocks in one call; the
    # region at 1128 lies past the stop, its one block already decoded
    assert check(3) == [[1000], [1128, 1130], [1256]]


def test_rebuild_with_changed_config_refuses(spark, tmp_path):
    """Rebuilding an existing index with a different analyzer /
    num_partitions / index_sort refuses loudly: the per-partition resume
    keys on data lineage only and would skip every partition while saving
    the NEW config into meta (queries then tokenize differently from the
    postings)."""
    from elasticsearch_spark.operators.postings import build_index
    from elasticsearch_spark.sources.pages import pages_df

    d = str(tmp_path / "cfg_idx")
    build_index(spark, pages_df(spark, 60, n_parts=2), d, num_partitions=2)
    with pytest.raises(ValueError, match="analyzer"):
        build_index(spark, pages_df(spark, 60, n_parts=2), d,
                    num_partitions=2, analyzer="whitespace")
    with pytest.raises(ValueError, match="num_partitions"):
        build_index(spark, pages_df(spark, 60, n_parts=2), d, num_partitions=4)
    # identical config still resumes
    r = build_index(spark, pages_df(spark, 60, n_parts=2), d, num_partitions=2)
    assert r["built"] == 0 and r["skipped"] == 2

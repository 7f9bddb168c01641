from __future__ import annotations

import collections
import shutil

import numpy as np
import pytest

from elasticsearch_spark.functions import bm25
from elasticsearch_spark.functions.analysis import standard_tokenize
from elasticsearch_spark.functions.smallfloat import quantize_length
from elasticsearch_spark.session import get_spark
from elasticsearch_spark.sources.pages import pages_df, pages_pdf

N_PAGES = 300
INDEX_DIR = "/tmp/es_spark_test_index"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[4]", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def index_dir(spark):
    from elasticsearch_spark.operators.postings import build_index

    shutil.rmtree(INDEX_DIR, ignore_errors=True)
    build_index(spark, pages_df(spark, N_PAGES, n_parts=4), INDEX_DIR, num_partitions=6)
    return INDEX_DIR


class BM25Oracle:
    """Independent pure-Python reference scorer (FIXTURES.md G2): implements
    LegacyBM25Similarity semantics directly from per-doc token lists, no
    shared code path with the engine's postings/codec/WAND machinery."""

    def __init__(self, n_pages: int = N_PAGES):
        pdf = pages_pdf(n_pages)
        pdf = pdf.sort_values(["url", "warc_ts"]).drop_duplicates("url", keep="last")
        self.pdf = pdf
        self.toks = {u: standard_tokenize(t) for u, t in zip(pdf.url, pdf.text)}
        self.lang = dict(zip(pdf.url, pdf.lang))
        self.n = len(pdf)
        self.avgdl = sum(len(v) for v in self.toks.values()) / self.n

    def topk(self, terms, k=10, op="or", msm=1, url_pred=None, tiebreak=None):
        """tiebreak: optional url→sort-key map (doc_id order, the reference's
        shard+docID tie-break per SearchPhaseController.java:202-205);
        defaults to url order."""
        df = {t: sum(1 for v in self.toks.values() if t in v) for t in terms}
        need = len(terms) if op == "and" else msm
        out = {}
        for u, tl in self.toks.items():
            if url_pred and not url_pred(u):
                continue
            c = collections.Counter(tl)
            dl = float(quantize_length(len(tl)))
            s, m = 0.0, 0
            for t in terms:
                if c[t]:
                    m += 1
                    s += (
                        float(bm25.idf(df[t], self.n))
                        * 2.2
                        * c[t]
                        / (c[t] + 1.2 * (1 - 0.75 + 0.75 * dl / self.avgdl))
                    )
            if m >= max(need, 1):
                out[u] = s
        key = (lambda kv: (-kv[1], tiebreak[kv[0]])) if tiebreak else (lambda kv: (-kv[1], kv[0]))
        return sorted(out.items(), key=key)[:k]


@pytest.fixture(scope="session")
def oracle():
    return BM25Oracle()


@pytest.fixture(scope="session")
def url_of(spark, index_dir):
    pdf = spark.read.parquet(index_dir + "/segments/seg=*/docs.parquet").select("doc_id", "url").toPandas()
    return dict(zip(pdf.doc_id, pdf.url))


@pytest.fixture(scope="session")
def doc_id_of(url_of):
    return {u: d for d, u in url_of.items()}


def assert_rank_identical(got, exp, rtol=1e-9):
    assert [g[0] for g in got] == [e[0] for e in exp], (got, exp)
    np.testing.assert_allclose([g[1] for g in got], [e[1] for e in exp], rtol=rtol)


def assert_term_stats_are_segment_sums(spark, index_dir):
    """The engine's term statistics equal the reference: per term, the sum
    of ``n`` (df) and of ``sum_tf`` (cf) over the live segments' postings
    blocks, by a Spark groupBy — for the whole vocabulary and for
    ``term_weights``."""
    from pyspark.sql import functions as F

    from elasticsearch_spark.operators.topk import IndexReader
    from elasticsearch_spark.sources import index_store as store

    paths = store.postings_glob(index_dir)
    want = {} if not paths else {
        r["term"]: (r["df"], r["cf"])
        for r in spark.read.parquet(*paths).groupBy("term")
        .agg(F.sum("n").alias("df"), F.sum("sum_tf").alias("cf")).collect()
    }
    reader = IndexReader(spark, index_dir)
    tab = reader.term_stats()
    terms = tab["term"].to_pylist()
    assert terms == sorted(want)
    assert dict(zip(terms, zip(tab["df"].to_pylist(), tab["cf"].to_pylist()))) == want
    probe = terms[::3] + ["no-such-term"]
    assert {t: df for t, (_, df) in reader.term_weights(probe).items()} == \
        {t: want[t][0] for t in probe if t in want}

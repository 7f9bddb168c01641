"""One fuzziness parser (``Fuzziness.java``) behind every fuzzy site: the
DSL ``fuzzy`` query, the intervals ``fuzzy`` source, ``span_multi`` fuzzy
and the completion suggester. ``AUTO`` gives what its resolved int gives."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from elasticsearch_spark.api import Engine
from elasticsearch_spark.plans import dsl

ROOT = "/tmp/es_spark_fuzziness_test"


@pytest.mark.parametrize("value,term,edits", [
    ("AUTO", "ab", 0), ("AUTO", "abc", 1), ("AUTO", "abcde", 1), ("AUTO", "abcdef", 2),
    ("auto", "zürich", 2), ("AUTO:2,4", "a", 0), ("AUTO:2,4", "ab", 1), ("AUTO:2,4", "abcd", 2),
    (1, "abcdef", 1), ("2", "a", 2), ("0", "abcdef", 0),
])
def test_resolve_fuzziness(value, term, edits):
    assert dsl.resolve_fuzziness(value, term) == edits


@pytest.fixture(scope="module")
def es(spark):
    shutil.rmtree(ROOT, ignore_errors=True)
    eng = Engine(spark, root=ROOT)
    eng.create_index("fz", num_partitions=1)
    eng.bulk("fz", spark.createDataFrame(
        [("f1", "i know it"), ("f2", "they knew it"), ("f3", "snow falls"),
         ("f4", "knowing nothing"), ("f5", "kn ow")],
        "url string, text string",
    ).withColumn("lang", F.lit("en")))
    yield eng
    shutil.rmtree(ROOT, ignore_errors=True)


def _urls(es, query):
    return {r["url"] for r in es.search("fz", {"query": query, "size": 10})["hits"].collect()}


def test_dsl_fuzzy_auto(spark):
    df = spark.createDataFrame([("a", "zurich"), ("b", "zuric"), ("c", "zurihc"), ("d", "berlin")],
                               "k string, name string")

    def keys(fz):
        body = {"query": {"fuzzy": {"name": {"value": "zurich", "fuzziness": fz}}}}
        return {r["k"] for r in dsl.search(spark, df, body, key="k").collect()}

    assert keys("AUTO") == keys(2) == {"a", "b", "c"}
    assert keys("AUTO:3,10") == keys(1) == {"a", "b"}


def test_intervals_fuzzy_auto(es):
    def q(fz):
        return {"intervals": {"text": {"fuzzy": {"term": "knoww", "fuzziness": fz}}}}

    assert _urls(es, q("AUTO")) == _urls(es, q(1)) == {"f1"}
    assert _urls(es, q(2)) == {"f1", "f2", "f3"}


def test_span_multi_fuzzy_auto(es):
    def q(fz):
        return {"span_multi": {"match": {"fuzzy": {"text": {"value": "knoww", "fuzziness": fz}}}}}

    assert _urls(es, q("AUTO")) == _urls(es, q(1)) == {"f1"}


def test_completion_fuzzy_auto(es):
    def sugg(fz):
        out = es.search("fz", {"size": 0, "suggest": {"c": {
            "prefix": "knoz", "completion": {"field": "text", "fuzzy": {"fuzziness": fz}}}}})
        return {r["suggestion"] for r in out["suggest"]["c"].collect()}

    assert sugg("AUTO") == sugg(1) == {"know", "knowing"}

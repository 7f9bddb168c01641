"""Query/operator registry: the driver-facing catalog of engine capabilities.

Each entry pairs a Spark DataFrame implementation with an equivalent ANSI-SQL
oracle (run by DuckDB over the same parquet tables) — the correctness gate.
Entries mirror the reference's operator surface (SURVEY.md §2): query DSL
(match/term/bool/range/prefix/fuzzy/phrase — ``server/src/main/java/org/
elasticsearch/index/query/*QueryBuilder.java``), aggregations (``server/.../
search/aggregations/``), and the training-data-pipeline extensions (dedup,
similarity search, text analysis).

Conventions:
- every computed column is aliased identically in Spark and SQL;
- doubles that pass through floating aggregation are ``round(x, 4)`` on both
  sides so value-hashes match despite summation-order noise;
- deterministic tie-breaks everywhere (score DESC, doc_id ASC — the
  reference's ``SearchPhaseController.java:202-205`` ordering).

The fulltext entries here use the ``regex_simple`` analyzer
(``[a-z0-9]+`` over lowercased text) because it is exactly mirrorable in
DuckDB SQL; the ``standard`` UAX#29 analyzer is exercised by the pytest
golden suite instead (tests/test_analysis.py, tests/test_index_search.py).

Scale notes: every query is a declarative DataFrame plan — Catalyst pushes
filters/projections into the parquet scan; the only wide operations are the
groupBys that the semantics require; small sides (per-term df stats, the
1-row collection-stats frame, top-k candidate sets) are broadcast.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd  # noqa: F401 — pandas_udf type hints resolve via module globals

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

K1 = 1.2
B = 0.75

# doc length BM25 sees = SmallFloat-quantized token count (keep top 4
# significant bits; exact below 8) — portable to DuckDB
_QDL = (
    "case when dl < 8 then dl else "
    "(dl >> (cast(floor(log2(dl)) as int) - 3)) << (cast(floor(log2(dl)) as int) - 3) end"
)

_TOK_SPARK = "regexp_extract_all(lower(text), '[a-z0-9]+', 0)"
_TOK_SQL = "regexp_extract_all(lower(text), '[a-z0-9]+')"


def _geohash_sql(prec: int) -> tuple[str, str, int, int]:
    """Unrolled integer-SQL mirror of the geohash bit-interleave (MSB-first,
    lon takes even positions): returns (code_expr over ilat/ilon, char_expr
    over code, lat_bits, lon_bits)."""
    nbits = 5 * prec
    latb, lonb = nbits // 2, nbits - nbits // 2
    terms, oi, li = [], lonb, latb
    for b in range(nbits):
        if b % 2 == 0:
            oi -= 1
            terms.append(f"(((ilon >> {oi}) & 1) << {nbits - 1 - b})")
        else:
            li -= 1
            terms.append(f"(((ilat >> {li}) & 1) << {nbits - 1 - b})")
    code = " + ".join(terms)
    chars = " || ".join(
        "substring('0123456789bcdefghjkmnpqrstuvwxyz',"
        f" CAST(((code >> {5 * (prec - 1 - i)}) & 31) AS INT) + 1, 1)"
        for i in range(prec)
    )
    return code, chars, latb, lonb


_GH_CODE, _GH_CHARS, _GH_LATB, _GH_LONB = _geohash_sql(3)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _tokenized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).withColumn("toks", F.expr(_TOK_SPARK))


def _bm25_scores(spark: SparkSession, sf_dir: str, terms: list[str]) -> DataFrame:
    """Per-doc BM25 sum + matched-term count for `terms` (pure DataFrame ops;
    the minimum end-to-end slice of SURVEY §7). Returns doc_id, score, matched.

    Plan shape at scale: one explode→groupBy for tf (shuffle on (doc_id,term)
    — co-partitioned with dl's groupBy(doc_id) downstream), df-stats and the
    1-row collection stats broadcast onto the term matches (DfsPhase
    semantics, ``server/.../search/dfs/DfsPhase.java:31-81``)."""
    toks = _tokenized(spark, sf_dir).select("doc_id", "toks")
    tf = (
        toks.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    dl = toks.select("doc_id", F.size("toks").cast("long").alias("dl")).withColumn(
        "qdl", F.expr(_QDL).cast("double")
    )
    coll = dl.agg(
        F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    q = tf.where(F.col("term").isin(terms))
    dfstats = q.groupBy("term").agg(F.count("*").cast("double").alias("df"))
    scored = (
        q.join(F.broadcast(dfstats), "term")
        .join(dl.select("doc_id", "qdl"), "doc_id")
        .crossJoin(F.broadcast(coll))
        .withColumn("idf", F.log(1.0 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)))
        .withColumn(
            "s",
            F.col("idf")
            * (K1 + 1.0)
            * F.col("tf")
            / (F.col("tf") + K1 * (1.0 - B + B * F.col("qdl") / F.col("avgdl"))),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.sum("s").alias("score_raw"), F.count("*").cast("int").alias("matched")
    )


def _bm25_cte(terms: list[str], msm: int | None = 1) -> str:
    """Reusable WITH-chain computing per-doc BM25 (CTE ``scored``:
    doc_id, score_raw, matched) for `terms` — shared by every DSL oracle."""
    tl = ", ".join(f"'{t}'" for t in terms)
    msm_clause = f"HAVING count(*) >= {msm}" if msm else ""
    return f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL} AS toks FROM documents
),
dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tok),
qdl AS (SELECT doc_id, ({_QDL})::DOUBLE AS qdl FROM dl),
coll AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term IN ({tl}) GROUP BY 1, 2
),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (coll.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
             * ({K1} + 1.0) * tf.tf
             / (tf.tf + {K1} * (1.0 - {B} + {B} * qdl.qdl / coll.avgdl))) AS score_raw,
         count(*)::INT AS matched
  FROM tf JOIN dfs USING (term) JOIN qdl ON tf.doc_id = qdl.doc_id CROSS JOIN coll
  GROUP BY tf.doc_id {msm_clause}
)"""


def _bm25_sql(terms: list[str], extra_pred: str = "", msm: int | None = 1, k: int = 10) -> str:
    tl = ", ".join(f"'{t}'" for t in terms)
    msm_clause = f"HAVING count(*) >= {msm}" if msm else ""
    return f"""
WITH tok AS (
  SELECT doc_id, lang, source, n_chars, {_TOK_SQL} AS toks FROM documents
),
dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tok),
qdl AS (SELECT doc_id, ({_QDL})::DOUBLE AS qdl FROM dl),
coll AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term IN ({tl}) GROUP BY 1, 2
),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (coll.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
             * ({K1} + 1.0) * tf.tf
             / (tf.tf + {K1} * (1.0 - {B} + {B} * qdl.qdl / coll.avgdl))) AS score_raw,
         count(*)::INT AS matched
  FROM tf JOIN dfs USING (term) JOIN qdl ON tf.doc_id = qdl.doc_id CROSS JOIN coll
  GROUP BY tf.doc_id {msm_clause}
)
SELECT s.doc_id, round(s.score_raw, 4) AS score, s.matched
FROM scored s JOIN documents d ON s.doc_id = d.doc_id
WHERE 1=1 {extra_pred}
ORDER BY s.score_raw DESC, s.doc_id ASC LIMIT {k}
"""


# --------------------------------------------------------------------------
# fulltext query DSL
# --------------------------------------------------------------------------

_OR_TERMS = ["spark", "merge", "vector"]
_AND_TERMS = ["data", "query", "stream"]
_MSM_TERMS = ["join", "window", "sort", "hash"]
_FILTER_TERMS = ["table", "scan"]


def q_match_or(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`match` with operator OR (MatchQueryBuilder.java, default): BM25 sum
    over matching terms, top-10 (score DESC, doc_id ASC)."""
    s = _bm25_scores(spark, sf_dir, _OR_TERMS)
    return (
        s.orderBy(F.desc("score_raw"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", F.round("score_raw", 4).alias("score"), "matched")
    )


def q_match_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`match` operator AND: all terms must match (MatchQueryParser.java:110)."""
    s = _bm25_scores(spark, sf_dir, _AND_TERMS).where(F.col("matched") == len(_AND_TERMS))
    return (
        s.orderBy(F.desc("score_raw"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", F.round("score_raw", 4).alias("score"), "matched")
    )


def q_match_msm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`match` with minimum_should_match=3 of 4 (MatchQueryBuilder msm)."""
    s = _bm25_scores(spark, sf_dir, _MSM_TERMS).where(F.col("matched") >= 3)
    return (
        s.orderBy(F.desc("score_raw"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", F.round("score_raw", 4).alias("score"), "matched")
    )


def q_bool_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool{must: match OR, filter: lang='en' AND n_chars range} — scored must
    clause + unscored filter context (BoolQueryBuilder.java:47-65)."""
    s = _bm25_scores(spark, sf_dir, _FILTER_TERMS)
    d = _docs(spark, sf_dir).where((F.col("lang") == "en") & F.col("n_chars").between(100, 400))
    return (
        s.join(d.select("doc_id"), "doc_id")
        .orderBy(F.desc("score_raw"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", F.round("score_raw", 4).alias("score"), "matched")
    )


def q_match_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_phrase (MatchPhraseQueryBuilder.java): adjacent-position token
    subsequence, here via token-stream containment."""
    t = _tokenized(spark, sf_dir)
    hit = t.where(
        F.concat(F.lit(" "), F.array_join("toks", " "), F.lit(" ")).contains(" group order ")
    )
    return hit.select("doc_id", "lang").orderBy("doc_id")


def q_term_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """term query (TermQueryBuilder.java) as a filter + per-lang doc counts."""
    t = _tokenized(spark, sf_dir)
    return (
        t.where(F.array_contains("toks", "vector"))
        .groupBy("lang")
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("lang"))
    )


def q_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """prefix query (PrefixQueryBuilder.java): term-dictionary expansion —
    terms starting with 's', returning per-term df."""
    t = _tokenized(spark, sf_dir)
    return (
        t.select("doc_id", F.explode(F.array_distinct("toks")).alias("term"))
        .where(F.col("term").startswith("s"))
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
    )


def q_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fuzzy query (FuzzyQueryBuilder.java): Levenshtein ≤ 1 expansion over
    the term dictionary, then df per matched term."""
    t = _tokenized(spark, sf_dir)
    terms = t.select("doc_id", F.explode(F.array_distinct("toks")).alias("term"))
    return (
        terms.where(F.levenshtein(F.col("term"), F.lit("spark")) <= 1)
        .groupBy("term")
        .agg(F.count("*").cast("long").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
    )


def q_range_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """range query (RangeQueryBuilder.java) + term filter on events."""
    e = _events(spark, sf_dir)
    return (
        e.where((F.col("event_type") == "purchase") & F.col("value").between(10.0, 500.0))
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("hits"), F.round(F.sum("value"), 4).alias("total"))
        .orderBy("day")
    )


def q_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ids query (IdsQueryBuilder.java): point lookups by doc key."""
    return (
        _docs(spark, sf_dir)
        .where(F.col("doc_id").isin([3, 7, 11, 13]))
        .select("doc_id", "lang", "source", "n_chars")
        .orderBy("doc_id")
    )


def q_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wildcard query (WildcardQueryBuilder.java): source LIKE 'src1%'."""
    return (
        _docs(spark, sf_dir)
        .where(F.col("source").like("src1%"))
        .groupBy("source")
        .agg(F.count("*").alias("doc_count"))
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# aggregations
# --------------------------------------------------------------------------

def q_terms_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terms lookup (TermsQueryBuilder.java terms-lookup mode): the term set
    comes from another table — a broadcast semi-join (the Spark form of
    fetching the lookup doc and rewriting to a terms query)."""
    e = _events(spark, sf_dir)
    cust = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("user_id"))
    )
    return (
        e.join(F.broadcast(cust), "user_id", "left_semi")
        .groupBy("event_type")
        .agg(F.count("*").alias("hits"))
        .orderBy("event_type")
    )


def q_lookup_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime field ``type: lookup`` (LookupRuntimeFieldType.java,
    search/390_lookup_fields.yml): hits enriched from a lookup index via
    dsl.lookup_field's broadcast join — here events gain the matching
    customer's market segment; unmatched user_ids keep a NULL entry, the
    reference's no-match shape."""
    from .plans.dsl import lookup_field

    e = _events(spark, sf_dir)
    cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
    enriched = lookup_field(
        e, cust, "cust", "user_id", "c_custkey", ["c_mktsegment", "c_name"])
    return (
        enriched.select(
            F.when(F.col("cust").isNotNull(),
                   F.col("cust")[0]["c_mktsegment"]).alias("segment"))
        .groupBy("segment")
        .agg(F.count("*").cast("long").alias("n_events"))
        .orderBy(F.asc_nulls_first("segment"))
    )


def a_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terms agg (GlobalOrdinalsStringTermsAggregator.java): top-N groups."""
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("lang"))
        .limit(10)
    )


def a_date_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_histogram (DateHistogramAggregator.java:58): daily buckets with a
    sum sub-agg."""
    return (
        _events(spark, sf_dir)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("doc_count"), F.round(F.sum("value"), 4).alias("sum_value"))
        .orderBy("day")
    )


def a_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram (NumericHistogramAggregator.java): interval=100 on n_chars."""
    return (
        _docs(spark, sf_dir)
        .groupBy((F.floor(F.col("n_chars") / 100) * 100).cast("long").alias("bucket"))
        .agg(F.count("*").alias("doc_count"))
        .orderBy("bucket")
    )


def a_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stats agg (StatsAggregator.java) per event_type."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count("value").alias("cnt"),
            F.round(F.min("value"), 4).alias("min_v"),
            F.round(F.max("value"), 4).alias("max_v"),
            F.round(F.sum("value"), 4).alias("sum_v"),
            F.round(F.avg("value"), 4).alias("avg_v"),
        )
        .orderBy("event_type")
    )


def a_extended_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extended_stats (ExtendedStatsAggregator.java): variance/stddev."""
    return (
        _docs(spark, sf_dir)
        .groupBy("lang")
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.var_pop("n_chars"), 4).alias("var_p"),
            F.round(F.stddev_pop("n_chars"), 4).alias("std_p"),
        )
        .orderBy("lang")
    )


def a_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentiles agg (TDigestState.java — here exact, the test-mode path)."""
    e = _events(spark, sf_dir)
    return (
        e.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.75)"), 4).alias("p75"),
        )
        .orderBy("event_type")
    )


def a_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cardinality agg (CardinalityAggregator.java) — exact variant for the
    oracle; the HLL++ approx path is `a_cardinality_approx` (rows-only)."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("users"))
        .orderBy("event_type")
    )


def a_cardinality_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ cardinality (HyperLogLogPlusPlus.java:40-68) — same sketch family
    as approx_count_distinct; no SQL oracle (sketch-dependent)."""
    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", 0.01).alias("users"))
        .orderBy("event_type")
    )


def a_top_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top_hits agg (TopHitsAggregator.java:54): top-3 docs per lang by
    n_chars DESC, doc_id ASC."""
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        _docs(spark, sf_dir)
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("lang", "rank", "doc_id", "n_chars")
        .orderBy("lang", "rank")
    )


def a_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """field collapse (CollapseBuilder.java:35): best doc per source key."""
    w = Window.partitionBy("source").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        _docs(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("source", "doc_id", "n_chars")
        .orderBy("source")
    )


def a_value_count_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """value_count + missing aggs (ValueCountAggregator / MissingAggregator)."""
    e = _events(spark, sf_dir)
    return e.agg(
        F.count("props").alias("value_count"),
        F.sum(F.when(F.col("props").isNull(), 1).otherwise(0)).cast("long").alias("missing"),
    )


def a_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """weighted_avg agg (WeightedAvgAggregator.java): sum(v*w)/sum(w)."""
    e = _events(spark, sf_dir).withColumn("w", (F.col("user_id") % 5 + 1).cast("double"))
    return (
        e.groupBy("event_type")
        .agg(F.round(F.sum(F.col("value") * F.col("w")) / F.sum("w"), 4).alias("wavg"))
        .orderBy("event_type")
    )


def a_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """composite agg (CompositeAggregator.java:66): multi-source group-by with
    keyset pagination `after: (lang='en', source='src12')`, page size 15."""
    d = _docs(spark, sf_dir)
    after_l, after_s = "en", "src12"
    return (
        d.groupBy("lang", "source")
        .agg(F.count("*").alias("doc_count"))
        .where(
            (F.col("lang") > after_l)
            | ((F.col("lang") == after_l) & (F.col("source") > after_s))
        )
        .orderBy("lang", "source")
        .limit(15)
    )


def a_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filters agg (FiltersAggregator.java:50): one bucket per predicate."""
    e = _events(spark, sf_dir)
    return e.agg(
        F.sum(F.when(F.col("value") < 10, 1).otherwise(0)).cast("long").alias("small"),
        F.sum(F.when((F.col("value") >= 10) & (F.col("value") < 100), 1).otherwise(0))
        .cast("long")
        .alias("mid"),
        F.sum(F.when(F.col("value") >= 100, 1).otherwise(0)).cast("long").alias("large"),
    )


def a_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """range agg (RangeAggregator.java:69): overlapping ranges — a doc lands
    in every range containing it (explode over matching ranges)."""
    d = _docs(spark, sf_dir)
    ranges = F.array(
        F.struct(F.lit("0-200").alias("r"), F.lit(0).alias("lo"), F.lit(200).alias("hi")),
        F.struct(F.lit("100-400").alias("r"), F.lit(100).alias("lo"), F.lit(400).alias("hi")),
        F.struct(F.lit("300-inf").alias("r"), F.lit(300).alias("lo"), F.lit(10**9).alias("hi")),
    )
    return (
        d.select("n_chars", F.explode(ranges).alias("rg"))
        .where((F.col("n_chars") >= F.col("rg.lo")) & (F.col("n_chars") < F.col("rg.hi")))
        .groupBy(F.col("rg.r").alias("bucket"))
        .agg(F.count("*").alias("doc_count"))
        .orderBy("bucket")
    )


def a_top_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """top_metrics agg (x-pack analytics TopMetricsAggregationBuilder
    surface): per bucket, the value of one field at the max of a sort
    field — window row_number over (value DESC, id ASC)."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy(F.desc("value"), F.asc("event_id"))
    return (
        e.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("event_type", F.col("user_id").alias("top_user"), F.round("value", 4).alias("top_value"))
        .orderBy("event_type")
    )


def a_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rate agg (RateAggregationBuilder semantics): per day-bucket event
    rate per hour = doc_count / 24."""
    return (
        _events(spark, sf_dir)
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.round(F.count("*") / 24.0, 4).alias("per_hour"))
        .orderBy("day")
    )


def a_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t_test agg (x-pack analytics TTestAggregationBuilder): Welch's
    unpaired heteroscedastic t between returned (R) and non-returned (N)
    lineitem extended prices — per-side moments in one distributed pass,
    t statistic + Welch–Satterthwaite dof reduced coordinator-side
    (p-value via functions/stats.py, excluded here: no SQL analog)."""
    from .plans.aggs import aggregate

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    out = aggregate(li, {"tt": {"t_test": {
        "a": {"field": "l_extendedprice", "filter": {"term": {"l_returnflag": "R"}}},
        "b": {"field": "l_extendedprice", "filter": {"term": {"l_returnflag": "N"}}},
        "type": "heteroscedastic"}}})["tt"]
    return out.select(
        "n_a", "n_b", F.round("t_stat", 6).alias("t_stat"), F.round("dof", 4).alias("dof")
    )


def a_categorize_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """categorize_text agg (CategorizeTextAggregationBuilder): log-style
    messages grouped by their digit-free token pattern."""
    from .plans.aggs import aggregate

    msgs = _events(spark, sf_dir).select(
        "event_id",
        F.concat(
            F.lit("event "), F.col("event_type"), F.lit(" user "),
            F.col("user_id").cast("string"), F.lit(" took "),
            F.col("value").cast("string"), F.lit(" ms"),
        ).alias("msg"),
    )
    return aggregate(msgs, {"cat": {"categorize_text": {"field": "msg", "size": 6}}})["cat"]


def a_geo_line(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_line metric agg (x-pack spatial GeoLineAggregationBuilder)
    under a terms bucket: per user, the ts-ordered track of (lon, lat)
    points — one collect_list aggregate per group, sort/slice applied to
    the aggregated array. Exploded to (user, seq, lon, lat) rows for the
    oracle compare."""
    from .plans.aggs import aggregate

    pts = (
        _events(spark, sf_dir)
        .where(F.col("user_id") < 5)
        .select(
            "user_id", "ts", "event_id",
            (F.col("value") % 360 - 180).alias("lon"),
            (F.col("value") % 170 - 85).alias("lat"),
        )
    )
    lines = aggregate(pts, {"l": {
        "terms": {"field": "user_id", "size": 5, "order": {"_key": "asc"}},
        "aggs": {"line": {"geo_line": {
            "lon_field": "lon", "lat_field": "lat",
            "sort": {"field": "event_id"}, "size": 8}}},
    }})["l"]
    return lines.select(
        F.col("key").alias("user_id"),
        F.posexplode("line").alias("seq", "pt"),
    ).select(
        "user_id", "seq",
        F.round(F.col("pt")[0], 4).alias("lon"),
        F.round(F.col("pt")[1], 4).alias("lat"),
    ).orderBy("user_id", "seq")


def a_frequent_item_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """frequent_item_sets agg (x-pack ml FrequentItemSetsAggregationBuilder):
    closed frequent (status, priority) pairs over order transactions —
    doc-id-keyed apriori joins, never all-pairs across the corpus."""
    from .plans.aggs import aggregate

    ords = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority"
    )
    out = aggregate(ords, {"fis": {"frequent_item_sets": {
        "fields": ["o_orderstatus", "o_orderpriority"],
        "minimum_support": 0.02, "minimum_set_size": 2, "size": 10}}})["fis"]
    return out.select("key", "set_size", "doc_count", F.round("support", 6).alias("support"))


def _parent_join_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders (parent) + lineitem (child) as ONE join-field frame — the
    modules/parent-join same-shard layout used by has_child and the
    children/parent aggs."""
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    fam_o = orders.select(
        F.col("o_orderkey").alias("id"), F.lit("order").alias("join_type"),
        F.lit(None).cast("long").alias("parent_id"),
        F.col("o_orderpriority"), F.lit(None).cast("double").alias("l_quantity"),
    )
    fam_l = li.select(
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("id"),
        F.lit("line").alias("join_type"), F.col("l_orderkey").alias("parent_id"),
        F.lit(None).cast("string").alias("o_orderpriority"), F.col("l_quantity"),
    )
    return fam_o.unionByName(fam_l)


def a_children(spark: SparkSession, sf_dir: str) -> DataFrame:
    """children agg (modules/parent-join ChildrenAggregationBuilder):
    switch parent context to child docs with inherited parent attributes,
    then terms on the parent's priority × avg child quantity."""
    from .plans.aggs import aggregate

    fam = _parent_join_family(spark, sf_dir)
    out = aggregate(fam, {"c": {"children": {"type": "line"}, "aggs": {
        "pri": {"terms": {"field": "o_orderpriority", "size": 5},
                "aggs": {"avg_qty": {"avg": {"field": "l_quantity"}}}}}}})["c"]
    return out.select("key", "doc_count", F.round("avg_qty", 6).alias("avg_qty"))


def a_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parent agg (ParentAggregationBuilder): child context → the DISTINCT
    parent docs having a matching child."""
    from .plans.aggs import aggregate

    fam = _parent_join_family(spark, sf_dir)
    return aggregate(fam, {"p": {"parent": {"type": "line"}}})["p"]


def dsl_pinned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pinned query (x-pack search-business-rules PinnedQueryBuilder):
    listed part ids first in list order, then organic constant_score
    hits."""
    from .plans import dsl

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    node = dsl.parse({"pinned": {
        "ids": [42, 7, 199],
        "organic": {"constant_score": {
            "filter": {"range": {"p_retailprice": {"gte": 998.5}}}, "boost": 1.5}},
    }})
    ctx = dsl.SearchContext(part, "p_partkey")
    return (
        node.frame(ctx)
        .select(F.col("__key").alias("p_partkey"), F.round("_score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("p_partkey"))
        .limit(20)
    )


def a_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (the transform/continuous-pivot style operator a
    training-data pipeline needs): per user, events split into sessions at
    >30-minute gaps; emits per-user session counts and mean session length."""
    e = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_sess",
        F.when(
            F.col("prev_ts").isNull()
            | (F.unix_timestamp("ts") - F.unix_timestamp("prev_ts") > 1800),
            1,
        ).otherwise(0),
    )
    sess = gaps.withColumn(
        "sess_id", F.sum("new_sess").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    per_sess = sess.groupBy("user_id", "sess_id").agg(F.count("*").alias("n_events"))
    return (
        per_sess.groupBy("user_id")
        .agg(
            F.count("*").alias("n_sessions"),
            F.round(F.avg("n_events"), 4).alias("avg_events_per_session"),
        )
        .where(F.col("user_id") < 30)
        .orderBy("user_id")
    )


def a_pipeline_cumsum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pipeline aggs cumulative_sum + derivative (pipeline/*.java) over daily
    signup counts — window functions over the bucket frame."""
    daily = (
        _events(spark, sf_dir)
        .where(F.col("event_type") == "signup")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count("*").alias("doc_count"))
    )
    w = Window.orderBy("day")
    return (
        daily.withColumn(
            "cumsum", F.sum("doc_count").over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
        .withColumn("deriv", F.col("doc_count") - F.lag("doc_count", 1).over(w))
        .orderBy("day")
    )


def a_significant_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """significant_terms (SignificantTermsAggregatorFactory.java), JLH
    heuristic: (fg% - bg%) * (fg% / bg%), foreground = lang='de' docs."""
    t = _tokenized(spark, sf_dir).select(
        "doc_id", (F.col("lang") == "de").alias("fg"), F.explode(F.array_distinct("toks")).alias("term")
    )
    counts = t.groupBy("term").agg(
        F.sum(F.when(F.col("fg"), 1).otherwise(0)).cast("double").alias("fg_count"),
        F.count("*").cast("double").alias("bg_count"),
    )
    tot = t.agg(
        F.sum(F.when(F.col("fg"), 1).otherwise(0)).cast("double").alias("fg_tot"),
        F.count("*").cast("double").alias("bg_tot"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .withColumn("fg_pct", F.col("fg_count") / F.col("fg_tot"))
        .withColumn("bg_pct", F.col("bg_count") / F.col("bg_tot"))
        .where(F.col("fg_count") > 0)
        .withColumn("jlh", F.round((F.col("fg_pct") - F.col("bg_pct")) * F.col("fg_pct") / F.col("bg_pct"), 4))
        .select("term", F.col("fg_count").cast("long").alias("fg_n"), F.col("bg_count").cast("long").alias("bg_n"), "jlh")
        .orderBy(F.desc("jlh"), F.asc("term"))
        .limit(15)
    )


# --------------------------------------------------------------------------
# index-backed engine paths (postings build → WAND → fetch), oracle-gated:
# the engine's BM25 formula with SmallFloat norms is exactly mirrored in SQL
# --------------------------------------------------------------------------

_INDEX_CACHE: dict[str, str] = {}


def _index_for(spark: SparkSession, sf_dir: str) -> str:
    """Build (once per sf_dir per process) the inverted index over the
    documents table; url = zero-padded doc_id so internal doc-id order ==
    numeric doc_id order (deterministic tie-breaks vs the oracle)."""
    import os

    from .operators.postings import build_index

    if sf_dir in _INDEX_CACHE:
        return _INDEX_CACHE[sf_dir]
    tag = sf_dir.strip("/").replace("/", "_")
    index_dir = f"/tmp/es_registry_index_{tag}"
    pages = _docs(spark, sf_dir).select(
        F.format_string("doc%012d", F.col("doc_id")).alias("url"),
        F.lit("2024-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        "text",
        "lang",
    )
    build_index(spark, pages, index_dir, num_partitions=4, analyzer="regex_simple")
    _INDEX_CACHE[sf_dir] = index_dir  # resume path makes the re-call a no-op
    return index_dir


def q_index_wand_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full engine path: postings/segments on disk → block-max WAND top-10 →
    fetch; oracle = the BM25 formula in SQL (rank- and score-identical)."""
    from .operators.topk import search_topk

    idx = _index_for(spark, sf_dir)
    hits = search_topk(spark, idx, _OR_TERMS, k=10, operator="or", mode="wand", fetch=True)
    return hits.select(
        F.expr("cast(substring(url, 4, 12) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_term_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """term suggester over the index term dictionary (operators/suggest.py):
    edit-distance candidates ranked (distance ASC, df DESC, term ASC)."""
    from .operators.suggest import term_suggest

    idx = _index_for(spark, sf_dir)
    return term_suggest(spark, idx, "spakr windoq", max_edits=2, size=3)


def q_msearch_wand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched _msearch at the postings layer (operators/topk.py:
    msearch_topk): one query phase answers both queries — per-query
    results identical to separate search_topk calls."""
    from .operators.topk import msearch_topk

    idx = _index_for(spark, sf_dir)
    out = msearch_topk(
        spark,
        idx,
        {
            "mq0": {"terms": _OR_TERMS, "operator": "or"},
            "mq1": {"terms": _AND_TERMS, "operator": "and"},
        },
        k=10,
        mode="wand",
        fetch=True,
    )
    return out.select(
        "qid",
        F.expr("cast(substring(url, 4, 12) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
        F.col("n_terms_matched").alias("matched"),
    )


def q_terms_enum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_terms_enum over the index term dictionary: ascending prefix page
    (TransportTermsEnumAction.java) — a pruned scan of the vocab table."""
    import os

    from .api import Engine

    idx = _index_for(spark, sf_dir)
    es = Engine(spark, root=os.path.dirname(idx))
    res = es.terms_enum(os.path.basename(idx), field="text", string="s", size=20)
    return spark.createDataFrame([(t,) for t in res["terms"]], "term string")


def q_index_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-backed match_phrase: conjunctive WAND candidates → positional
    verify at fetch (operators/phrase.py)."""
    from .operators.phrase import search_phrase
    from .operators.topk import IndexReader

    idx = _index_for(spark, sf_dir)
    hits = search_phrase(IndexReader(spark, idx), "group order", k=10)
    return hits.select(
        F.expr("cast(substring(url, 4, 12) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


# --------------------------------------------------------------------------
# query DSL compiler end-to-end (plans/dsl.py): parsed JSON bodies through
# the bool/dis_max/function_score/boosting combinators
# --------------------------------------------------------------------------

def _dsl_search(spark: SparkSession, sf_dir: str, body: dict) -> DataFrame:
    from .plans import dsl

    out = dsl.search(spark, _docs(spark, sf_dir), body, key="doc_id", text_col="text")
    return out.select("doc_id", F.round("_score", 4).alias("score"))


def dsl_bool_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bool with all four clause types through the DSL compiler."""
    return _dsl_search(spark, sf_dir, {
        "query": {"bool": {
            "must": [{"match": {"text": {"query": "spark join"}}}],
            "filter": [{"range": {"n_chars": {"gte": 150, "lte": 450}}}],
            "must_not": [{"term": {"lang": "zh"}}],
            "should": [{"constant_score": {"filter": {"term": {"source": "src7"}}, "boost": 0.7}}],
        }},
        "size": 10,
    })


def dsl_dismax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dis_max with tie_breaker through the DSL compiler."""
    return _dsl_search(spark, sf_dir, {
        "query": {"dis_max": {
            "queries": [{"match": {"text": "spark"}}, {"match": {"text": "vector"}}],
            "tie_breaker": 0.3,
        }},
        "size": 10,
    })


def dsl_common_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """common terms query (CommonTermsQueryBuilder.java): at cutoff 0.5 the
    rare term 'dup' (df≈0.05) is the low-frequency SELECTING clause while
    'spark'/'merge' (df≈0.77) only add score to docs 'dup' selected. The
    split reads the search context's df of the three terms."""
    return _dsl_search(spark, sf_dir, {
        "query": {"common": {"text": {
            "query": "dup spark merge", "cutoff_frequency": 0.5,
        }}},
        "size": 10,
    })


def dsl_function_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """function_score: match × log1p(field_value_factor) through the DSL."""
    return _dsl_search(spark, sf_dir, {
        "query": {"function_score": {
            "query": {"match": {"text": "data"}},
            "functions": [{"field_value_factor": {"field": "n_chars", "factor": 0.01, "modifier": "log1p"}}],
            "boost_mode": "multiply",
        }},
        "size": 10,
    })


def dsl_boosting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """boosting: positive match demoted where negative term matches."""
    return _dsl_search(spark, sf_dir, {
        "query": {"boosting": {
            "positive": {"match": {"text": "data stream"}},
            "negative": {"term": {"lang": "de"}},
            "negative_boost": 0.4,
        }},
        "size": 10,
    })


def dsl_sparse_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sparse_vector query (x-pack ``SparseVectorQueryBuilder.java``, the
    ELSER weighted-tokens query): score = Σ query_weight(t) · tf(t, doc)
    over the analyzed text (the rank_features-on-text analog)."""
    return _dsl_search(spark, sf_dir, {
        "query": {"sparse_vector": {"field": "text", "query_vector": {
            "spark": 2.0, "merge": 1.0, "vector": 0.5,
        }}},
        "size": 10,
    })


# --------------------------------------------------------------------------
# training-data pipeline: dedup / similarity / text analysis
# --------------------------------------------------------------------------

def d_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exact dedup: md5-hash groupBy, keep min doc_id as representative."""
    d = _docs(spark, sf_dir).withColumn("h", F.md5(F.lower(F.col("text"))))
    return (
        d.groupBy("h")
        .agg(F.min("doc_id").alias("rep_doc_id"), F.count("*").alias("n_dups"))
        .where(F.col("n_dups") > 1)
        .select("rep_doc_id", "n_dups")
        .orderBy("rep_doc_id")
    )


def d_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram Jaccard near-dup: 3-token shingles, pairwise Jaccard ≥ 0.5 via
    prefix-filtered all-pairs (operators/dedup.py:jaccard_pairs — lossless
    rarity-prefix candidate generation + exact verify; hot shingles never
    form candidate pairs, unlike a plain inverted-index self-join)."""
    from .operators.dedup import jaccard_pairs

    t = _tokenized(spark, sf_dir).select("doc_id", "toks").where(F.size("toks") >= 3)
    sh = t.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, size(toks)-3),"
                    " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
                )
            )
        ).alias("shingle"),
    )
    return (
        jaccard_pairs(sh, 0.5, key="doc_id", sh_col="shingle")
        .withColumn("jaccard", F.round("jaccard", 4))
        .orderBy("a", "b")
    )


def t_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NB quality classifier (the GPT-3/CCNet fastText-filter slot): train
    multinomial NB (add-0.5) with label = (lang = 'en') on the corpus
    tokens, score every doc (operators/classifier.py — one groupBy to
    train, one explode+join+sum to score, fully deterministic)."""
    from .operators.classifier import score_tokens, train_nb

    t = _tokenized(spark, sf_dir).withColumn("y", (F.col("lang") == "en"))
    weights, prior, oov = train_nb(t, "toks", "y", add_k=0.5)
    out = score_tokens(t, "doc_id", "toks", weights, prior, oov)
    return out.select(
        "doc_id",
        F.round("score", 4).alias("score"),
        (F.col("score") > 0).cast("long").alias("pred"),
    ).orderBy("doc_id")


def t_bigram_perplexity_kn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram perplexity (the KenLM/CCNet
    smoothing; functions/lm.py:bigram_lm_score_kn, D=0.75) — per-lang
    average, same shape as the add-1 entry so both smoothings are
    driver-verified value-for-value."""
    from .functions.lm import bigram_lm_score_kn

    docs = _docs(spark, sf_dir)
    scores = bigram_lm_score_kn(docs, key="doc_id", text_col="text")
    out = scores.join(docs.select("doc_id", "lang"), "doc_id")
    return (
        out.groupBy("lang")
        .agg(
            F.round(F.avg("perplexity"), 4).alias("avg_ppl"),
            F.count("*").cast("long").alias("doc_count"),
        )
        .orderBy("lang")
    )


def t_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real-vocab BPE token budgeting (operators/bpe.py — Sennrich 2016):
    train 100 merges on the corpus word-frequency table, count subword
    tokens per doc via the distinct-word encode + join (encode cost ∝
    vocabulary, not corpus). Rows-only driver check: the greedy merge
    training is inherently iterative, not SQL-expressible — correctness
    is pinned by the classic-example exact-match tests instead."""
    from .operators.bpe import bpe_token_count, train_bpe

    docs = _docs(spark, sf_dir)
    merges = train_bpe(docs, "text", n_merges=100)
    return bpe_token_count(docs, "doc_id", "text", merges).orderBy("doc_id")


def d_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus-level line dedup (operators/dedup.py:line_dedup):
    duplicated lines keep only the globally-first occurrence; md5 of the
    reassembled text proves byte-exact recovery."""
    from .operators.dedup import line_dedup

    out = line_dedup(_docs(spark, sf_dir), "doc_id", "text")
    return out.select(
        "doc_id", "n_lines", "kept_lines",
        F.md5("text_dedup").alias("dedup_md5"),
    ).orderBy("doc_id")


def d_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup (ExactSubstr, Lee et al. 2021 / RefinedWeb
    remove-all variant): duplicated >=20-token spans found corpus-wide via
    duplicated-20-gram window union (operators/dedup.py:
    exact_substring_spans — gram-hash shuffle + per-doc interval fold, no
    suffix array, no UDF). One row per doc with union span length."""
    from .operators.dedup import exact_substring_spans

    t = _tokenized(spark, sf_dir).select("doc_id", "toks")
    return (
        exact_substring_spans(t, "doc_id", "toks", min_len=20)
        .select("doc_id", "n_tokens", "dup_tokens", "kept_tokens")
        .orderBy("doc_id")
    )


def d_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → CLUSTERS (operators/dedup.py:connected_components,
    iterative min-label propagation with per-round lineage checkpoints):
    component = min member id, only multi-member components returned —
    the selection step a dedup pipeline actually needs (pairs alone don't
    dedup). Oracle = transitive closure via a recursive CTE."""
    from .operators import dedup

    pairs = d_ngram_jaccard(spark, sf_dir).select("a", "b")
    comp = dedup.connected_components(pairs)
    return comp.orderBy("id")


def d_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup (operators/dedup.py): 128 perms, 32 bands × 4
    rows, candidates only from band-bucket joins, exact-Jaccard verified at
    0.9 (recall ≈ 1-(1-0.9⁴)³² ≈ 1-10⁻⁵ — the oracle is the exact pairwise
    computation)."""
    from .operators import dedup

    t = _tokenized(spark, sf_dir).select("doc_id", "toks")
    return (
        dedup.minhash_lsh_pairs(t, "doc_id", "toks", n_perm=128, bands=32, threshold=0.9)
        .orderBy("a", "b")
    )


def d_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup (hamming ≤ 3 via 4×16-bit chunk pigeonhole), md5_60
    hash mode — the DuckDB oracle recomputes the identical fingerprints
    from standard md5 and checks ALL-PAIRS hamming (the pigeonhole is
    provably exact at ≤3 bits, so the two must agree row-for-row)."""
    from .operators import dedup

    t = _tokenized(spark, sf_dir).select("doc_id", "toks")
    return dedup.simhash_pairs(
        t, "doc_id", "toks", max_hamming=3, hash_fn="md5_60"
    ).orderBy("a", "b")


def _simhash_sql() -> str:
    th = " + ".join(
        f"(strpos('0123456789abcdef', substring(md5(term), {d}, 1)) - 1) * {1 << (4 * (15 - d))}"
        for d in range(1, 16)
    )
    votes = ",\n       ".join(
        f"sum(CASE WHEN (th >> {i}) & 1 = 1 THEN tf ELSE -tf END) AS b{i}"
        for i in range(60)
    )
    fp = " + ".join(f"(CASE WHEN b{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(60))
    return f"""
WITH tok AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY 1, 2),
h AS (SELECT doc_id, tf, ({th})::BIGINT AS th FROM tf),
votes AS (SELECT doc_id,
       {votes}
       FROM h GROUP BY doc_id),
fp AS (SELECT doc_id, ({fp})::BIGINT AS sh FROM votes)
SELECT x.doc_id AS a, y.doc_id AS b,
       bit_count(xor(x.sh, y.sh))::INT AS hamming
FROM fp x JOIN fp y ON x.doc_id < y.doc_id
WHERE bit_count(xor(x.sh, y.sh)) <= 3
ORDER BY a, b
"""


def d_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup: random-hyperplane LSH (4 tables × 12 planes) +
    exact cosine ≥ 0.95 verify; oracle = exact pairwise cosine."""
    from .operators import dedup

    e = _emb(spark, sf_dir)
    return dedup.embedding_near_dup_pairs(e, "vec_id", "embedding", threshold=0.95).orderBy("a", "b")


def d_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k=8 clusters, eps=0.05 (drop when
    cosine to an earlier-ranked cluster-mate > 0.95). Centroids pinned to
    the embeddings of vec_id 0..7 (deterministic, oracle-mirrorable); in
    production swap in operators/similarity.py:train_centroids."""
    from .operators.similarity import semdedup

    e = _emb(spark, sf_dir)
    cents = [
        r["embedding"]
        for r in e.where(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    out = semdedup(e, "vec_id", "embedding", cents, eps=0.05)
    return out.select(
        "vec_id",
        F.col("cluster").cast("long").alias("cluster"),
        F.round("cos_centroid", 4).alias("cos_centroid"),
        F.round("max_prev_sim", 4).alias("max_prev_sim"),
        F.col("kept").cast("long").alias("kept"),
    ).orderBy("vec_id")


def s_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """brute-force cosine top-k (the ANN baseline): query = vec_id 0's
    embedding, top-10 neighbors by cosine DESC, vec_id ASC."""
    e = _emb(spark, sf_dir).withColumn("v", F.col("embedding").cast("array<double>"))
    q = e.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    dot = "aggregate(zip_with(v, qv, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    nrm = "sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x)) * sqrt(aggregate(qv, 0D, (acc, x) -> acc + x * x))"
    return (
        e.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn("cos_raw", F.expr(f"({dot}) / ({nrm})"))
        .orderBy(F.desc("cos_raw"), F.asc("vec_id"))
        .limit(10)
        .select("vec_id", "label", F.round("cos_raw", 4).alias("cosine"))
    )


def s_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via random-hyperplane LSH + exact rerank (operators/
    similarity.py) — rows-only check (approximate by design; recall vs the
    exact baseline is asserted in tests/test_similarity.py)."""
    from .operators import similarity

    e = _emb(spark, sf_dir)
    qvec = e.where(F.col("vec_id") == 0).first()["embedding"]
    corpus = e.where(F.col("vec_id") != 0)
    p = similarity.pick_n_planes(corpus.count())
    idx = similarity.build_lsh_index(corpus, "vec_id", "embedding", n_planes=p)
    return similarity.lsh_topk(idx, [float(x) for x in qvec], k=10, n_planes=p).withColumnRenamed(
        "__key", "vec_id"
    )


def s_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via IVF-Flat (k-means coarse quantizer + nprobe probe,
    operators/similarity.py) — rows-only check (approximate by design;
    recall vs the exact baseline asserted in tests/test_similarity.py)."""
    from .operators import similarity

    e = _emb(spark, sf_dir)
    qvec = [float(x) for x in e.where(F.col("vec_id") == 0).first()["embedding"]]
    corpus = e.where(F.col("vec_id") != 0)
    idx, cents = similarity.build_ivf_index(corpus, "vec_id", "embedding", n_lists=16)
    return similarity.ivf_topk(idx, cents, qvec, k=10, nprobe=6).withColumnRenamed(
        "__key", "vec_id"
    )


def s_ann_hnsw_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via per-shard HNSW graphs (dense_vector
    index_options.type hnsw — Lucene HnswGraphBuilder; operators/hnsw.py):
    every shard graph probed, coordinator merge — rows-only check
    (approximate by design; recall vs brute force asserted in
    tests/test_hnsw.py)."""
    import os

    from .operators import hnsw

    e = _emb(spark, sf_dir)
    qvec = [float(x) for x in e.where(F.col("vec_id") == 0).first()["embedding"]]
    corpus = e.where(F.col("vec_id") != 0)
    # full-path tag (NOT basename): two corpora sharing a leaf dir name
    # must not share one graph
    path = os.path.join("/tmp/es_spark_hnsw_cache", sf_dir.strip("/").replace("/", "_"))
    if not os.path.exists(path + "/_SUCCESS"):
        hnsw.build_hnsw_index(corpus, "vec_id", "embedding", path, n_graphs=4)
    out = hnsw.hnsw_topk(spark, path, qvec, k=10, ef_search=64)
    return out.select(F.col("key").alias("vec_id"), F.round("cosine", 6).alias("cosine"))


def agg_compiler_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES aggs body through the compiler (plans/aggs.py): terms bucket with
    avg/max sub-metrics, count-desc order."""
    from .plans import aggs as A

    out = A.aggregate(_events(spark, sf_dir), {
        "types": {"terms": {"field": "event_type", "size": 10},
                  "aggs": {"avg_v": {"avg": {"field": "value"}},
                           "max_v": {"max": {"field": "value"}}}}
    })["types"]
    return out.select(
        "key", "doc_count", F.round("avg_v", 4).alias("avg_v"), F.round("max_v", 4).alias("max_v")
    )


def agg_compiler_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES aggs body through the compiler: date_histogram + sum sub-agg +
    moving_fn(window 3) + bucket_script ratio pipeline."""
    from .plans import aggs as A

    out = A.aggregate(_events(spark, sf_dir), {
        "daily": {"date_histogram": {"field": "ts", "calendar_interval": "1d"}, "aggs": {
            "sv": {"sum": {"field": "value"}},
            "mavg": {"moving_fn": {"buckets_path": "_count", "window": 3,
                                   "script": "MovingFunctions.unweightedAvg(values)"}},
            "ratio": {"bucket_script": {"buckets_path": {"s": "sv", "c": "doc_count"},
                                        "script": "params.s / params.c"}},
        }}
    })["daily"]
    return out.select(
        F.to_date("key").alias("day"), "doc_count", F.round("sv", 4).alias("sv"),
        F.round("mavg", 4).alias("mavg"), F.round("ratio", 4).alias("ratio"),
    ).orderBy("day")


def agg_value_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value scripts in aggregations (ValuesSourceAggregationBuilder.script,
    yaml 100_terms_agg.yml): terms key transformed by a Painless script +
    an avg whose ``field`` + ``script`` binds ``_value``."""
    from .plans import aggs as A

    out = A.aggregate(_events(spark, sf_dir), {
        "t": {"terms": {"field": "event_type", "size": 20,
                        "script": {"source": "doc.event_type[0] + '_s'"}},
              "aggs": {
                  "av": {"avg": {"field": "value",
                                 "script": {"source": "_value * 2.0"}}},
              }},
    })["t"]
    return out.select(
        F.col("key"), F.col("doc_count"),
        F.round("av", 4).alias("av"),
    ).orderBy(F.desc("doc_count"), "key")


def t_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """text quality signals per doc: token count, distinct terms, type-token
    ratio, stopword ratio — the quality-scoring stage of a data pipeline."""
    t = _tokenized(spark, sf_dir)
    stop = ["a", "the"]
    return (
        t.select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tokens"),
            F.size(F.array_distinct("toks")).cast("long").alias("n_distinct"),
            F.round(F.size(F.array_distinct("toks")) / F.size("toks"), 4).alias("ttr"),
            F.round(
                F.size(F.filter("toks", lambda x: x.isin(stop))) / F.size("toks"), 4
            ).alias("stop_ratio"),
        )
        .where(F.col("doc_id") < 50)
        .orderBy("doc_id")
    )


def t_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (functions/textstats.py): stopword-marker
    profiles + CJK script ratio."""
    from .functions import textstats

    return (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 100)
        .select("doc_id", textstats.lang_id("text").alias("lang_pred"))
        .orderBy("doc_id")
    )


def t_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality score (length saturation + type-token diversity +
    stopword naturalness)."""
    from .functions import textstats

    return (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") < 100)
        .select("doc_id", F.round(textstats.quality_score("text"), 4).alias("quality"))
        .orderBy("doc_id")
    )


def t_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """document fingerprint (the `fingerprint` ingest processor,
    ``modules/ingest-common/.../FingerprintProcessor.java`` analog): md5 of
    the sorted distinct token set; groups identical-vocabulary docs."""
    t = _tokenized(spark, sf_dir)
    return (
        t.select(
            "doc_id",
            F.md5(F.array_join(F.array_sort(F.array_distinct("toks")), " ")).alias("fp"),
        )
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("rep_doc_id"))
        .where(F.col("n_docs") > 1)
        .select("fp", "n_docs", "rep_doc_id")
        .orderBy("rep_doc_id")
    )


def f_histogram_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """histogram field type (x-pack analytics ``HistogramFieldMapper.java``:
    pre-aggregated per-doc {values[], counts[]} centroids) with the
    histo-backed metric reducers (``HistoBacked*Aggregator.java``) and EXACT
    weighted percentiles (the exact-mode analog of centroids→t-digest).
    Each event synthesizes a deterministic 3-centroid histogram; metrics
    grouped per event_type via the agg compiler's schema detection."""
    from .plans import aggs as A

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        F.struct(
            F.array(F.col("value"), F.col("value") * 1.5, F.col("value") * 2.25)
            .alias("values"),
            F.array(
                (F.lit(1) + F.col("event_id") % 3).cast("long"),
                F.lit(2).cast("long"), F.lit(1).cast("long"),
            ).alias("counts"),
        ).alias("h"),
    )
    stats = A.compile_agg(ev, "m", {"stats": {"field": "h"}})
    pcts = A.compile_agg(
        ev, "p", {"percentiles": {"field": "h", "percents": [50, 95]}}
    )
    return (
        stats.crossJoin(pcts)
        .select(
            F.col("`m.count`").alias("n"),
            F.round("`m.sum`", 4).alias("s"),
            F.round("`m.avg`", 6).alias("a"),
            F.round("`m.min`", 6).alias("lo"),
            F.round("`m.max`", 6).alias("hi"),
            F.round("`p.50`", 6).alias("p50"),
            F.round("`p.95`", 6).alias("p95"),
        )
    )


def p_ingest_network_flow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """network_direction + registered_domain + community_id ingest
    processors (``NetworkDirectionProcessor.java``,
    ``RegisteredDomainProcessor.java``, ``CommunityIdProcessor.java``) over
    deterministically synthesized flows: direction histogram per registered
    domain + distinct flow-hash count. The oracle mirrors the CIDR integer
    folds and the PSL-approximation string logic; community_id cardinality
    is mirrored by the distinct normalized 5-tuple (the hash is injective
    per tuple by construction)."""
    from .sources.ingest_pipeline import run_pipeline

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id",
        F.concat_ws(
            ".",
            F.when(F.col("user_id") % 3 == 0, F.lit("10")).otherwise(
                (F.col("user_id") % 223 + 1).cast("string")),
            (F.col("event_id") % 256).cast("string"),
            (F.floor(F.col("event_id") / 256) % 256).cast("string"),
            (F.col("user_id") % 254 + 1).cast("string"),
        ).alias("source_ip"),
        F.concat_ws(
            ".",
            F.when(F.col("event_id") % 2 == 0, F.lit("192")).otherwise(F.lit("8")),
            F.when(F.col("event_id") % 2 == 0, F.lit("168")).otherwise(F.lit("8")),
            (F.col("event_id") % 200).cast("string"),
            (F.col("user_id") % 254 + 1).cast("string"),
        ).alias("destination_ip"),
        (F.col("event_id") % 50000 + 1024).cast("int").alias("source_port"),
        F.when(F.col("event_id") % 2 == 0, 443).otherwise(80).cast("int").alias("destination_port"),
        F.lit(6).cast("int").alias("iana_number"),
        F.concat(
            F.when(F.col("user_id") % 4 == 0, F.lit("www.")).otherwise(F.lit("")),
            F.lit("host"), (F.col("user_id") % 40).cast("string"),
            F.when(F.col("user_id") % 5 == 0, F.lit(".example.co.uk")).otherwise(
                F.lit(".example.com")),
        ).alias("fqdn"),
    )
    out = run_pipeline(ev, [
        {"network_direction": {"internal_networks": ["private"]}},
        {"registered_domain": {"field": "fqdn", "target_field": "url"}},
        {"community_id": {}},
    ])
    return (
        out.groupBy(
            F.col("`url.registered_domain`").alias("domain"),
            F.col("network_direction").alias("direction"),
        )
        .agg(
            F.count("*").alias("doc_count"),
            F.countDistinct("community_id").alias("n_flows"),
        )
        .orderBy("domain", "direction")
    )


def p_ingest_user_agent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """user_agent ingest processor (modules/ingest-user-agent
    ``UserAgentProcessor.java``) over deterministically synthesized UA
    strings: browser/os/device extraction histogram. The oracle derives the
    expected (name, os, device, version) straight from the template index
    and version arithmetic — independent ground truth for the regex ladder
    (the Spark path must PARSE the constructed string; the oracle never
    parses)."""
    from .sources.ingest_pipeline import run_pipeline

    ev = _events(spark, sf_dir).select(
        "event_id", "user_id",
        (F.col("user_id") % 6).alias("tpl"),
        (F.col("event_id") % 100).cast("string").alias("major"),
    )
    ua = (
        F.when(F.col("tpl") == 0, F.concat(
            F.lit("Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) "
                  "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/"),
            F.col("major"), F.lit(".0.0.0 Safari/537.36")))
        .when(F.col("tpl") == 1, F.concat(
            F.lit("Mozilla/5.0 (Windows NT 10.0; Win64; x64; rv:109.0) "
                  "Gecko/20100101 Firefox/"), F.col("major"), F.lit(".0")))
        .when(F.col("tpl") == 2, F.concat(
            F.lit("Mozilla/5.0 (iPhone; CPU iPhone OS 16_5 like Mac OS X) "
                  "AppleWebKit/605.1.15 (KHTML, like Gecko) Version/"),
            F.col("major"), F.lit(".0 Mobile/15E148 Safari/604.1")))
        .when(F.col("tpl") == 3, F.concat(
            F.lit("Mozilla/5.0 (Windows NT 10.0; Win64; x64) "
                  "AppleWebKit/537.36 (KHTML, like Gecko) Chrome/"),
            F.col("major"), F.lit(".0.0.0 Safari/537.36 Edg/"),
            F.col("major"), F.lit(".0.2210.91")))
        .when(F.col("tpl") == 4, F.concat(
            F.lit("curl/"), F.col("major"), F.lit(".4.0")))
        .otherwise(F.lit("weird-agent/1.0"))
    )
    out = run_pipeline(ev.withColumn("agent", ua),
                       [{"user_agent": {"field": "agent"}}])
    return (
        out.groupBy(
            F.col("`user_agent.name`").alias("name"),
            F.col("`user_agent.os.name`").alias("os_name"),
            F.col("`user_agent.device.name`").alias("device"),
        )
        .agg(F.count("*").alias("doc_count"),
             F.countDistinct("`user_agent.version`").alias("n_versions"))
        .orderBy("name", "os_name", "device")
    )


def _pii_text_col():
    """Deterministic PII-bearing text derived from (text, doc_id) — the
    synthetic corpus carries no PII, so both the Spark query and the DuckDB
    oracle synthesize the identical augmented column."""
    return F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@example.com or +1555"),
        F.lpad(F.col("doc_id").cast("string"), 7, "0"),
        F.lit(" from 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7"),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" ssn 123-45-6789")).otherwise(F.lit("")),
    )


def t_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass for training-data curation: per-category match
    counts (email / SSN / IPv4 / intl phone) + md5 of the redacted text —
    all chained native regexp expressions, one codegen'd scan."""
    from .functions import textstats

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") < 100)
        .select("doc_id", _pii_text_col().alias("t"))
    )
    return docs.select(
        "doc_id",
        *textstats.pii_signals("t"),
        F.md5(textstats.redact_pii("t")).alias("redacted_md5"),
    ).orderBy("doc_id")


def t_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (duplicate-line fraction,
    duplicate-line char fraction, top-bigram fraction) — repetition is the
    strongest single low-quality indicator for web text. Lines synthesized
    deterministically (the corpus is single-line)."""
    from .functions import textstats

    t = F.concat(
        F.col("text"), F.lit("\nrepeat line\n"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("repeat line"))
        .otherwise(F.concat(F.lit("unique "), F.col("doc_id").cast("string"))),
    )
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .where(F.col("doc_id") < 60)
        .select("doc_id", t.alias("t"))
    )
    return (
        docs.select("doc_id", *textstats.repetition_signals("t"))
        .select(
            "doc_id",
            F.round("dup_line_frac", 4).alias("dup_line_frac"),
            F.round("dup_line_char_frac", 4).alias("dup_line_char_frac"),
            F.round("top_bigram_frac", 4).alias("top_bigram_frac"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# round-2 additions: positional queries, completion suggester, range/nested/
# significance agg variants (VERDICT r01 items 2, 4, 6, 7, 8)
# --------------------------------------------------------------------------

def q_index_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intervals query (IntervalQueryBuilder.java match source, ordered,
    max_gaps=3) over the positional index — distributed per-segment
    interval evaluation (operators/intervals.py), BM25-ranked."""
    from .operators.intervals import search_intervals_source
    from .operators.topk import IndexReader

    idx = _index_for(spark, sf_dir)
    src = {"match": {"query": "data stream", "ordered": True, "max_gaps": 3}}
    hits = search_intervals_source(IndexReader(spark, idx), src, k=10)
    return hits.select(
        F.expr("cast(substring(url, 4, 12) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_index_intervals_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intervals with the FULL source algebra (IntervalsSourceProvider):
    all_of(ordered, max_gaps=3)[match 'data', prefix 'str'] filtered by
    not_containing(match 'order') — prefix leaf expanded over the term
    dictionary, interval filter pruning matches whose span contains the
    reference term. Distributed per-segment minimal-interval evaluation."""
    from .operators.intervals import search_intervals_source
    from .operators.topk import IndexReader

    idx = _index_for(spark, sf_dir)
    src = {
        "all_of": {
            "ordered": True,
            "max_gaps": 3,
            "intervals": [
                {"match": {"query": "data"}},
                {"prefix": {"prefix": "str"}},
            ],
            "filter": {"not_containing": {"match": {"query": "order"}}},
        }
    }
    hits = search_intervals_source(IndexReader(spark, idx), src, k=10)
    return hits.select(
        F.expr("cast(substring(url, 4, 12) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_index_phrase_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_phrase_prefix (MatchPhrasePrefixQueryBuilder.java): last token
    expanded as a prefix over the term dictionary, position-adjacent to the
    fixed terms; scored as BM25 over fixed + matched expansion terms."""
    from .operators.phrase import search_phrase_prefix
    from .operators.topk import IndexReader

    idx = _index_for(spark, sf_dir)
    hits = search_phrase_prefix(IndexReader(spark, idx), "group ord", k=10)
    return hits.select(
        F.expr("cast(substring(url, 4, 12) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_completion_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """completion suggester (CompletionSuggestionBuilder.java:46): prefix →
    top-N suggestions by (weight DESC, suggestion ASC); weight = df from
    the live term dictionary."""
    from .operators.suggest import completion_suggest

    idx = _index_for(spark, sf_dir)
    return completion_suggest(spark, idx, "s", size=5)


def a_date_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """date_range agg (DateRangeAggregationBuilder.java): from-inclusive /
    to-exclusive timestamp buckets + sum sub-agg, via the aggs compiler."""
    from .plans import aggs as aggs_mod

    out = aggs_mod.aggregate(_events(spark, sf_dir), {"dr": {
        "date_range": {"field": "ts", "ranges": [
            {"to": "2024-01-10", "key": "early"},
            {"from": "2024-01-10", "to": "2024-01-20", "key": "mid"},
            {"from": "2024-01-20", "key": "late"},
        ]},
        "aggs": {"sum_v": {"sum": {"field": "value"}}},
    }})["dr"]
    return out.select("key", "doc_count", F.round("sum_v", 4).alias("sum_v"))


def a_ip_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ip_range agg (IpRangeAggregationBuilder.java): CIDR mask + from/to
    buckets over an IPv4 column (synthesized deterministically from
    user_id), via the aggs compiler."""
    from .plans import aggs as aggs_mod

    e = _events(spark, sf_dir).withColumn(
        "ip", F.format_string("10.0.%d.%d", F.col("user_id") % 4, F.col("user_id") % 250)
    )
    return aggs_mod.aggregate(e, {"ips": {"ip_range": {"field": "ip", "ranges": [
        {"mask": "10.0.0.0/23", "key": "low"},
        {"from": "10.0.2.0", "to": "10.0.4.0", "key": "high"},
    ]}}})["ips"]


def a_reverse_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reverse_nested agg (bucket/nested/InternalReverseNested.java):
    nested(items) → terms(supp) with child metric + reverse_nested parent
    metric (avg order price over DISTINCT parent orders per bucket)."""
    from .plans import aggs as aggs_mod

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    nested = (
        li.groupBy("l_orderkey")
        .agg(F.collect_list(F.struct(
            F.col("l_suppkey").alias("supp"), F.col("l_quantity").cast("double").alias("qty")
        )).alias("items"))
        .join(
            orders.select(F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"),
            "l_orderkey",
        )
        .select("l_orderkey", "o_totalprice", "items")
    )
    out = aggs_mod.aggregate(nested, {"n": {"nested": {"path": "items"}, "aggs": {
        "by_supp": {"terms": {"field": "supp", "size": 5}, "aggs": {
            "avg_qty": {"avg": {"field": "qty"}},
            "back": {"reverse_nested": {}, "aggs": {
                "avg_price": {"avg": {"field": "o_totalprice"}}}},
        }},
    }}})["n"]
    return out.select(
        "key", "doc_count", F.round("avg_qty", 4).alias("avg_qty"),
        F.col("`back.doc_count`").alias("parent_count"),
        F.round("avg_price", 4).alias("avg_price"),
    )


def a_significant_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """significant_text agg (SignificantTextAggregationBuilder.java): JLH
    over the analyzed token stream, fg = lang='de' docs vs full corpus."""
    from .plans import aggs as aggs_mod

    docs = _docs(spark, sf_dir)
    fg = docs.where(F.col("lang") == "de")
    return aggs_mod.compile_agg(fg, "st", {"significant_text": {
        "field": "text", "_background_df": docs, "size": 10, "min_doc_count": 3,
    }})


def a_percentile_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_ranks agg (PercentileRanksAggregationBuilder.java):
    % of values ≤ v per bucket, nested under a terms bucket."""
    from .plans import aggs as aggs_mod

    out = aggs_mod.aggregate(_events(spark, sf_dir), {"et": {
        "terms": {"field": "event_type", "size": 10},
        "aggs": {"pr": {"percentile_ranks": {"field": "value", "values": [50, 200]}}},
    }})["et"]
    return out.select(
        "key", "doc_count",
        F.round("`pr.50`", 4).alias("pr_50"), F.round("`pr.200`", 4).alias("pr_200"),
    )


def dsl_script_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """function_score with script_score (ScriptScoreFunctionBuilder.java):
    SQL-expression script over doc fields, multiplied into the BM25 score."""
    return _dsl_search(spark, sf_dir, {
        "query": {"function_score": {
            "query": {"match": {"text": "vector"}},
            "functions": [{"script_score": {"script": {"source": "ln(1.0 + n_chars) * 0.5"}}}],
            "boost_mode": "multiply",
        }},
        "size": 10,
    })


def dsl_script_score_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The standalone script_score QUERY kind (ScriptScoreQueryBuilder,
    110_script_score_boost.yml): score = script(doc, _score) * boost,
    replacing the inner query's score."""
    return _dsl_search(spark, sf_dir, {
        "query": {"script_score": {
            "query": {"match": {"text": "vector"}},
            "script": {"source": "ln(1.0 + n_chars) * _score"},
            "boost": 2.0,
        }},
        "size": 10,
    })


def dsl_vector_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """script_score with the dense_vector script functions (the vectors
    module's ScoreScriptUtils): cosineSimilarity(params.qv, 'embedding')
    + 1.0 compiled to JVM higher-order functions (dsl.expand_script) —
    the ES 7.x exact-kNN idiom."""
    from .plans import dsl

    e = _emb(spark, sf_dir)
    qvec = [float(x) for x in e.where(F.col("vec_id") == 0).first()["embedding"]]
    out = dsl.search(spark, e.where(F.col("vec_id") != 0), {
        "query": {"function_score": {
            "query": {"match_all": {}},
            "functions": [{"script_score": {"script": {
                "source": "cosineSimilarity(params.qv, 'embedding') + 1.0",
                "params": {"qv": qvec},
            }}}],
            "boost_mode": "replace",
        }},
        "size": 10,
    }, key="vec_id")
    return out.select("vec_id", F.round("_score", 4).alias("score"))


def q_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percolator (modules/percolator/.../PercolateQueryBuilder.java):
    stored queries compiled once to predicate columns, one scan over the
    docs frame, (query_id, doc_id) matches."""
    from .operators.percolate import percolate

    stored = [
        ("p_lang_range", {"bool": {"filter": [
            {"term": {"lang": "en"}},
            {"range": {"n_chars": {"gte": 100, "lte": 400}}}]}}),
        ("p_match_spark", {"match": {"text": "spark"}}),
        ("p_src_wild", {"wildcard": {"source": {"value": "src1*"}}}),
    ]
    return percolate(_docs(spark, sf_dir), stored, key="doc_id").orderBy("query_id", "doc_id")


def field_collation_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """icu_collation_keyword (plugins/analysis-icu
    IcuCollationTokenFilterFactory / ICUCollationKeywordFieldMapper):
    locale-aware binary sort keys (functions/collation.py, PyICU-free UCA
    subset) as an Arrow-batched UDF; ordering by the BinaryType key column
    reproduces the collator order. The oracle pins non-ASCII orderings for
    six locales plus a custom-rules case: Swedish (å ä ö after z), Danish
    (æ ø å after z), German DIN 5007-1 (Ü = u at primary), traditional
    Spanish (ñ between n and o), Russian (alphabet order — ё ties е at
    primary and follows at secondary, where codepoint order puts ё after
    я), Greek (alphabet order, tonos folds), and German DIN 5007-2 via
    the RuleBasedCollator ``rules`` grammar (ä→ae as a tertiary
    difference, the testCustomRules tailoring)."""
    from pyspark.sql import Window

    from .functions.collation import collation_key_udf

    _DIN2 = "& ae , ä & AE , Ä & oe , ö & OE , Ö & ue , ü & UE , ü"
    cases = {
        "sv": ["zebra", "åker", "ängel", "öl", "apple", "orm", "Örn"],
        "da": ["zebra", "æble", "øl", "århus", "abe"],
        "de": ["Arm", "Ärmel", "Arzt", "Zebra", "Übung", "ufer"],
        "de__din2": ["Tondern", "Töne", "Tofu", "Mueller", "Müller", "Muffe"],
        "el": ["βήτα", "άλφα", "ωμέγα", "γάμμα", "ζήτα", "σίγμα"],
        "es__traditional": ["nube", "ñandú", "noche", "obra", "llama", "luz"],
        "ru": ["ёлка", "елка", "жук", "яблоко", "ель", "Москва"],
    }
    out = None
    for loc, words in cases.items():
        df = spark.createDataFrame([(loc, w) for w in words],
                                   "locale string, word string")
        key = (collation_key_udf(rules=_DIN2) if loc == "de__din2"
               else collation_key_udf(locale=loc))
        # word tie-break: tertiary-collapsed rule targets (Müller/Mueller
        # under DIN 5007-2) produce byte-identical keys
        part = df.withColumn("__k", key("word")).withColumn(
            "rank", F.row_number().over(
                Window.partitionBy("locale").orderBy("__k", "word")).cast("long")
        ).select("locale", "rank", "word")
        out = part if out is None else out.unionByName(part)
    return out.orderBy("locale", "rank")


def q_percolate_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percolator via the QueryAnalyzer-analog candidate path
    (operators/percolate.percolate_pruned, ref modules/percolator/.../
    QueryAnalyzer.java:445): stored queries term-extracted distributed,
    candidates from one token join, verified extractions skip evaluation,
    only the unanalyzable remainder compiles driver-side. Same result set
    as percolate_queries — the two paths must agree."""
    from .operators.percolate import percolate

    stored = [
        ("p_lang_range", {"bool": {"filter": [
            {"term": {"lang": "en"}},
            {"range": {"n_chars": {"gte": 100, "lte": 400}}}]}}),
        ("p_match_spark", {"match": {"text": "spark"}}),
        ("p_src_wild", {"wildcard": {"source": {"value": "src1*"}}}),
    ]
    return percolate(_docs(spark, sf_dir), stored, key="doc_id",
                     prune=True).orderBy("query_id", "doc_id")


def q_cross_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi_match cross_fields (MultiMatchQueryBuilder.java →
    BlendedTermQuery): term-centric blended-df scoring across text+source."""
    return _dsl_search(spark, sf_dir, {
        "query": {"multi_match": {
            "query": "spark src3", "fields": ["text", "source"],
            "type": "cross_fields",
        }},
        "size": 10,
    })


def a_sibling_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sibling `*_bucket` pipelines (pipeline/AvgBucketPipelineAggregation
    Builder.java et al.): aggregate a terms frame coordinator-side."""
    from .plans import aggs as aggs_mod

    out = aggs_mod.aggregate(_events(spark, sf_dir), {
        "et": {"terms": {"field": "event_type", "size": 10},
               "aggs": {"sv": {"sum": {"field": "value"}}}},
        "avg_cnt": {"avg_bucket": {"buckets_path": "et>_count"}},
        "max_sv": {"max_bucket": {"buckets_path": "et>sv"}},
        "sum_cnt": {"sum_bucket": {"buckets_path": "et>_count"}},
    })
    return (
        out["avg_cnt"].crossJoin(out["max_sv"]).crossJoin(out["sum_cnt"])
        .select(
            F.round("avg_cnt", 4).alias("avg_cnt"),
            F.round("max_sv", 4).alias("max_sv"),
            F.col("sum_cnt").cast("long").alias("sum_cnt"),
        )
    )


def a_diversified_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """diversified_sampler (DiversifiedAggregationBuilder.java): ≤
    max_docs_per_value docs per lang, then metric sub-aggs."""
    from .plans import aggs as aggs_mod

    return aggs_mod.compile_agg(_docs(spark, sf_dir), "ds", {
        "diversified_sampler": {"field": "lang", "max_docs_per_value": 5, "shard_size": 100},
        "aggs": {"n": {"value_count": {"field": "doc_id"}},
                 "avg_chars": {"avg": {"field": "n_chars"}}},
    }).select("doc_count", "n", F.round("avg_chars", 4).alias("avg_chars"))


def q_span_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span algebra over the positional index (operators/spans.py):
    span_not(include=span_term('order'), exclude=span_near(group→order,
    slop 0)) — 'order' occurrences NOT immediately preceded by 'group',
    BM25-scored on the include term (SpanNotQueryBuilder.java)."""
    from .operators.spans import search_spans
    from .operators.topk import IndexReader

    idx = _index_for(spark, sf_dir)
    body = {"span_not": {
        "include": {"span_or": {"clauses": [
            {"span_term": {"text": "order"}},
            {"span_term": {"text": "join"}},
        ]}},
        "exclude": {"span_near": {"clauses": [
            {"span_term": {"text": "group"}},
            {"span_term": {"text": "order"}},
        ], "slop": 0, "in_order": True}},
    }}
    hits = search_spans(IndexReader(spark, idx), body, k=10)
    return hits.select(
        F.expr("cast(substring(url, 4, 12) as bigint)").alias("doc_id"),
        F.round("score", 4).alias("score"),
    )


def q_phrase_suggest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase suggester WITH bigram-LM rescoring (PhraseSuggester.java +
    StupidBackoffScorer.java): per-token dictionary candidates, channel ×
    stupid-backoff LM lattice scoring over the corpus bigram table."""
    import os

    from .operators.suggest import build_bigram_lm, phrase_suggest

    idx = _index_for(spark, sf_dir)
    if not os.path.isdir(os.path.join(idx, "lm_bigrams")):
        build_bigram_lm(spark, idx)
    return phrase_suggest(spark, idx, "sirt hasj", size=3, confidence=0.0)


def a_percentiles_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentiles via the REAL merging t-digest sketch (TDigestState.java,
    functions/tdigest.py) — rows-only check (approximate by design; error
    bounds + merge-associativity asserted in tests/test_aggs.py)."""
    from .plans import aggs as aggs_mod

    return aggs_mod.compile_agg(_events(spark, sf_dir), "ps", {
        "percentiles": {"field": "value", "method": "tdigest",
                        "percents": [1, 25, 50, 75, 95, 99]}
    })


def q_sorted_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index sorting + early-terminated sorted query (IndexSortConfig.java;
    operators/topk.py:sorted_scan): latest-10 by warc_ts over an index
    built with index.sort = (warc_ts, desc) — each segment reads only
    its first k live rows of the sort-ordered docs file."""
    import os

    from .operators.postings import build_index
    from .operators.topk import IndexReader, sorted_scan

    tag = sf_dir.strip("/").replace("/", "_")
    idx = f"/tmp/es_registry_sorted_{tag}"
    pages = _docs(spark, sf_dir).select(
        F.format_string("doc%012d", F.col("doc_id")).alias("url"),
        F.expr(
            "timestamp '2024-01-01 00:00:00'"
            " + make_interval(0, 0, 0, 0, 0, cast(doc_id * 7 % 997 as int), 0)"
        ).alias("warc_ts"),
        "text",
        "lang",
    )
    if not os.path.exists(os.path.join(idx, "index_meta.json")):
        build_index(spark, pages, idx, num_partitions=4,
                    analyzer="regex_simple", index_sort=("warc_ts", "desc"))
    out = sorted_scan(IndexReader(spark, idx), k=10)
    return out.select(
        F.expr("cast(substring(url, 4, 12) as bigint)").alias("doc_id"),
        F.col("warc_ts").alias("ts"),
    )


def a_significant_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """significant_terms with the chi_square heuristic (ChiSquare.java,
    background-is-superset Nxy contingency): fg = source='src1' docs,
    keyed by lang."""
    from .plans import aggs as aggs_mod

    docs = _docs(spark, sf_dir)
    fg = docs.where(F.col("source") == "src1")
    out = aggs_mod.compile_agg(fg, "sig", {
        "significant_terms": {"field": "lang", "size": 10,
                              "chi_square": {"include_negatives": True},
                              "_background_df": docs},
    })
    return out.select("key", "doc_count", "bg_count", F.round("score", 4).alias("score"))


def a_rollup_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup (x-pack/plugin/rollup): hourly×type pre-aggregation with
    mergeable partials, then a DAILY search over the rolled table — the
    oracle is the same aggregation run directly on the raw events (the
    rollup exactness invariant for nested intervals)."""
    from .plans.rollup import build_rollup, rollup_search

    rolled = build_rollup(_events(spark, sf_dir), {
        "groups": {"date_histogram": {"field": "ts", "calendar_interval": "1h"},
                   "terms": {"fields": ["event_type"]}},
        "metrics": [{"field": "value", "metrics": ["min", "max", "sum", "avg"]}],
    })
    out = rollup_search(rolled, {
        "daily": {"date_histogram": {"field": "ts", "calendar_interval": "1d"},
                  "aggs": {"sv": {"sum": {"field": "value"}},
                           "mx": {"max": {"field": "value"}},
                           "av": {"avg": {"field": "value"}}}},
    })
    return out.select(
        F.to_date("key").alias("day"), "doc_count",
        F.round("sv", 4).alias("sv"), F.round("mx", 4).alias("mx"),
        F.round("av", 4).alias("av"),
    )


def q_graph_explore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph explore (x-pack/plugin/graph): one hop of the term
    co-occurrence walk from seed 'spark' — doc-keyed joins over the
    exploded token stream, shared-doc-count ranked."""
    t = _tokenized(spark, sf_dir).select(
        "doc_id", F.explode(F.array_distinct("toks")).alias("term")
    )
    seed_docs = t.where(F.col("term") == "spark").select("doc_id").distinct()
    co = (
        t.join(seed_docs, "doc_id")
        .where(F.col("term") != "spark")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("doc_count"))
        .where(F.col("doc_count") >= 3)
    )
    return co.orderBy(F.desc("doc_count"), F.asc("term")).limit(10)


def q_has_child(spark: SparkSession, sf_dir: str) -> DataFrame:
    """has_child (modules/parent-join HasChildQueryBuilder): orders with
    ≥2 high-quantity lineitem children, score_mode=sum (≡ matching-child
    count in filter context) — parent/child as a join field over one
    frame, self-join keyed on the parent id."""
    from .plans import dsl

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    fam = orders.select(
        F.col("o_orderkey").alias("id"), F.lit("order").alias("join_type"),
        F.lit(None).cast("long").alias("parent_id"),
        F.lit(None).cast("double").alias("l_quantity"),
    ).unionByName(li.select(
        (F.col("l_orderkey") * 100 + F.col("l_linenumber")).alias("id"),
        F.lit("line").alias("join_type"),
        F.col("l_orderkey").alias("parent_id"),
        F.col("l_quantity"),
    ))
    node = dsl.parse({"has_child": {"type": "line",
                                    "query": {"range": {"l_quantity": {"gte": 45}}},
                                    "score_mode": "sum", "min_children": 2}})
    ctx = dsl.SearchContext(fam, "id")
    return (
        node.frame(ctx)
        .select(F.col("__key").alias("id"), F.col("_score").alias("score"))
        .orderBy("id").limit(20)
    )


def q_es_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES SQL (x-pack/plugin/sql): standard SQL tail + the fulltext
    extensions — MATCH() compiled to the BM25 frame, SCORE() projected."""
    from .plans.essql import es_sql

    return es_sql(spark, {"documents_v": _docs(spark, sf_dir)},
                  "SELECT doc_id, round(SCORE(), 4) AS score FROM documents_v "
                  "WHERE MATCH(text, 'spark merge vector') AND lang = 'en' "
                  "ORDER BY SCORE() DESC, doc_id LIMIT 10")


def q_eql_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQL sequence (x-pack/plugin/eql): view → purchase per user within
    2h (greedy minimal chain, as-of join on the by key) + head pipe."""
    from .plans.eql import eql_search

    return eql_search(
        _events(spark, sf_dir),
        "sequence by user_id with maxspan=2h"
        " [view where true] [purchase where true] | head 50",
    )


def q_eql_sequence_missing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQL missing-events sequence (x-pack/plugin/eql 8.x missing events):
    view → purchase per user within 2h with NO error event strictly
    between them — the `![...]` interior step becomes a by-key anti-join
    over the chain interval."""
    from .plans.eql import eql_search

    return eql_search(
        _events(spark, sf_dir),
        "sequence by user_id with maxspan=2h"
        " [view where true] ![error where true] [purchase where true]"
        " | head 50",
    )


def q_eql_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EQL sample (x-pack/plugin/eql Sample.java, 8.6+): users with BOTH an
    error and a purchase event, NO temporal ordering — per-step min ts
    per key, inner join across steps."""
    from .plans.eql import eql_search

    return eql_search(
        _events(spark, sf_dir),
        "sample by user_id [error where true] [purchase where true] | head 50",
    )


def q_esql_dialect_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL function dialect (CASE / DATE_EXTRACT / STARTS_WITH /
    TO_STRING) compiled to DataFrame plans."""
    from .plans.esql import esql

    out = esql(spark, """
FROM events
| EVAL sz = CASE(value < 10, "small", value < 100, "mid", "large"),
       mon = DATE_EXTRACT("month", ts),
       is_c = STARTS_WITH(event_type, "c")
| STATS n = COUNT(*), v = ROUND(AVG(value), 4) BY sz, mon, is_c
| SORT sz ASC, mon ASC, is_c ASC
""", {"events": _events(spark, sf_dir)})
    return out.select("sz", F.col("mon").cast("long").alias("mon"), "is_c", "n", "v")


def q_esql_scalar_fns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL scalar-function long tail (HASH/LOCATE/REPLACE/SPLIT/
    TO_DEGREES/TO_BASE64, x-pack/plugin/esql `EsqlScalarFunction` registry)
    plus per-aggregate `WHERE` filters (8.16 `aggField` grammar), compiled
    to JVM-side Spark expressions — no UDF anywhere."""
    from .plans.esql import esql

    out = esql(spark, """
FROM events
| EVAL h = HASH("md5", event_type),
       rep = REPLACE(event_type, "[aeiou]", "_"),
       parts = MV_COUNT(SPLIT(event_type, "e")),
       deg = ROUND(TO_DEGREES(1.0), 4),
       b64 = TO_BASE64(event_type)
| STATS n = COUNT(*) WHERE LOCATE(event_type, "e") > 0, m = COUNT(*)
        BY event_type, h, rep, parts, deg, b64
| SORT event_type ASC
""", {"events": _events(spark, sf_dir)})
    return out.select(
        "event_type", "h", "rep", F.col("parts").cast("long").alias("parts"),
        "deg", "b64", "n", "m")


def q_esql_ts_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL `TS` source + RATE() (x-pack/plugin/esql `Rate` aggregation,
    TSDB metrics): per-series (day bucket × user_id dimension) counter-reset-
    aware rate, aggregated across series by SUM/AVG. Input pre-deduped to
    unique (series, ts) points — the TSDB _tsid+timestamp uniqueness
    contract — so the per-series lag order is deterministic."""
    from .plans.esql import esql

    ev = (_events(spark, sf_dir)
          .groupBy("user_id", "ts").agg(F.sum("value").alias("value")))
    out = esql(spark, """
TS events
| STATS r = SUM(RATE(value)), a = AVG(RATE(value)) BY d = BUCKET(ts, 1 day)
| SORT d ASC
""", {"events": ev}, dims=["user_id"])
    return out.select("d", F.round("r", 4).alias("r"), F.round("a", 6).alias("a"))


def q_esql_bucket_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL BUCKET grouping + WEIGHTED_AVG aggregate (x-pack/plugin/esql
    `Bucket.java` / `WeightedAvg.java`): calendar-day buckets over the
    events stream."""
    from .plans.esql import esql

    out = esql(spark, """
FROM events
| STATS n = COUNT(*), w = ROUND(WEIGHTED_AVG(value, value), 6)
        BY d = BUCKET(ts, 1 day)
| SORT d ASC
""", {"events": _events(spark, sf_dir)})
    return out.select("d", "n", "w")


def a_multi_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi_terms (MultiTermsAggregationBuilder.java): buckets keyed by the
    (lang, source) tuple, count-desc, with an avg sub-metric."""
    from .plans import aggs as aggs_mod

    return aggs_mod.compile_agg(_docs(spark, sf_dir), "mt", {
        "multi_terms": {"terms": [{"field": "lang"}, {"field": "source"}], "size": 10},
        "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}},
    }).select("key", "doc_count", F.round("avg_chars", 4).alias("avg_chars"))


def a_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """inference pipeline agg (InferencePipelineAggregationBuilder.java):
    per-bucket tree-ensemble inference over (doc_count, avg_chars) — the
    ensemble compiles to one CASE-WHEN projection, mirrored verbatim by the
    oracle SQL."""
    from .plans import aggs as aggs_mod

    model = {
        "trained_models": [
            {
                "feature_names": ["bucket_count"],
                "tree_structure": [
                    {"node_index": 0, "split_feature": 0, "threshold": 100.0,
                     "left_child": 1, "right_child": 2},
                    {"node_index": 1, "left_child": -1, "leaf_value": 1.0},
                    {"node_index": 2, "left_child": -1, "leaf_value": 10.0},
                ],
            },
            {
                "feature_names": ["avg_chars"],
                "tree_structure": [
                    {"node_index": 0, "split_feature": 0, "threshold": 900.0,
                     "left_child": 1, "right_child": 2},
                    {"node_index": 1, "left_child": -1, "leaf_value": 0.0},
                    {"node_index": 2, "left_child": -1, "leaf_value": 1.0},
                ],
            },
        ],
        "aggregate_output": {"logistic_regression": {"weights": [0.3, 2.0]}},
    }
    out = aggs_mod.aggregate(_docs(spark, sf_dir), {
        "by_lang": {
            "terms": {"field": "lang", "size": 20},
            "aggs": {
                "avg_chars": {"avg": {"field": "n_chars"}},
                "score": {"inference": {
                    "model": model,
                    "buckets_path": {"bucket_count": "_count",
                                     "avg_chars": "avg_chars"},
                }},
            },
        }
    })["by_lang"]
    return out.select(
        "key", "doc_count", F.round("avg_chars", 4).alias("avg_chars"),
        F.round("score", 6).alias("score"),
    )


def a_ip_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ip_prefix (IpPrefixAggregationBuilder.java): /20 network buckets over
    an IPv4 column (derived deterministically from user_id — the testdata
    has no IP column; the same derivation runs in the oracle)."""
    from .plans import aggs as aggs_mod

    ev = _events(spark, sf_dir).withColumn(
        "ip",
        F.expr(
            "concat('10.', cast(shiftright(user_id, 16) & 255 as string), '.',"
            " cast(shiftright(user_id, 8) & 255 as string), '.',"
            " cast(user_id & 255 as string))"
        ),
    )
    return aggs_mod.compile_agg(ev, "nets", {
        "ip_prefix": {"field": "ip", "prefix_length": 20},
        "aggs": {"sv": {"sum": {"field": "value"}}},
    }).select("key", "doc_count", F.round("sv", 4).alias("sv"))


def a_string_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """string_stats (StringStatsAggregationBuilder.java, analytics module):
    length stats + Shannon entropy of the char distribution over text."""
    from .plans import aggs as aggs_mod

    out = aggs_mod.compile_agg(_docs(spark, sf_dir), "ss", {"string_stats": {"field": "text"}})
    return out.select(
        F.col("count").cast("long").alias("count"),
        F.col("min_length").cast("long").alias("min_length"),
        F.col("max_length").cast("long").alias("max_length"),
        F.round("avg_length", 4).alias("avg_length"),
        F.round("entropy", 4).alias("entropy"),
    )


def a_boxplot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """boxplot (BoxplotAggregationBuilder.java, analytics module): exact
    quartiles + 1.5·IQR whisker fences snapped to observations."""
    from .plans import aggs as aggs_mod

    out = aggs_mod.compile_agg(_events(spark, sf_dir), "bp", {"boxplot": {"field": "value"}})
    return out.select(*[F.round(c, 4).alias(c) for c in
                        ["min", "max", "q1", "q2", "q3", "lower", "upper"]])


def a_matrix_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """matrix_stats (MatrixStatsAggregationBuilder.java, aggs-matrix-stats
    module): per-field moments + pairwise covariance/correlation over
    lineitem numerics, one aggregate pass."""
    from .plans import aggs as aggs_mod

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return aggs_mod.compile_agg(li, "ms", {
        "matrix_stats": {"fields": ["l_quantity", "l_discount"]}
    })


def a_variable_width_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """variable_width_histogram (VariableWidthHistogramAggregationBuilder
    .java): 6 equal-frequency clusters over value — key = centroid."""
    from .plans import aggs as aggs_mod

    out = aggs_mod.compile_agg(_events(spark, sf_dir), "vw", {
        "variable_width_histogram": {"field": "value", "buckets": 6}
    })
    return out.select("key", F.round("min", 4).alias("min"),
                      F.round("max", 4).alias("max"), "doc_count")


def a_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """normalize pipeline (NormalizePipelineAggregationBuilder.java):
    percent_of_sum + z-score over daily doc counts."""
    from .plans import aggs as aggs_mod

    out = aggs_mod.aggregate(_events(spark, sf_dir), {
        "daily": {"date_histogram": {"field": "ts", "calendar_interval": "1d"},
                  "aggs": {
                      "pct": {"normalize": {"buckets_path": "_count",
                                            "method": "percent_of_sum"}},
                      "z": {"normalize": {"buckets_path": "_count",
                                          "method": "z-score"}},
                  }},
    })["daily"]
    return out.select(F.to_date("key").alias("day"), "doc_count", "pct", "z").orderBy("day")


def a_moving_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """moving_percentiles pipeline (MovingPercentilesPipelineAggregation
    Builder.java): trailing-7-bucket median of the daily value sum."""
    from .plans import aggs as aggs_mod

    out = aggs_mod.aggregate(_events(spark, sf_dir), {
        "daily": {"date_histogram": {"field": "ts", "calendar_interval": "1d"},
                  "aggs": {
                      "sv": {"sum": {"field": "value"}},
                      "mp": {"moving_percentiles": {"buckets_path": "sv",
                                                    "window": 7,
                                                    "percents": [50]}},
                  }},
    })["daily"]
    return out.select(
        F.to_date("key").alias("day"),
        F.round("sv", 4).alias("sv"),
        F.round(F.col("`mp.50`"), 4).alias("mp_50"),
    ).orderBy("day")


def q_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid BM25 + knn via reciprocal rank fusion (x-pack rank-rrf
    ``RRFRankBuilder.java``; the `rrf` retriever): retriever 1 = match-OR
    BM25 over documents, retriever 2 = exact cosine knn over the id-aligned
    embeddings table (query = vec_id 0), fused with rank_constant=60,
    rank_window_size=50, top-10. Both retriever frames are top-k-small
    before fusion — the fusion never touches the corpus."""
    from .operators.rank import rrf_fuse

    bm = _bm25_scores(spark, sf_dir, _OR_TERMS).select(
        "doc_id", F.col("score_raw").alias("score")
    )
    e = _emb(spark, sf_dir).withColumn("v", F.col("embedding").cast("array<double>"))
    q = e.where(F.col("vec_id") == 0).select(F.col("v").alias("qv"))
    dot = "aggregate(zip_with(v, qv, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
    nrm = (
        "sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x))"
        " * sqrt(aggregate(qv, 0D, (acc, x) -> acc + x * x))"
    )
    knn = (
        e.where(F.col("vec_id") != 0)  # the query vector must not fuse with itself
        .crossJoin(F.broadcast(q))
        .select(
            F.col("vec_id").alias("doc_id"),
            F.expr(f"({dot}) / ({nrm})").alias("score"),
        )
    )
    return rrf_fuse(
        [bm, knn], id_col="doc_id", score_col="score",
        rank_constant=60, rank_window_size=50, k=10,
    )


def q_termvectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_termvectors API (``server/src/main/java/org/elasticsearch/action/
    termvectors/TermVectorsRequest.java``): per-term stats for ONE document —
    term_freq, ordered positions, plus corpus doc_freq (term_statistics=true).
    The reference re-analyzes the stored field when vectors aren't indexed
    (``TermVectorsService.java``); here the positions come from one
    posexplode of the analyzed doc, and doc_freq from the same distinct-term
    frame every BM25 oracle uses — the per-doc side is one row's tokens, the
    stats side is a broadcast-sized term-filtered join."""
    toks = _tokenized(spark, sf_dir).select("doc_id", "toks")
    one = toks.where(F.col("doc_id") == 42).select(
        F.posexplode("toks").alias("pos", "term")
    )
    tv = one.groupBy("term").agg(
        F.count("*").cast("bigint").alias("term_freq"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list("pos")), lambda x: x.cast("string")),
            ",",
        ).alias("positions"),
    )
    dfs = (
        toks.select("doc_id", F.explode(F.array_distinct("toks")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").cast("bigint").alias("doc_freq"))
    )
    return tv.join(dfs, "term").orderBy("term")


def a_geo_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_distance agg (GeoDistanceAggregationBuilder.java): distance-ring
    buckets from an origin (haversine, km) with a doc_count + avg sub-agg;
    lat/lon derived deterministically from events.value (same convention as
    the geo_line oracle)."""
    from .plans.aggs import aggregate

    pts = _events(spark, sf_dir).select(
        "event_id", "value",
        (F.col("value") % 360 - 180).alias("lon"),
        (F.col("value") % 170 - 85).alias("lat"),
    )
    out = aggregate(pts, {"rings": {
        "geo_distance": {
            "origin": {"lat": 0.0, "lon": 0.0},
            "lat_field": "lat", "lon_field": "lon", "unit": "km",
            "ranges": [{"to": 11000}, {"from": 11000, "to": 13000}, {"from": 13000}],
        },
        "aggs": {"avg_value": {"avg": {"field": "value"}}},
    }})["rings"]
    return out.select(
        "key", "doc_count", F.round("avg_value", 4).alias("avg_value")
    ).orderBy("key")


def a_terms_error_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terms agg with the reference's DISTRIBUTED reduce contract
    (show_term_doc_count_error): 4 hash shards each report only their
    local top-5 sources; the coordinator reduce yields per-bucket
    doc_count_error_upper_bound + sum_other_doc_count
    (plans/aggs.py:terms_two_phase; AbstractInternalTerms.java:280)."""
    from .plans.aggs import terms_two_phase

    d = _docs(spark, sf_dir).withColumn(
        "shard", (F.col("doc_id") % 4).cast("int")
    )
    return terms_two_phase(d, "source", "shard", size=5, shard_size=5).orderBy(
        "key"
    )


def a_geotile_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geotile_grid agg (GeoTileGridAggregationBuilder.java): web-mercator
    z/x/y cells at precision 6, top-10 by doc_count desc / key asc, with an
    avg(value) sub-agg; lat/lon derived from events.value (geo_line
    convention)."""
    from .plans.aggs import aggregate

    pts = _events(spark, sf_dir).select(
        "event_id", "value",
        F.struct(
            (F.col("value") % 170 - 85).alias("lat"),
            (F.col("value") % 360 - 180).alias("lon"),
        ).alias("pt"),
    )
    out = aggregate(pts, {"tiles": {
        "geotile_grid": {"field": "pt", "precision": 6, "size": 10},
        "aggs": {"avg_value": {"avg": {"field": "value"}}},
    }})["tiles"]
    return out.select(
        "key", "doc_count", F.round("avg_value", 4).alias("avg_value")
    )


def a_geohash_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geohash_grid agg (GeoHashGridAggregationBuilder.java): base32
    geohash cells at precision 3, top-10 by doc_count desc / key asc;
    oracle mirrors the bit-interleave with unrolled integer SQL."""
    from .plans.aggs import aggregate

    pts = _events(spark, sf_dir).select(
        "event_id", "value",
        F.struct(
            (F.col("value") % 170 - 85).alias("lat"),
            (F.col("value") % 360 - 180).alias("lon"),
        ).alias("pt"),
    )
    out = aggregate(pts, {"cells": {
        "geohash_grid": {"field": "pt", "precision": 3, "size": 10},
        "aggs": {"avg_value": {"avg": {"field": "value"}}},
    }})["cells"]
    return out.select(
        "key", "doc_count", F.round("avg_value", 4).alias("avg_value")
    )


def a_cumulative_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cumulative_cardinality pipeline (x-pack analytics
    ``CumulativeCardinalityPipelineAggregationBuilder.java``): running count
    of distinct users ever seen, attached to a daily date_histogram. Exact
    distributed equivalent of the reference's cumulative HLL merge: one
    groupBy(user) for first-seen day + a window cumsum over the small
    bucket frame."""
    from .plans.aggs import aggregate

    ev = _events(spark, sf_dir)
    out = aggregate(ev, {"per_day": {
        "date_histogram": {"field": "ts", "calendar_interval": "1d"},
        "aggs": {
            "users": {"cardinality": {"field": "user_id", "precision_threshold": 40000}},
            "total_users": {"cumulative_cardinality": {"buckets_path": "users"}},
        },
    }})["per_day"]
    return out.select(
        F.col("key").cast("date").alias("day"),
        "doc_count",
        F.col("users").cast("bigint").alias("users"),
        F.col("total_users").cast("bigint").alias("total_users"),
    ).orderBy("day")


def t_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain balancing (training-data mixing layer): keep ≤ 20 docs per
    source by deterministic md5 priority — two-phase lossless window
    (per-partition pre-truncation bounds shuffle volume per hot domain)."""
    from .operators.sampling import domain_cap

    out = domain_cap(_docs(spark, sf_dir), "source", "doc_id", cap=20)
    return out.select("doc_id", "source").orderBy("source", "doc_id")


def t_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-source sampling mixture (up/down-weighting): keep
    doc iff key % 10000 < rate·10000 — a pure codegen filter, rerun-stable."""
    from .operators.sampling import source_mix

    out = source_mix(
        _docs(spark, sf_dir), "source", "doc_id",
        rates={"src1": 0.25, "src3": 0.5}, default_rate=0.9, modulus=100,
    )
    return out.select("doc_id", "source").orderBy("doc_id")


def t_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk sequence packing (GPT-style): documents laid out in
    doc_id order into 256-token training sequences; each doc gets (seq_id,
    seq_offset) coordinates. Token count = analyzed token count."""
    from .operators.sampling import pack_sequences

    d = _tokenized(spark, sf_dir).select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens")
    )
    out = pack_sequences(d, "doc_id", "n_tokens", budget=256, scope="global")
    return out.select("doc_id", "n_tokens", "seq_id", "seq_offset").orderBy("doc_id")


def q_esql_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL pipe query (x-pack/plugin/esql, ``EsqlBaseParser.g4``) through
    the plans/esql.py compiler: WHERE (with == and LIKE wildcards) → EVAL →
    STATS … BY → SORT → LIMIT over the events table."""
    from .plans.esql import esql

    ev = _events(spark, sf_dir)
    out = esql(spark, """
FROM events
| WHERE event_type LIKE "c*" AND value >= 10
| EVAL day = DATE_TRUNC(1 day, ts), v2 = value * 2
| STATS n = COUNT(*), total = SUM(v2), users = COUNT_DISTINCT(user_id) BY day, event_type
| SORT day ASC, event_type ASC
| LIMIT 50
""", {"events": ev})
    return out.select(
        F.col("day").cast("date").alias("day"), "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round("total", 4).alias("total"),
        F.col("users").cast("bigint").alias("users"),
    )


def t_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any verbatim word
    8-gram with the probe set (docs 0-4 standing in for an eval benchmark)
    are flagged — one explode + broadcast semi-join, never an all-pairs."""
    from .operators.sampling import flag_contaminated

    docs = _docs(spark, sf_dir)
    probes = docs.where(F.col("doc_id") < 5).select("text")
    return flag_contaminated(docs, probes, n=8).orderBy("doc_id")


def q_text_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_text_structure/find_structure (x-pack/plugin/text-structure,
    ``TextStructureFinderManager.java``): infer the container format and
    per-field mappings from a bounded driver-side sample of raw NDJSON lines
    (the reference's ``lines_to_sample`` model), then drive the DISTRIBUTED
    parse of the full corpus with the inferred schema — ``from_json`` with a
    DDL string, no per-file inference pass. Round-trip gate: aggregating the
    re-parsed rows must equal the same aggregate over the source table, so a
    wrong inferred type surfaces as a value mismatch."""
    from .sources.text_structure import find_structure, structure_to_spark_schema

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    lines = ev.select(
        F.to_json(F.struct("event_id", "event_type", "value")).alias("ln")
    )
    sample = [r.ln for r in lines.limit(500).collect()]
    st = find_structure(sample)
    if st["format"] != "ndjson":  # inference failure = wrong answer, loudly
        raise ValueError(f"expected ndjson, inferred {st['format']}")
    ddl = structure_to_spark_schema(st)
    parsed = lines.select(F.from_json("ln", ddl).alias("s")).select("s.*")
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("doc_count"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .orderBy("event_type")
    )


def f_wildcard_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wildcard field mapper (x-pack/plugin/wildcard,
    ``WildcardFieldMapper.java``): leading-wildcard queries accelerated by a
    3-gram posting table — phase 1 keeps only ids containing ALL pattern
    grams (parquet skip-scan on the sorted gram column), phase 2 verifies
    candidates with the exact LIKE. Oracle = the plain LIKE over the raw
    column, so any approximation overmatch that survived verify would
    surface as extra rows."""
    import os

    from .operators.wildcard_field import build_wildcard_index, wildcard_field_search

    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    tag = sf_dir.strip("/").replace("/", "_")
    idx = f"/tmp/es_registry_wcgrams_{tag}"
    if not os.path.exists(idx + "/_SUCCESS"):
        build_wildcard_index(part, "p_partkey", "p_name", idx, num_files=4)
    hits = wildcard_field_search(spark, idx, part, "p_partkey", "p_name", "*small*ring*")
    return hits.select("p_partkey", "p_name").orderBy("p_partkey")


def f_annotated_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """annotated_text mapper (plugins/mapper-annotated-text,
    ``AnnotatedTextFieldMapper.java``): inline ``[text](value)`` markup is
    parsed once at ingest (Arrow-batched UDF) into plain text + injected
    annotation tokens sharing the token-position space; the query side is
    pure JVM (``exists`` over the ann array). This entry annotates every
    standalone \"data\" word, then counts docs carrying the annotation per
    lang — the oracle checks the same membership on the raw text, so a
    parse/position bug surfaces as a count mismatch."""
    from .functions.annotated_text import annotated_term, parse_annotated_udf

    docs = _docs(spark, sf_dir)
    raw = docs.withColumn(
        "raw", F.regexp_replace("text", r"\bdata\b", "[data](topic%3Adata)")
    )
    parsed = raw.select(
        "doc_id", "lang", parse_annotated_udf("regex_simple")("raw").alias("p")
    )
    hits = parsed.where(annotated_term(F.col("p.ann"), "topic:data"))
    return (
        hits.groupBy("lang")
        .agg(F.count("*").cast("long").alias("doc_count"))
        .orderBy("lang")
    )


def a_bucket_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bucket_correlation sibling agg (x-pack ml,
    ``BucketCorrelationAggregationBuilder`` / ``CountCorrelationFunction``):
    approximate Pearson correlation between a filtered subset's per-bucket
    counts and an indicator of full-corpus expectations. Oracle = the same
    closed form written out in SQL over the identical bucket frames."""
    from .plans import aggs as aggs_mod

    ev = _events(spark, sf_dir)
    full = (
        ev.groupBy(F.col("event_type").alias("key"))
        .agg(F.count("*").alias("doc_count"))
        .orderBy("key")
    )
    expectations = [float(r["doc_count"]) for r in full.collect()]
    sub = (
        ev.where(F.col("value") >= 50)
        .groupBy(F.col("event_type").alias("key"))
        .agg(F.count("*").alias("doc_count"))
    )
    spec = {
        "bucket_correlation": {
            "buckets_path": "sub>_count",
            "function": {
                "count_correlation": {
                    "indicator": {
                        "expectations": expectations,
                        "doc_count": float(ev.count()),
                    }
                }
            },
        }
    }
    out = aggs_mod.apply_sibling({"sub": sub}, "corr", spec)
    return out.select(F.round("corr", 4).alias("corr"))


def a_bucket_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bucket_count_ks_test sibling agg (x-pack ml,
    ``BucketCountKSTestAggregator``): KS comparison of the bucket doc_count
    CDF against uniform fractions; one-sided p via Hodges eq 5.3 (the
    reference's formula), two-sided via the asymptotic Kolmogorov series.
    Oracle = the same CDF windows + formulas in SQL."""
    from .plans import aggs as aggs_mod

    ev = _events(spark, sf_dir)
    b = (
        ev.groupBy(F.col("event_type").alias("key"))
        .agg(F.count("*").alias("doc_count"))
    )
    spec = {
        "bucket_count_ks_test": {
            "buckets_path": "b>_count",
            "alternatives": ["less", "greater", "two_sided"],
        }
    }
    out = aggs_mod.apply_sibling({"b": b}, "ks", spec)
    return out.select(
        *[
            F.round(F.col(f"`ks.{a}`"), 4).alias(f"ks.{a}")
            for a in ("less", "greater", "two_sided")
        ]
    )


def f_murmur3_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """murmur3 field mapper (plugins/mapper-murmur3,
    ``Murmur3FieldMapper.java``): the field stores a 64-bit hash of the
    value, consumed by cardinality aggs (hashing once at index time instead
    of per-query). End-to-end through doc parse: JSON → murmur3-typed field
    → exact distinct over the hash. Oracle counts distinct raw values — a
    hash collision (or a parse bug) shows up as a count mismatch."""
    from .sources.doc_parse import parse_documents

    docs = _docs(spark, sf_dir)
    raw = docs.select(
        "doc_id", F.to_json(F.struct("source", "lang")).alias("js")
    )
    parsed, _ = parse_documents(
        spark, raw, "js",
        {"properties": {"source": {"type": "murmur3"}, "lang": {"type": "keyword"}}},
        id_col="doc_id",
    )
    return (
        parsed.groupBy("lang")
        .agg(F.countDistinct("source").alias("source_cardinality"))
        .orderBy("lang")
    )


def f_size_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_size metadata field (plugins/mapper-size, ``SizeFieldMapper.java``):
    byte length of the original ``_source``, queryable/aggregatable like any
    numeric field. The oracle reconstructs the identical JSON serialization
    and measures it, so both the parse plumbing and the byte accounting are
    checked value-for-value."""
    from .sources.doc_parse import parse_documents

    docs = _docs(spark, sf_dir)
    raw = docs.select(
        "doc_id", F.to_json(F.struct("doc_id", "lang")).alias("js")
    )
    parsed, _ = parse_documents(
        spark, raw, "js",
        {"_size": {"enabled": True},
         "properties": {"doc_id": {"type": "long"}, "lang": {"type": "keyword"}}},
    )
    return (
        parsed.groupBy(F.col("_size").alias("size_bytes"))
        .agg(F.count("*").cast("long").alias("doc_count"))
        .orderBy("size_bytes")
    )


def dsl_semantic_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic query (x-pack ``SemanticQueryBuilder``) over a pre-embedded
    semantic_text corpus: cosine against the query vector through the full
    DSL search path (parse → SemanticQ.frame → top-k). Query vector = vec 0
    of the embeddings table, so the oracle is the plain cosine top-k."""
    from .plans import dsl as dsl_mod

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    corpus = emb.where(F.col("vec_id") != 0)
    hits = dsl_mod.search(
        spark, corpus,
        {"query": {"semantic": {"field": "embedding", "query_vector": list(qv)}},
         "size": 10},
        key="vec_id",
    )
    return hits.select("vec_id", "label", F.round("_score", 4).alias("cosine"))


def dsl_knn_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn QUERY kind (KnnVectorQueryBuilder, ES 8.4+ query-context kNN):
    exact cosine top-10 with a PRE-filter (`term` on label) — the filter
    restricts the candidate pool before the top-k, so every hit satisfies
    it and the query still yields k results."""
    from .plans import dsl as dsl_mod

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = emb.where(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    hits = dsl_mod.search(
        spark, emb.where(F.col("vec_id") != 0),
        {"query": {"knn": {
            "field": "embedding", "query_vector": [float(x) for x in qv],
            "k": 10, "filter": {"term": {"label": 1}},
        }}, "size": 10},
        key="vec_id",
    )
    return hits.select("vec_id", "label", F.round("_score", 4).alias("cosine"))


def dsl_exists_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """exists query (ExistsQueryBuilder.java) in filter context over a
    sometimes-null column, through the full search path."""
    from .plans import dsl as dsl_mod

    docs = _docs(spark, sf_dir).withColumn(
        "maybe", F.when(F.col("n_chars") % 3 == 0, F.col("source"))
    )
    hits = dsl_mod.search(
        spark, docs,
        {"query": {"bool": {"filter": [{"exists": {"field": "maybe"}}]}},
         "size": 50000},
        key="doc_id", text_col="text",
    )
    return (
        hits.groupBy("lang")
        .agg(F.count("*").cast("long").alias("doc_count"))
        .orderBy("lang")
    )


def dsl_terms_set_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """terms_set (TermsSetQueryBuilder.java): array-field docs matching at
    least minimum_should_match of the given terms."""
    from .plans import dsl as dsl_mod

    docs = _docs(spark, sf_dir).withColumn("toks", F.split("text", " "))
    hits = dsl_mod.search(
        spark, docs,
        {"query": {"bool": {"filter": [{"terms_set": {"toks": {
            "terms": ["spark", "merge", "vector", "join"],
            "minimum_should_match_field_value": 2,
        }}}]}}, "size": 50000},
        key="doc_id", text_col="text",
    )
    return (
        hits.groupBy("lang")
        .agg(F.count("*").cast("long").alias("doc_count"))
        .orderBy("lang")
    )


def dsl_query_string_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query_string (QueryStringQueryParser syntax: field:value, AND) in
    filter context — term predicates composed by the mini-parser."""
    from .plans import dsl as dsl_mod

    hits = dsl_mod.search(
        spark, _docs(spark, sf_dir),
        {"query": {"bool": {"filter": [{"query_string": {
            "query": "lang:en AND source:src3", "default_field": "text",
        }}]}}, "size": 50000},
        key="doc_id", text_col="text",
    )
    return hits.agg(F.count("*").cast("long").alias("doc_count"))


def dsl_rule_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rule query (x-pack ent-search ``RuleQueryBuilder``): ruleset criteria
    evaluated against the request's match_criteria rewrite the organic query
    into pinned ids + exclusions (plans/rules.py) — one matching pin rule,
    one matching exclude rule, one non-matching rule ignored."""
    from .plans import dsl
    from .plans.rules import apply_query_rules

    rulesets = {"promo": [
        {"rule_id": "r1", "type": "pinned",
         "criteria": [{"type": "exact", "metadata": "user_query", "values": ["cheap parts"]}],
         "actions": {"ids": [42, 7]}},
        {"rule_id": "r2", "type": "exclude",
         "criteria": [{"type": "prefix", "metadata": "user_query", "values": ["cheap"]}],
         "actions": {"ids": [199]}},
        {"rule_id": "r3", "type": "pinned",
         "criteria": [{"type": "exact", "metadata": "user_query", "values": ["other"]}],
         "actions": {"ids": [999]}},
    ]}
    q = apply_query_rules({"rule": {
        "organic": {"constant_score": {
            "filter": {"range": {"p_retailprice": {"gte": 998.5}}}, "boost": 1.5}},
        "ruleset_ids": ["promo"],
        "match_criteria": {"user_query": "cheap parts"},
    }}, rulesets)
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    node = dsl.parse(q)
    ctx = dsl.SearchContext(part, "p_partkey")
    return (
        node.frame(ctx)
        .select(F.col("__key").alias("p_partkey"), F.round("_score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("p_partkey"))
        .limit(20)
    )


def dsl_query_string_extended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """query_string extended Lucene syntax (QueryStringQueryParser.java):
    wildcard field:e?, full-match /regexp/, phrase proximity "a b"~1,
    -prohibited, implicit default-OR — per-lang doc counts in filter
    context."""
    from .plans import dsl as dsl_mod

    hits = dsl_mod.search(
        spark, _docs(spark, sf_dir),
        {"query": {"bool": {"filter": [{"query_string": {
            "query": '(lang:e? OR lang:/d./) AND "table value"~1 -source:src9',
            "default_field": "text",
        }}]}}, "size": 50000},
        key="doc_id", text_col="text",
    )
    return (hits.groupBy("lang").agg(F.count("*").cast("long").alias("n"))
            .orderBy("lang"))


def dsl_distance_feature_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """distance_feature (DistanceFeatureQueryBuilder.java):
    score = boost·pivot/(pivot+|field−origin|), exact closed form."""
    return _dsl_search(spark, sf_dir, {
        "query": {"distance_feature": {"field": "n_chars", "origin": 300, "pivot": 50}},
        "size": 10,
    })


def dsl_rank_feature_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank_feature saturation (RankFeatureQueryBuilder.java):
    score = x/(x+pivot) over a positive numeric feature."""
    return _dsl_search(spark, sf_dir, {
        "query": {"rank_feature": {"field": "n_chars", "saturation": {"pivot": 250}}},
        "size": 10,
    })


def dsl_geo_distance_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_distance (GeoDistanceQueryBuilder.java): haversine radius filter
    over a struct<lat,lon> geo_point derived deterministically from events;
    the oracle mirrors the same haversine (R = 6371008.8 m)."""
    from .plans import dsl as dsl_mod

    ev = _events(spark, sf_dir).withColumn(
        "loc",
        F.struct(
            (F.col("user_id") % 180 - 90).cast("double").alias("lat"),
            ((F.col("event_id") * 7) % 360 - 180).cast("double").alias("lon"),
        ),
    )
    hits = dsl_mod.search(
        spark, ev,
        {"query": {"bool": {"filter": [{"geo_distance": {
            "distance": "3000km", "loc": {"lat": 10.0, "lon": 20.0},
        }}]}}, "size": 50000},
        key="event_id", text_col="event_type",
    )
    return (
        hits.groupBy("event_type")
        .agg(F.count("*").cast("long").alias("doc_count"))
        .orderBy("event_type")
    )


def agg_percentiles_hdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentiles with the HDR method
    (``AbstractHDRPercentilesAggregator.java`` / HdrHistogram): values
    quantize to log2 sub-bucketed representatives (3 significant digits →
    11 sub-bucket bits) and the percentile is exact within that bucket
    error. The oracle replays the identical quantization in SQL, so the
    comparison is hash-exact — the 'within documented HDR bucket error'
    contract holds by construction."""
    from .plans import aggs as aggs_mod

    out = aggs_mod.aggregate(_events(spark, sf_dir), {"p": {"percentiles": {
        "field": "value", "percents": [50, 90, 99],
        "hdr": {"number_of_significant_value_digits": 3},
    }}})["p"]
    return out.select(
        F.round(F.col("`p.50`"), 4).alias("p50"),
        F.round(F.col("`p.90`"), 4).alias("p90"),
        F.round(F.col("`p.99`"), 4).alias("p99"),
    )


def dsl_geo_shape_stored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geo_shape FIELD type (GeoShapeFieldMapper.java +
    GeoShapeQueryBuilder.java): stored GeoJSON polygons queried with
    intersects / disjoint / within / contains. Shapes are DIAMONDS
    (45°-rotated squares) derived from event_ids — deliberately
    non-axis-aligned so a bbox-only shortcut would produce wrong counts;
    the oracle mirrors the exact relations analytically (diamond↔rectangle
    in L1 distance). Engine path: GeoJSON build → with_shape_bbox (flat
    stats-prunable bbox columns) → DSL geo_shape query → bbox prefilter +
    exact planar kernel (functions/geometry.py)."""
    from .plans import dsl as dsl_mod
    from .plans.fields import with_shape_bbox

    ev = _events(spark, sf_dir).select(
        (F.col("event_id") % 37 - 18).cast("double").alias("cx"),
        (F.col("event_id") % 23 - 11).cast("double").alias("cy"),
        (F.col("event_id") % 3 + 1).cast("double").alias("r"),
    )
    ev = ev.withColumn("shape", F.format_string(
        '{"type": "Polygon", "coordinates": '
        '[[[%s,%s],[%s,%s],[%s,%s],[%s,%s],[%s,%s]]]}',
        F.col("cx") + F.col("r"), F.col("cy"),
        F.col("cx"), F.col("cy") + F.col("r"),
        F.col("cx") - F.col("r"), F.col("cy"),
        F.col("cx"), F.col("cy") - F.col("r"),
        F.col("cx") + F.col("r"), F.col("cy"),
    ))
    ev = with_shape_bbox(ev, "shape")
    ctx = dsl_mod.SearchContext(ev, "cx")
    rect = {"type": "envelope", "coordinates": [[-1.0, 1.0], [1.0, -1.0]]}

    def pred(rel):
        return dsl_mod.parse(
            {"geo_shape": {"shape": {"shape": rect, "relation": rel}}}
        ).predicate(ctx)

    return ev.agg(
        F.sum(F.when(pred("intersects"), 1).otherwise(0)).cast("long").alias("n_int"),
        F.sum(F.when(pred("disjoint"), 1).otherwise(0)).cast("long").alias("n_dis"),
        F.sum(F.when(pred("within"), 1).otherwise(0)).cast("long").alias("n_win"),
        F.sum(F.when(pred("contains"), 1).otherwise(0)).cast("long").alias("n_con"),
    )


def analysis_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CJK segmentation (icu_tokenizer / smartcn analog, functions/cjk.py:
    script-run split + unigram-Viterbi over the embedded word lexicon,
    kana runs by sub-script, non-CJK through UAX#29). Deterministic by
    construction — the oracle pins every (token, count) of a fixed
    six-sentence zh/ja/mixed corpus. Engine side runs the real analyzer
    chain in an Arrow-batched UDF over a distributed frame."""
    from pyspark.sql.functions import pandas_udf

    corpus = [
        "我们喜欢机器学习和人工智能",
        "今天天气很好我们一起学习",
        "搜索引擎使用倒排索引进行查询",
        "日本語の勉強をしています",
        "東京で仕事をしています",
        "Elasticsearch是一个分布式搜索引擎",
    ]
    df = spark.createDataFrame([(s,) for s in corpus], "sentence string")

    @pandas_udf("array<string>")
    def seg(s: pd.Series) -> pd.Series:
        from elasticsearch_spark.functions.cjk import smartcn_analyze

        return s.map(smartcn_analyze)

    return (
        df.select(F.explode(seg("sentence")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy("token")
    )


def analysis_kuromoji(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Japanese analysis (kuromoji analog, functions/cjk.py): the
    JapaneseAnalyzer chain — unigram-Viterbi lattice tokenizer, baseform,
    part-of-speech stop, cjk_width, ja_stop, katakana stem, lowercase —
    over the embedded POS/reading lexicon. The reference's published test
    vectors are matched exactly (tests/test_cjk_reference_vectors.py);
    this oracle pins every (token, count) of a fixed five-sentence
    corpus."""
    from pyspark.sql.functions import pandas_udf

    corpus = [
        "コンピューターの勉強をしています",
        "東京で仕事をしています",
        "人々は日本語の勉強が好きです",
        "ビル・ゲイツとサッカーの試合",
        "二百三十五人が参加しました",
    ]
    df = spark.createDataFrame([(s,) for s in corpus], "sentence string")

    @pandas_udf("array<string>")
    def seg(s: pd.Series) -> pd.Series:
        from elasticsearch_spark.functions.cjk import kuromoji_analyze

        return s.map(kuromoji_analyze)

    return (
        df.select(F.explode(seg("sentence")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy("token")
    )


def analysis_nori(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Korean analysis (nori analog, functions/cjk.py): the KoreanAnalyzer
    chain — unigram-Viterbi lattice with decompound, default
    part-of-speech stop tags, hanja readingform, lowercase. The
    reference's published test vectors are matched exactly
    (tests/test_cjk_reference_vectors.py); this oracle pins every
    (token, count) of a fixed four-sentence corpus."""
    from pyspark.sql.functions import pandas_udf

    corpus = [
        "아버지가 학교에 갔다",
        "서울에서 부산까지 기차로 간다",
        "사과 포도 바나나를 샀다",
        "검색 엔진은 역색인을 사용한다",
    ]
    df = spark.createDataFrame([(s,) for s in corpus], "sentence string")

    @pandas_udf("array<string>")
    def seg(s: pd.Series) -> pd.Series:
        from elasticsearch_spark.functions.cjk import nori_analyze

        return s.map(nori_analyze)

    return (
        df.select(F.explode(seg("sentence")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").cast("long").alias("cnt"))
        .orderBy("token")
    )


def analysis_cjk_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary coverage of the scaled-up embedded CJK lexicons
    (functions/cjk_data.py, the MeCab-IPADIC / mecab-ko-dic / smartcn
    dictionary analog — KuromojiTokenizerFactory.java,
    NoriTokenizerFactory.java:47): per language, the count of Han/kana/
    hangul tokens on a fixed held-out web-style corpus and how many
    resolve from the DICTIONARY (Token.known) rather than the
    unknown-word char-class rules. Deterministic by construction; the
    coverage gate (>=80%) is also pytest-pinned
    (tests/test_cjk_lexicon_coverage.py)."""
    from pyspark.sql.functions import pandas_udf

    corpus = [
        ("ja", "政府は新しい経済政策を発表しました。専門家によると、"
               "この政策は中小企業の支援を目的としています。"),
        ("ja", "電車が遅れたので、会社に遅刻してしまいました。"
               "駅のホームは通勤客でいっぱいでした。"),
        ("zh", "今年夏天气温特别高，很多城市都发布了高温警报。"
               "医生提醒大家多喝水，避免长时间在阳光下活动。"),
        ("zh", "公司最近招聘了几名新员工，人事部门正在组织培训。"
               "新同事们对工作环境很满意。"),
        ("ko", "정부가 새 경제 정책을 발표했습니다. 전문가들은 이 정책이 "
               "중소기업 지원에 도움이 된다고 말했습니다."),
        ("ko", "지난 주말에 시장에 가서 과일과 채소를 샀습니다."),
    ]
    df = spark.createDataFrame(corpus, "lang string, sentence string")

    @pandas_udf("struct<total: long, known: long>")
    def cov(lang: pd.Series, s: pd.Series) -> pd.DataFrame:
        from elasticsearch_spark.functions.cjk import (
            _ZH_LEXICON, _ZH_MAX_WORD, _is_han, _is_hangul, _kana_script,
            _viterbi, _zh_unknown, kuromoji_tokenize_rich,
            nori_tokenize_rich)

        totals, knowns = [], []
        for lg, text in zip(lang, s):
            if lg == "ja":
                toks = [t for t in kuromoji_tokenize_rich(text)
                        if any(_is_han(c) or _kana_script(c)
                               for c in t.surface)]
            elif lg == "ko":
                toks = [t for t in nori_tokenize_rich(text)
                        if any(_is_hangul(c) or _is_han(c)
                               for c in t.surface)]
            else:
                toks = []
                for run in text.split():
                    seg = "".join(c for c in run if _is_han(c))
                    if seg:
                        toks.extend(_viterbi(seg, _ZH_LEXICON,
                                             _ZH_MAX_WORD, _zh_unknown))
            totals.append(len(toks))
            knowns.append(sum(t.known for t in toks))
        return pd.DataFrame({"total": totals, "known": knowns})

    return (
        df.select("lang", cov("lang", "sentence").alias("c"))
        .groupBy("lang")
        .agg(F.sum("c.total").cast("long").alias("tokens"),
             F.sum("c.known").cast("long").alias("known"))
        .orderBy("lang")
    )


def dsl_scripted_metric_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """scripted_metric with REAL Painless state maps
    (``ScriptedMetricAggregator.java`` init/map/combine/reduce lifecycle,
    interpreted by functions/painless.py): per-partition HashMap keyed by
    event_type accumulating exact integer cents (trunc(value*100) — IEEE
    double math identical in Java/Python/DuckDB so the hash compare is
    exact); combine ships the map, reduce merges the per-partition maps.
    A single SQL expression cannot express the map-state lifecycle — the
    ORACLE can (it's just a GROUP BY), which is exactly the point of the
    correctness gate."""
    from .plans import aggs as aggs_mod

    out = aggs_mod.aggregate(_events(spark, sf_dir), {"cents": {"scripted_metric": {
        "init_script": "state.m = [:]",
        "map_script": (
            "state.m.merge(doc['event_type'].value,"
            " (long) (doc['value'].value * 100), (a, b) -> a + b)"
        ),
        "combine_script": "return state.m",
        "reduce_script": """
            Map total = [:];
            for (s in states) {
              for (e in s.entrySet()) {
                total.merge(e.getKey(), e.getValue(), (a, b) -> a + b)
              }
            }
            return total
        """,
    }}})["cents"]
    return out.select(
        F.col("key").alias("event_type"),
        F.col("cents").cast("long").alias("sum_cents"),
    ).orderBy("event_type")


def dsl_painless_script_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """script query whose source NEEDS the Painless interpreter (locals +
    loop + conditional over doc values — ``ScriptQueryBuilder.java`` with a
    real lang-painless script)."""
    from .plans import dsl as dsl_mod

    hits = dsl_mod.search(
        spark, _docs(spark, sf_dir),
        {"query": {"bool": {"filter": [{"script": {"script": {
            "source": """
                def words = doc['text'].value.split(' ');
                int n = 0;
                for (w in words) { if (w.length() > params.wlen) { n++ } }
                return n >= params.k
            """,
            "params": {"wlen": 6, "k": 3},
        }}}]}}, "size": 50000},
        key="doc_id", text_col="text",
    )
    return (
        hits.groupBy("lang")
        .agg(F.count("*").cast("long").alias("doc_count"))
        .orderBy("lang")
    )


def dsl_painless_runtime_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """runtime field (RuntimeField.java) with a Painless if/else emit
    chain, bucketed by a terms agg over the emitted keyword."""
    from .plans import dsl as dsl_mod

    df = _docs(spark, sf_dir)
    col = dsl_mod.runtime_field_expr({"type": "keyword", "script": {
        "source": """
            def n = doc['n_chars'].value;
            if (n >= 400) { emit('long') }
            else if (n >= 200) { emit('medium') }
            else { emit('short') }
        """}})
    return (
        df.withColumn("size_class", col)
        .groupBy("size_class")
        .agg(F.count("*").cast("long").alias("doc_count"))
        .orderBy("size_class")
    )


def dsl_script_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """script query (ScriptQueryBuilder.java, SQL-expression Painless
    analog) in filter context."""
    from .plans import dsl as dsl_mod

    hits = dsl_mod.search(
        spark, _docs(spark, sf_dir),
        {"query": {"bool": {"filter": [{"script": {"script": {
            "source": "n_chars % 7 = 0",
        }}}]}}, "size": 50000},
        key="doc_id", text_col="text",
    )
    return (
        hits.groupBy("lang")
        .agg(F.count("*").cast("long").alias("doc_count"))
        .orderBy("lang")
    )


def dsl_script_regex_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """script query through the Painless INTERPRETER path: regex literal +
    Matcher group extraction + try/catch parse (PainlessLexer.g4 REGEX
    mode; Compiler.java trap grammar) — semantics a single SQL expression
    can't express, mirrored in the oracle with regexp functions."""
    from .plans import dsl as dsl_mod

    hits = dsl_mod.search(
        spark, _docs(spark, sf_dir),
        {"query": {"bool": {"filter": [{"script": {"script": {"source": """
            def s = doc['source'].value;
            if (s == null) { return false }
            def m = /^src(\\d+)$/.matcher(s);
            if (!m.matches()) { return false }
            int n;
            try { n = Integer.parseInt(m.group(1)); }
            catch (Exception e) { return false }
            return n >= 10 && doc['lang'].value ==~ /en|de/
        """}}}]}}, "size": 50000},
        key="doc_id", text_col="text",
    )
    return (
        hits.groupBy("lang")
        .agg(F.count("*").cast("long").alias("doc_count"))
        .orderBy("lang")
    )


def dsl_wrapper_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """wrapper query (WrapperQueryBuilder.java): base64-encoded inner query
    unwraps and runs — parity checked against the plain equivalent."""
    import base64

    from .plans import dsl as dsl_mod

    inner = base64.b64encode(b'{"term": {"lang": "en"}}').decode()
    hits = dsl_mod.search(
        spark, _docs(spark, sf_dir),
        {"query": {"bool": {"filter": [{"wrapper": {"query": inner}}]}},
         "size": 50000},
        key="doc_id", text_col="text",
    )
    return hits.agg(F.count("*").cast("long").alias("doc_count"))


def dsl_nested_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nested query (NestedQueryBuilder.java): lineitems as array<struct>
    sub-documents under orders (the entry materializes the nested layout),
    bool of child conditions in filter context; the oracle is the flat
    EXISTS — identical parent set, or the explode/groupBy is wrong."""
    from .plans import dsl as dsl_mod

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    nested = orders.join(
        li.groupBy("l_orderkey").agg(
            F.collect_list(F.struct("l_quantity", "l_returnflag")).alias("items")
        ),
        orders.o_orderkey == li.l_orderkey,
        "inner",
    ).drop("l_orderkey")
    hits = dsl_mod.search(
        spark, nested,
        {"query": {"bool": {"filter": [{"nested": {
            "path": "items",
            "query": {"bool": {"filter": [
                {"range": {"l_quantity": {"gte": 45}}},
                {"term": {"l_returnflag": "R"}},
            ]}},
        }}]}}, "size": 100000},
        key="o_orderkey", text_col="o_orderpriority",
    )
    return (
        hits.groupBy("o_orderstatus")
        .agg(F.count("*").cast("long").alias("doc_count"))
        .orderBy("o_orderstatus")
    )


def dsl_more_like_this(spark: SparkSession, sf_dir: str) -> DataFrame:
    """more_like_this (MoreLikeThisQueryBuilder.java): top tf·idf terms of
    the liked doc (min_doc_freq-gated, term-asc tie-break) run as a BM25
    disjunction, liked doc excluded. The oracle replicates the ENTIRE
    pipeline — term selection subquery included — so both the extraction
    ranking and the scoring must agree."""
    return _dsl_search(spark, sf_dir, {
        "query": {"more_like_this": {
            "like": [{"_id": 7}], "max_query_terms": 10, "min_doc_freq": 2,
        }},
        "size": 10,
    })


def dsl_search_after_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """search_after keyset pagination (SearchAfterBuilder.java): page 2 of
    a (n_chars asc, doc_id asc) sort, cursor = page 1's last row. Oracle =
    rows 6-10 of the same global order — keyset and offset views of one
    total order must agree exactly."""
    from .plans import dsl as dsl_mod

    docs = _docs(spark, sf_dir)
    body = {"query": {"match_all": {}}, "sort": [{"n_chars": "asc"}], "size": 5}
    p1 = dsl_mod.search(spark, docs, body, key="doc_id", text_col="text").collect()
    last = p1[-1]
    p2 = dsl_mod.search(
        spark, docs,
        {**body, "search_after": [last["n_chars"], last["doc_id"]]},
        key="doc_id", text_col="text",
    )
    return p2.select("doc_id", "n_chars")


def dsl_match_bool_prefix_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_bool_prefix (MatchBoolPrefixQueryBuilder.java): full terms
    score BM25, the last term matches as a constant-score prefix; union
    semantics (should, msm 1)."""
    return _dsl_search(spark, sf_dir, {
        "query": {"match_bool_prefix": {"text": "spark jo"}},
        "size": 10,
    })


def dsl_combined_fields_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """combined_fields (CombinedFieldsQueryBuilder.java): term-centric
    BM25F — term freqs and doc lengths merged across fields into one
    virtual field BEFORE scoring; oracle concatenates the token lists the
    same way."""
    return _dsl_search(spark, sf_dir, {
        "query": {"combined_fields": {
            "query": "spark src3", "fields": ["text", "source"],
        }},
        "size": 10,
    })


def dsl_regexp_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """regexp query (RegexpQueryBuilder.java): ANCHORED full-value match,
    like Lucene — the oracle anchors the same pattern."""
    from .plans import dsl as dsl_mod

    hits = dsl_mod.search(
        spark, _docs(spark, sf_dir),
        {"query": {"bool": {"filter": [{"regexp": {"source": "src[0-3]"}}]}},
         "size": 50000},
        key="doc_id", text_col="text",
    )
    return (
        hits.groupBy("source")
        .agg(F.count("*").cast("long").alias("doc_count"))
        .orderBy("source")
    )


def dsl_rescore_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rescore (QueryRescorer.java): the top window_size primary hits are
    re-ranked by query_weight·primary + rescore_query_weight·secondary;
    the oracle runs both BM25 chains and the window join in SQL."""
    return _dsl_search(spark, sf_dir, {
        "query": {"match": {"text": "spark"}},
        "rescore": {"window_size": 10, "query": {
            "rescore_query": {"match": {"text": "merge"}},
            "query_weight": 0.7, "rescore_query_weight": 1.2,
        }},
        "size": 10,
    })


def q_highlight_whole_field(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Highlighting with number_of_fragments: 0 (HighlightBuilder): the
    whole field returns with every match wrapped — byte-exact oracle via
    the same global regexp replacement."""
    from .operators.phrase import highlight

    docs = _docs(spark, sf_dir).where(F.col("text").contains("spark"))
    out = highlight(docs, ["spark"], number_of_fragments=0)
    return out.select("doc_id", "highlight").orderBy("doc_id").limit(50)


def t_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-pipeline URL canonicalization + registrable-domain extraction
    (crawl dedup-key prep): messy URLs (mixed-case host, default port,
    tracking params, fragment) normalize to a canonical form and group by
    registrable domain. The oracle derives the EXPECTED canonical strings
    analytically from the same construction — independent of the regex
    implementation, so a normalization bug can't cancel out."""
    from .functions.textstats import normalize_url, registrable_domain

    docs = _docs(spark, sf_dir)
    tld = F.element_at(
        F.array(F.lit("com"), F.lit("org"), F.lit("co.uk")),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    raw = F.concat(
        F.lit("HTTPS://Site"), (F.col("doc_id") % 50).cast("string"),
        F.lit(".Example."), tld, F.lit(":443/p/"), F.col("doc_id").cast("string"),
        F.lit("?id="), F.col("doc_id").cast("string"),
        F.lit("&utm_source=feed#sec"),
    )
    u = docs.select(F.col("doc_id"), raw.alias("url"))
    out = u.select(
        normalize_url("url").alias("norm"),
        registrable_domain("url").alias("domain"),
    )
    return (
        out.groupBy("domain")
        .agg(
            F.count("*").cast("long").alias("doc_count"),
            F.countDistinct("norm").alias("distinct_urls"),
        )
        .orderBy("domain")
    )


def t_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filtering: every doc scored by the perplexity
    of the corpus's own add-1-smoothed bigram LM (functions/lm.py — the LM
    is two count tables + a join, no model artifact). Oracle = the same
    counts/joins/means in SQL, so the smoothing math and the bigram
    extraction both verify value-for-value."""
    from .functions.lm import bigram_lm_score

    docs = _docs(spark, sf_dir)
    scores = bigram_lm_score(docs, key="doc_id", text_col="text")
    out = scores.join(docs.select("doc_id", "lang"), "doc_id")
    return (
        out.groupBy("lang")
        .agg(
            F.round(F.avg("perplexity"), 4).alias("avg_ppl"),
            F.count("*").cast("long").alias("doc_count"),
        )
        .orderBy("lang")
    )


def t_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate removal (jusText/readability link-density heuristic,
    functions/boilerplate.py): each doc's text is wrapped in a realistic
    page shell (nav + header + link-farm + footer), stripped, and must be
    recovered EXACTLY — the oracle checks per-lang doc counts and total
    character mass of the original text, so any chrome leakage or prose
    loss shifts the sums."""
    from .functions.boilerplate import strip_boilerplate_udf

    docs = _docs(spark, sf_dir)
    html = F.concat(
        F.lit('<html><body><nav><a href="/">Home</a> <a href="/a">About us</a>'
              '</nav><header><h1>Site</h1></header><p>'),
        F.col("text"),
        F.lit('</p><div><a href="/r1">Related one</a> <a href="/r2">'
              'Related two</a></div><footer>© corp <a href="/t">Terms</a>'
              '</footer></body></html>'),
    )
    out = docs.select("lang", strip_boilerplate_udf()(html).alias("extracted"), "text")
    return (
        out.where(F.col("extracted") == F.col("text"))  # exact recovery only
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("doc_count"),
            F.sum(F.length("extracted")).cast("long").alias("chars"),
        )
        .orderBy("lang")
    )


def m_anomaly_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x-pack ml anomaly detection, count detector split by
    partition_field_name (``x-pack/plugin/core/.../ml/job/config/Detector.java``)
    — documented robust-z batch subset (plans/ml.py): daily event counts per
    event_type; typical = per-type median bucket count, score = robust z
    (|actual − typical| / 1.4826·MAD)."""
    from .plans.ml import anomaly_detect

    return anomaly_detect(
        _events(spark, sf_dir), "ts", 86400, "count",
        partition_field="event_type", threshold=3.0,
    )


def m_anomaly_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x-pack ml anomaly detection, mean(value) detector without a split
    field — global daily mean of event values scored against the
    median/MAD baseline (plans/ml.py documented subset)."""
    from .plans.ml import anomaly_detect

    return anomaly_detect(
        _events(spark, sf_dir), "ts", 86400, "mean", field="value", threshold=3.0
    )


def m_outlier_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x-pack ml data frame analytics outlier detection
    (``x-pack/plugin/ml/.../dataframe/analyses/OutlierDetection.java``):
    exact k-NN distance methods (kth-NN distance, mean k-NN distance) and
    Local Outlier Factor, ensembled as the mean of per-method CDF ranks
    (plans/ml.py). Global exact mode here (500 vectors at sf0.01); the
    centroid-clustered bounded-pair path is the 100 TB shape (pytest)."""
    from .plans.ml import outlier_detection

    out = outlier_detection(_emb(spark, sf_dir), "vec_id", "embedding", k=5)
    return out.select(
        "vec_id",
        F.round("dist_kth_nn", 6).alias("dist_kth_nn"),
        F.round("dist_knn", 6).alias("dist_knn"),
        F.round("lof", 6).alias("lof"),
        F.round("outlier_score", 6).alias("outlier_score"),
    ).orderBy("vec_id")


def a_random_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """random_sampler agg (x-pack ``RandomSamplerAggregationBuilder``):
    probability-0.1 deterministic document sample (seeded hash coin on the
    integer key — rerun- and cluster-size-stable), sub-agg value_count
    scaled back by 1/p, avg passed through as a ratio estimator."""
    from .plans.aggs import compile_agg

    ev = _events(spark, sf_dir)
    return compile_agg(
        ev,
        "sample",
        {
            "random_sampler": {"probability": 0.1, "seed": 0, "_key_field": "event_id"},
            "aggs": {
                "n_val": {"value_count": {"field": "value"}},
                "avg_val": {"avg": {"field": "value"}},
            },
        },
    ).select("doc_count", "n_val", F.round("avg_val", 6).alias("avg_val"))


def t_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TSDB downsample (``_downsample`` API, x-pack/plugin/downsample
    DownsampleShardIndexer): one row per (_tsid = event_type, 1d bucket)
    with min/max/sum/value_count partials for the value metric."""
    from .plans.rollup import downsample

    out = downsample(_events(spark, sf_dir), "ts", "1d", ["event_type"], ["value"])
    return out.select(
        "event_type", "bucket_ts", "_doc_count",
        F.round("value_min", 6).alias("value_min"),
        F.round("value_max", 6).alias("value_max"),
        F.round("value_sum", 4).alias("value_sum"),
        "value_value_count",
    ).orderBy("event_type", "bucket_ts")


def q_esql_inlinestats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL INLINESTATS (EsqlBaseParser): per-group aggregates appended to
    every input row — groupBy + broadcast join-back, rows preserved."""
    from .plans.esql import esql

    ev = _events(spark, sf_dir)
    out = esql(spark, """
FROM events
| WHERE value >= 100
| INLINESTATS avg_v = AVG(value), n = COUNT(*) BY event_type
| EVAL rel = value / avg_v
| SORT event_id ASC
| LIMIT 100
""", {"events": ev})
    return out.select(
        "event_id", "event_type", F.round("value", 4).alias("value"),
        F.round("avg_v", 6).alias("avg_v"), "n", F.round("rel", 6).alias("rel"),
    )


def q_esql_fork(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL FORK (EsqlBaseParser forkCommand): two sub-pipelines over the
    same filtered frame — a top-5-by-value detail branch and a per-type
    stats branch — unioned by name with the `_fork` discriminator."""
    from .plans.esql import esql

    ev = _events(spark, sf_dir)
    out = esql(spark, """
FROM events
| WHERE value >= 100
| FORK (SORT value DESC, event_id ASC | LIMIT 5 | KEEP event_id, event_type, value)
       (STATS n = COUNT(*), avg_v = AVG(value) BY event_type)
""", {"events": ev})
    return out.select(
        "_fork", "event_id", "event_type", F.round("value", 4).alias("value"),
        "n", F.round("avg_v", 6).alias("avg_v"),
    ).orderBy("_fork", "event_id", "event_type")


def q_esql_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ES|QL RERANK (EsqlBaseParser rerankCommand, inference commands):
    semantic re-score of a filtered frame against a query string through
    the default deterministic hash embedder — the oracle replicates the
    ENTIRE embedding (md5 hex-digit → dimension/sign, L2 normalize,
    cosine) in SQL."""
    from .plans.esql import esql

    d = _docs(spark, sf_dir)
    out = esql(spark, """
FROM documents
| WHERE lang == "en" AND n_chars >= 400
| RERANK "spark cluster data processing" ON text
| EVAL score = ROUND(_score, 4)
| KEEP doc_id, score
""", {"documents": d})
    return out.orderBy("doc_id")


def s_quantize_int4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_vector int4 scalar quantization (``index_options.type:
    int4_flat`` — same ScalarQuantizer pipeline at 15 levels)."""
    from .operators.similarity import quantize_int4

    out = quantize_int4(_emb(spark, sf_dir), "vec_id", "embedding")
    return (
        out.select(
            "vec_id",
            F.concat_ws(",", F.col("qvec").cast("array<string>")).alias("qvec_str"),
            "recon_err",
        )
        .orderBy("vec_id")
        .limit(50)
    )


def s_bbq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BBQ binary-quantized search (``index_options.type: bbq_flat``
    lineage, simplified center-and-sign codes): hamming scan over packed
    1-bit codes for 3x-oversampled candidates, exact-cosine re-rank to
    top-10. Query = vec_id 0's embedding; means computed on the corpus."""
    from .operators.similarity import bbq_topk, dim_means

    e = _emb(spark, sf_dir)
    means = dim_means(e, "embedding")
    qv = e.where(F.col("vec_id") == 0).first()["embedding"]
    out = bbq_topk(
        e.where(F.col("vec_id") != 0), "vec_id", "embedding", qv, means,
        k=10, rerank_factor=3,
    )
    return out.select(
        "vec_id", "hamming", F.round("cosine", 4).alias("cosine")
    )


def q_rank_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_rank_eval API (modules/rank-eval): P@10 / recall@10 / MRR / DCG /
    NDCG / ERR over 3 term queries ranked by tf (deterministic), with a
    partially-labeled judgment set (docs with doc_id %% 3 == 0; graded
    rating = min(tf, 3), so rating-0 labels and unlabeled docs are both
    exercised)."""
    from pyspark.sql import Window

    from .operators.rank import rank_eval

    terms = ["spark", "vector", "stream"]
    tok = _tokenized(spark, sf_dir).select("doc_id", "toks")
    tf = (
        tok.select("doc_id", F.explode("toks").alias("w"))
        .where(F.col("w").isin(terms))
        .groupBy("w", "doc_id")
        .agg(F.count("*").alias("tf"))
    )
    w = Window.partitionBy("w").orderBy(F.desc("tf"), F.asc("doc_id"))
    results = (
        tf.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select(F.col("w").alias("query_id"), "doc_id", "rank")
    )
    qdf = spark.createDataFrame([(t,) for t in terms], "query_id string")
    ratings = (
        _docs(spark, sf_dir)
        .where(F.col("doc_id") % 3 == 0)
        .select("doc_id")
        .crossJoin(qdf)
        .join(
            tf.select(F.col("w").alias("query_id"), "doc_id", "tf"),
            ["query_id", "doc_id"],
            "left",
        )
        .select(
            "query_id", "doc_id",
            F.least(F.coalesce("tf", F.lit(0)), F.lit(3)).cast("int").alias("rating"),
        )
    )
    out = rank_eval(results, ratings, k=10)
    return out.select(
        "query_id",
        *[F.round(c, 6).alias(c)
          for c in ["p_at_k", "recall_at_k", "mrr", "dcg", "ndcg", "err"]],
    ).orderBy("query_id")


def s_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT late-interaction top-k (maxSimDotProduct): docs and query
    carry 4 sub-vectors (the 64-dim embedding viewed as 4x16 chunks —
    deterministic multi-vector synthesis); score = sum over query vectors
    of the best-matching doc vector dot product."""
    from .operators.similarity import maxsim_topk

    e = _emb(spark, sf_dir).withColumn(
        "mv",
        F.expr(
            "transform(sequence(0, 3),"
            " i -> slice(cast(embedding as array<double>), i * 16 + 1, 16))"
        ),
    )
    q = _emb(spark, sf_dir).where(F.col("vec_id") == 0).first()["embedding"]
    qs = [[float(x) for x in q[i * 16:(i + 1) * 16]] for i in range(4)]
    out = maxsim_topk(e.where(F.col("vec_id") != 0), "vec_id", "mv", qs, k=10)
    return out.select("vec_id", F.round("score", 4).alias("score"))


def s_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dense_vector int8 scalar quantization (Lucene ScalarQuantizer via
    ``index_options.type: int8_flat`` — global confidence-interval bounds,
    7-bit component range): quantized vectors + per-vector L2
    reconstruction error for the first 50 embeddings."""
    from .operators.similarity import quantize_int8

    out = quantize_int8(_emb(spark, sf_dir), "vec_id", "embedding")
    return (
        out.select(
            "vec_id",
            F.concat_ws(",", F.col("qvec").cast("array<string>")).alias("qvec_str"),
            "recon_err",
        )
        .orderBy("vec_id")
        .limit(50)
    )


def f_range_relation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range FIELD + range query ``relation`` (RangeFieldMapper.java /
    RangeType.java dvRangeQuery): each event carries an interval
    [value, value + event_id % 40]; query window [60, 90] counted under
    INTERSECTS / WITHIN / CONTAINS semantics."""
    from .plans.fields import range_relation_pred, range_struct

    ev = _events(spark, sf_dir).withColumn(
        "vr", range_struct(F.col("value"), F.col("value") + (F.col("event_id") % 40))
    )
    return ev.agg(
        F.sum(range_relation_pred("vr", 60.0, 90.0, "intersects").cast("long")).alias("n_intersects"),
        F.sum(range_relation_pred("vr", 60.0, 90.0, "within").cast("long")).alias("n_within"),
        F.sum(range_relation_pred("vr", 60.0, 90.0, "contains").cast("long")).alias("n_contains"),
    )


def f_flattened_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flattened field (x-pack FlattenedFieldMapper): events.props JSON
    indexed as one map; keyed range + prefix access per event_type."""
    from .plans.dsl import SearchContext
    from .plans.fields import FlattenedQ

    ev = _events(spark, sf_dir)
    ctx = SearchContext(df=ev, key="event_id")
    rng = FlattenedQ(fld="props", key="k", op="range", gte=10, lte=20).predicate(ctx)
    pfx = FlattenedQ(fld="props", key="k", op="prefix", value="1").predicate(ctx)
    return (
        ev.groupBy("event_type")
        .agg(
            F.sum(rng.cast("long")).alias("n_range"),
            F.sum(pfx.cast("long")).alias("n_prefix"),
        )
        .orderBy("event_type")
    )


def f_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """token_count field (mapper-extras TokenCountFieldMapper): analyzer
    token count indexed as an integer subfield, range-filtered like any
    numeric field."""
    from .plans.fields import token_count_col

    d = _docs(spark, sf_dir).withColumn("text_tc", token_count_col("text"))
    return (
        d.where((F.col("text_tc") >= 120) & (F.col("text_tc") <= 180))
        .groupBy("lang")
        .agg(F.count("*").alias("doc_count"), F.round(F.avg("text_tc"), 4).alias("avg_tokens"))
        .orderBy("lang")
    )


def f_match_only_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_only_text field (mapper-extras MatchOnlyTextFieldMapper):
    DOCS-only postings, norms omitted — per-term BM25 collapses to idf, so
    the doc score is Σ idf over matched query terms."""
    from .plans.dsl import SearchContext
    from .plans.fields import MatchOnlyTextQ

    d = _docs(spark, sf_dir)
    ctx = SearchContext(df=d, key="doc_id")
    out = MatchOnlyTextQ(text=" ".join(_OR_TERMS)).frame(ctx)
    return (
        out.orderBy(F.desc("_score"), F.asc("__key"))
        .limit(10)
        .select(F.col("__key").alias("doc_id"), F.round("_score", 4).alias("score"))
    )


def a_time_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """time_series agg (TimeSeriesAggregationBuilder.java): one bucket per
    _tsid = dimension tuple (event_type, host), ordered by tsid. groupBy
    key == tsid, so a TSDB table partitioned by dimensions aggregates
    shuffle-free."""
    from .plans.fields import time_series_agg

    ev = _events(spark, sf_dir).withColumn("host", (F.col("user_id") % 8).cast("long"))
    out = time_series_agg(
        ev,
        ["event_type", "host"],
        {"max_value": F.max("value"), "sum_value": F.sum("value")},
    )
    return out.select(
        "event_type", "host", "doc_count",
        F.round("max_value", 4).alias("max_value"),
        F.round("sum_value", 4).alias("sum_value"),
    )


def a_aggregate_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """aggregate_metric_double field (x-pack mapper-aggregate-metric):
    docs hold pre-aggregated {min,max,sum,value_count} partials (built
    here per (event_type, day) — the downsample shape); metric aggs read
    the matching subfield and re-aggregate EXACTLY (avg = Σsum/Σcount).
    The oracle aggregates the raw rows directly — equality is the
    mergeability invariant."""
    from .plans.fields import aggregate_metric_agg, aggregate_metric_struct

    ev = _events(spark, sf_dir)
    partials = (
        ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.min("value").alias("p_min"),
            F.max("value").alias("p_max"),
            F.sum("value").alias("p_sum"),
            F.count("value").alias("p_cnt"),
        )
        .select(
            "event_type",
            aggregate_metric_struct("p_min", "p_max", "p_sum", "p_cnt").alias("vm"),
        )
    )
    return (
        partials.groupBy("event_type")
        .agg(
            F.round(aggregate_metric_agg("vm", "min"), 4).alias("v_min"),
            F.round(aggregate_metric_agg("vm", "max"), 4).alias("v_max"),
            F.round(aggregate_metric_agg("vm", "sum"), 2).alias("v_sum"),
            F.round(aggregate_metric_agg("vm", "avg"), 4).alias("v_avg"),
            aggregate_metric_agg("vm", "value_count").alias("v_count"),
        )
        .orderBy("event_type")
    )


def f_unsigned_long_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unsigned_long field (x-pack mapper-unsigned-long,
    UnsignedLongFieldMapper.java:635 ``value ^ MASK_2_63``): uint64 values
    are stored as SHIFTED signed longs so native long sort/range == u64
    order. Synthetic u64s straddle 2^63 (odd ids map near 2^64-1); the
    range filter + sort run on the shifted column — a pushed-down long
    predicate — and the output decodes back to the u64 string."""
    from .plans.fields import (
        unsigned_long_decode,
        unsigned_long_encode,
        unsigned_long_range_pred,
    )

    d = _docs(spark, sf_dir)
    n = F.col("doc_id").cast("long")
    u = F.when(n % 2 == 0, n.cast("decimal(20,0)")).otherwise(
        F.lit("18446744073709551615").cast("decimal(20,0)") - n.cast("decimal(20,0)")
    )
    enc = d.select("doc_id", unsigned_long_encode(u).alias("u_enc"))
    return (
        enc.where(unsigned_long_range_pred("u_enc", gte=2**63))
        .orderBy(F.desc("u_enc"), F.asc("doc_id"))
        .limit(10)
        .select("doc_id", unsigned_long_decode("u_enc").cast("string").alias("uval"))
    )


def f_version_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """version field (x-pack mapper-version VersionStringFieldMapper):
    semver-ordered sort via a fixed-width encoded sort key; pre-releases
    rank below their release. The oracle sorts by TRUE version order
    (numeric parts + prerelease flag) — agreement validates the encoding,
    not just the arithmetic."""
    from .plans.fields import version_sort_key

    ev = _events(spark, sf_dir).withColumn(
        "version",
        F.concat_ws(
            "",
            F.concat_ws(
                ".",
                (F.col("user_id") % 3 + 1).cast("string"),
                (F.col("event_id") % 12).cast("string"),
                (F.floor("value").cast("long") % 10).cast("string"),
            ),
            F.when(F.col("event_id") % 7 == 0, F.lit("-alpha"))
            .when(F.col("event_id") % 7 == 1, F.lit("-beta.2"))
            .otherwise(F.lit("")),
        ),
    )
    return (
        ev.orderBy(version_sort_key("version").asc(), F.asc("event_id"))
        .limit(30)
        .select("event_id", "version")
    )


def p_ingest_geoip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geoip ingest processor (modules/ingest-geoip GeoIpProcessor.java):
    network-block database lookup as a BUCKETED broadcast range join —
    blocks split at /8 boundaries carry an equi-join bucket key, so the
    lookup is a BroadcastHashJoin + residual range filter, never a
    nested-loop range join. IPs synthesized deterministically from event
    attrs; the oracle computes the same block arithmetic directly."""
    from .sources.geoip import fake_geoip_db, geoip_lookup, prepare_geoip_blocks

    ev = _events(spark, sf_dir).withColumn(
        "ip",
        F.concat_ws(
            ".",
            (F.col("user_id") % 223 + 1).cast("string"),
            (F.col("event_id") % 256).cast("string"),
            (F.floor(F.col("event_id") / 256) % 256).cast("string"),
            (F.col("user_id") % 254 + 1).cast("string"),
        ),
    )
    blocks = prepare_geoip_blocks(fake_geoip_db(spark))
    out = geoip_lookup(ev, "ip", blocks, target_field="geoip")
    return (
        out.groupBy(F.col("geoip.country_iso_code").alias("country"))
        .agg(F.count("*").alias("doc_count"))
        .orderBy(F.desc("doc_count"), F.asc("country"))
        .limit(20)
    )


_LTR_MODEL = {
    "trained_models": [
        {
            "feature_names": ["f_dl", "f_tf"],
            "tree_structure": [
                {"node_index": 0, "split_feature": 1, "threshold": 2.0,
                 "left_child": 1, "right_child": 2},
                {"node_index": 1, "split_feature": 0, "threshold": 300.0,
                 "left_child": 3, "right_child": 4},
                {"node_index": 2, "leaf_value": 1.5, "left_child": -1},
                {"node_index": 3, "leaf_value": 0.2, "left_child": -1},
                {"node_index": 4, "leaf_value": 0.6, "left_child": -1},
            ],
        },
        {
            "feature_names": ["f_dl", "f_tf"],
            "tree_structure": [
                {"node_index": 0, "split_feature": 1, "threshold": 0.0,
                 "left_child": 1, "right_child": 2},
                {"node_index": 1, "leaf_value": -0.5, "left_child": -1},
                {"node_index": 2, "split_feature": 1, "threshold": 4.0,
                 "left_child": 3, "right_child": 4},
                {"node_index": 3, "leaf_value": 0.8, "left_child": -1},
                {"node_index": 4, "leaf_value": 1.2, "left_child": -1},
            ],
        },
    ],
    "aggregate_output": {"weighted_sum": {"weights": [1.0, 2.0]}},
}


def q_ltr_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learning-to-rank rescore: top-30 hits by term frequency of 'data',
    the top-10 window re-scored by a two-tree regression ensemble over
    (doc length, tf) features — ml inference Tree/Ensemble semantics
    (x-pack/plugin/core/.../trainedmodel/tree/Tree.java, ensemble/
    Ensemble.java) inside the rescore-window contract
    (server/.../search/rescore/QueryRescorer.java). The tree is compiled
    to a CASE-WHEN projection; the oracle hand-writes the same trees."""
    from .operators import ltr

    feats = _docs(spark, sf_dir).select(
        "doc_id", F.expr(_TOK_SPARK).alias("toks")
    ).select(
        "doc_id",
        F.size("toks").cast("double").alias("f_dl"),
        F.expr("cast(size(filter(toks, t -> t = 'data')) as double)").alias("f_tf"),
    )
    hits = (
        feats.orderBy(F.desc("f_tf"), F.asc("doc_id"))
        .limit(30)
        .withColumn("_score", F.col("f_tf"))
    )
    out = ltr.ltr_rescore(hits, _LTR_MODEL, id_col="doc_id", window_size=10)
    return out.select(
        "doc_id", F.col("_rank").cast("long").alias("rank"),
        F.round("_rescored", 4).alias("rescored"),
    ).orderBy("rank")


def t_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection (Xie et al. 2023): hashed unigram+bigram
    bag-of-ngrams target/raw models over documents (target = src0/src1),
    per-doc log importance weight, deterministic Gumbel-top-k resample of
    50 docs. Bucket tables ≤512 rows (broadcast); top-k is
    TakeOrderedAndProject — the 100 TB shape."""
    from .operators.sampling import dsir_resample

    raw = _docs(spark, sf_dir)
    tgt = raw.where(F.col("source").isin("src0", "src1"))
    out = dsir_resample(raw, tgt, "doc_id", "text", k=50, buckets=512)
    return out.select(
        "doc_id", F.round("logw", 4).alias("logw"), F.round("gkey", 4).alias("gkey")
    ).orderBy(F.desc("gkey"), F.asc("doc_id"))


_DSIR_BUCKET_SQL = " + ".join(
    f"(strpos('0123456789abcdef', substring(h, {d}, 1)) - 1) * {16 ** (8 - d)}"
    for d in range(1, 9)
)


def x_transform_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x-pack transform pivot (x-pack/plugin/core/.../transforms/pivot/
    PivotConfig.java): entity-centric materialization of events into one row
    per (user, day) with metric + exact-cardinality aggs. One partial/final
    groupBy — scale-safe at any source size."""
    from .plans import transform as xform

    cfg = {
        "group_by": {
            "user": {"terms": {"field": "user_id"}},
            "day": {"date_histogram": {"field": "ts", "calendar_interval": "1d"}},
        },
        "aggregations": {
            "avg_value": {"avg": {"field": "value"}},
            "total": {"sum": {"field": "value"}},
            "n_events": {"value_count": {"field": "event_id"}},
            "n_types": {"cardinality": {"field": "event_type"}},
        },
    }
    out = xform.pivot(_events(spark, sf_dir), cfg)
    return (
        out.where(F.col("user") < 40)
        .select(
            "user",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.round("avg_value", 4).alias("avg_value"),
            F.round("total", 4).alias("total"),
            "n_events",
            "n_types",
        )
        .orderBy("user", "day")
    )


def x_transform_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """x-pack transform latest (.../transforms/latest/LatestConfig.java):
    newest event per (user_id, event_type) by ts — max_by(struct) groupBy,
    no global window sort; deterministic event_id tie-break."""
    from .plans import transform as xform

    out = xform.latest(
        _events(spark, sf_dir), {"unique_key": ["user_id", "event_type"], "sort": "ts"}
    )
    return (
        out.where(F.col("user_id") < 40)
        .select(
            "user_id",
            "event_type",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
            F.round("value", 4).alias("value"),
        )
        .orderBy("user_id", "event_type")
    )


def x_transform_checkpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous transform checkpoint cycle (TransformIndexer.java change
    detection): bootstrap the dest from the first half of the stream, then run
    one incremental cycle over the full source — only entities with documents
    past the checkpoint are re-aggregated (over the full source, so even
    cardinality stays exact) and upserted. The oracle is the from-scratch
    batch pivot: incremental MUST equal batch."""
    from .plans import transform as xform

    cfg = {
        "group_by": {"user": {"terms": {"field": "user_id"}}},
        "aggregations": {
            "n_events": {"value_count": {"field": "event_id"}},
            "n_types": {"cardinality": {"field": "event_type"}},
            "max_value": {"max": {"field": "value"}},
        },
    }
    e = _events(spark, sf_dir)
    first = e.where(F.col("ts") < "2024-01-15 00:00:00")
    dest, ckpt = xform.apply_checkpoint(first, None, cfg, "ts", None)
    dest2, _ = xform.apply_checkpoint(e, dest, cfg, "ts", ckpt)
    return (
        dest2.select(
            "user", "n_events", "n_types", F.round("max_value", 4).alias("max_value")
        ).orderBy("user")
    )


ORACLES: dict[str, str] = {
    "ltr_rescore": """
WITH f AS (
  SELECT doc_id, len(toks)::DOUBLE AS f_dl,
         len(list_filter(toks, t -> t = 'data'))::DOUBLE AS f_tf
  FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents)
),
h AS (SELECT * FROM f ORDER BY f_tf DESC, doc_id LIMIT 30),
r AS (SELECT *, ROW_NUMBER() OVER (ORDER BY f_tf DESC, doc_id) AS base_rank FROM h),
s AS (
  SELECT doc_id, base_rank,
    CASE WHEN base_rank <= 10 THEN
      1.0 * (CASE WHEN f_tf <= 2.0 THEN
               (CASE WHEN f_dl <= 300.0 THEN 0.2 ELSE 0.6 END)
             ELSE 1.5 END)
      + 2.0 * (CASE WHEN f_tf <= 0.0 THEN -0.5
               ELSE (CASE WHEN f_tf <= 4.0 THEN 0.8 ELSE 1.2 END) END)
    ELSE f_tf END AS rescored
  FROM r
)
SELECT doc_id,
       ROW_NUMBER() OVER (ORDER BY
         (CASE WHEN base_rank <= 10 THEN 0 ELSE 1 END),
         (CASE WHEN base_rank <= 10 THEN rescored END) DESC NULLS LAST,
         (CASE WHEN base_rank > 10 THEN base_rank END) ASC NULLS FIRST,
         doc_id) AS rank,
       ROUND(rescored, 4) AS rescored
FROM s ORDER BY rank
""",
    "sample_dsir": f"""
WITH toked AS (
  SELECT doc_id, source, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents
),
grams AS (
  SELECT doc_id, source,
         unnest(t || list_transform(range(len(t) - 1),
                                    i -> t[i+1] || ' ' || t[i+2])) AS g
  FROM toked
),
b AS (
  SELECT doc_id, source, ({_DSIR_BUCKET_SQL}) % 512 AS bucket
  FROM (SELECT doc_id, source, md5(g) AS h FROM grams)
),
ct AS (SELECT bucket, count(*)::DOUBLE AS ct FROM b
       WHERE source IN ('src0', 'src1') GROUP BY 1),
cq AS (SELECT bucket, count(*)::DOUBLE AS cq FROM b GROUP BY 1),
tot AS (SELECT (SELECT sum(ct) FROM ct) AS nt, (SELECT sum(cq) FROM cq) AS nq),
ratio AS (
  SELECT cq.bucket,
         ln((coalesce(ct.ct, 0) + 0.5) / (tot.nt + 256.0))
         - ln((cq.cq + 0.5) / (tot.nq + 256.0)) AS lr
  FROM cq LEFT JOIN ct USING (bucket), tot
),
w AS (SELECT b.doc_id, sum(r.lr) AS logw FROM b JOIN ratio r USING (bucket) GROUP BY 1),
g AS (
  SELECT doc_id, logw,
         logw - ln(-ln((((doc_id % 2147483647) * 2654435761 + 101) % 2147483647 + 1)
                       / 2147483649.0)) AS gkey
  FROM w
)
SELECT doc_id, ROUND(logw, 4) AS logw, ROUND(gkey, 4) AS gkey
FROM g ORDER BY gkey DESC, doc_id LIMIT 50
""",
    "transform_pivot": """
SELECT user_id AS user, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
       ROUND(AVG(value), 4) AS avg_value, ROUND(SUM(value), 4) AS total,
       COUNT(event_id) AS n_events, COUNT(DISTINCT event_type) AS n_types
FROM events WHERE user_id < 40
GROUP BY 1, 2 ORDER BY 1, 2
""",
    "transform_latest": """
SELECT user_id, event_type, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
       ROUND(value, 4) AS value
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
WHERE rn = 1 AND user_id < 40
ORDER BY user_id, event_type
""",
    "transform_checkpoint": """
SELECT user_id AS user, COUNT(event_id) AS n_events,
       COUNT(DISTINCT event_type) AS n_types, ROUND(MAX(value), 4) AS max_value
FROM events GROUP BY 1 ORDER BY 1
""",
    "ingest_geoip": """
WITH ip AS (
  SELECT (user_id % 223 + 1) AS o1, (event_id % 256) AS o2
  FROM events
),
looked AS (
  SELECT 'C' || ((2 * o1 + CASE WHEN o2 >= 128 THEN 1 ELSE 0 END) % 97) AS country
  FROM ip
)
SELECT country, count(*)::BIGINT AS doc_count
FROM looked GROUP BY country
ORDER BY doc_count DESC, country ASC LIMIT 20
""",
    "field_range_relation": """
SELECT
  sum(CASE WHEN value <= 90 AND value + (event_id % 40) >= 60 THEN 1 ELSE 0 END)::BIGINT AS n_intersects,
  sum(CASE WHEN value >= 60 AND value + (event_id % 40) <= 90 THEN 1 ELSE 0 END)::BIGINT AS n_within,
  sum(CASE WHEN value <= 60 AND value + (event_id % 40) >= 90 THEN 1 ELSE 0 END)::BIGINT AS n_contains
FROM events
""",
    "field_flattened_query": """
SELECT event_type,
  sum(CASE WHEN json_extract_string(props, '$.k')::DOUBLE BETWEEN 10 AND 20 THEN 1 ELSE 0 END)::BIGINT AS n_range,
  sum(CASE WHEN json_extract_string(props, '$.k') LIKE '1%' THEN 1 ELSE 0 END)::BIGINT AS n_prefix
FROM events GROUP BY event_type ORDER BY event_type
""",
    "field_token_count": f"""
WITH tc AS (SELECT lang, len({_TOK_SQL}) AS text_tc FROM documents)
SELECT lang, count(*)::BIGINT AS doc_count, round(avg(text_tc), 4) AS avg_tokens
FROM tc WHERE text_tc >= 120 AND text_tc <= 180
GROUP BY lang ORDER BY lang
""",
    "match_only_text_score": f"""
WITH tok AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
coll AS (SELECT count(*)::DOUBLE AS n_docs FROM tok),
pres AS (
  SELECT DISTINCT doc_id, term
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term IN ({", ".join(f"'{t}'" for t in _OR_TERMS)})
),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM pres GROUP BY 1),
scored AS (
  SELECT p.doc_id,
         sum(ln(1.0 + (coll.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))) AS s
  FROM pres p JOIN dfs USING (term) CROSS JOIN coll GROUP BY p.doc_id
)
SELECT doc_id, round(s, 4) AS score FROM scored
ORDER BY round(s, 6) DESC, doc_id ASC LIMIT 10
""",
    "agg_time_series": """
SELECT event_type, (user_id % 8)::BIGINT AS host, count(*)::BIGINT AS doc_count,
       round(max(value), 4) AS max_value, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY event_type, host
""",
    "agg_aggregate_metric": """
SELECT event_type,
       round(min(value), 4) AS v_min, round(max(value), 4) AS v_max,
       round(sum(value), 2) AS v_sum, round(avg(value), 4) AS v_avg,
       count(value)::BIGINT AS v_count
FROM events GROUP BY event_type ORDER BY event_type
""",
    "field_unsigned_long_sort": """
WITH ids AS (SELECT doc_id, doc_id::BIGINT AS n FROM documents),
u AS (SELECT doc_id,
             CASE WHEN n % 2 = 0 THEN n::HUGEINT
                  ELSE 18446744073709551615::HUGEINT - n END AS uval
      FROM ids)
SELECT doc_id, CAST(uval AS VARCHAR) AS uval FROM u
WHERE uval >= 9223372036854775808::HUGEINT
ORDER BY uval DESC, doc_id ASC LIMIT 10
""",
    "field_version_sort": """
WITH v AS (
  SELECT event_id,
         ((user_id % 3) + 1)::VARCHAR || '.' || (event_id % 12)::VARCHAR || '.'
           || (floor(value)::BIGINT % 10)::VARCHAR
           || (CASE WHEN event_id % 7 = 0 THEN '-alpha'
                    WHEN event_id % 7 = 1 THEN '-beta.2' ELSE '' END) AS version
  FROM events
),
parts AS (
  SELECT event_id, version, split_part(version, '-', 1) AS core,
         CASE WHEN version LIKE '%-%' THEN split_part(version, '-', 2) END AS pre
  FROM v
)
SELECT event_id, version FROM parts
ORDER BY split_part(core, '.', 1)::BIGINT, split_part(core, '.', 2)::BIGINT,
         split_part(core, '.', 3)::BIGINT, (pre IS NULL), pre, event_id
LIMIT 30
""",
    "agg_random_sampler": """
WITH s AS (SELECT * FROM events
           WHERE ((event_id % 1000003) * 7919 + 0) % 1000000 < 100000)
SELECT round(count(*) / 0.1)::BIGINT AS doc_count,
       round(count(value) / 0.1)::BIGINT AS n_val,
       round(avg(value), 6) AS avg_val
FROM s
""",
    "tsdb_downsample": """
SELECT event_type, (floor(epoch(ts) / 86400) * 86400)::BIGINT AS bucket_ts,
       count(*)::BIGINT AS _doc_count,
       round(min(value), 6) AS value_min, round(max(value), 6) AS value_max,
       round(sum(value), 4) AS value_sum,
       count(value)::BIGINT AS value_value_count
FROM events GROUP BY 1, 2 ORDER BY event_type, bucket_ts
""",
    "esql_fork": """
WITH f AS (SELECT * FROM events WHERE value >= 100),
b1 AS (
  SELECT 'fork1' AS _fork, event_id, event_type, round(value, 4) AS value,
         NULL::BIGINT AS n, NULL::DOUBLE AS avg_v
  FROM f ORDER BY f.value DESC, event_id ASC LIMIT 5),
b2 AS (
  SELECT 'fork2' AS _fork, NULL::BIGINT AS event_id, event_type,
         NULL::DOUBLE AS value, count(*)::BIGINT AS n,
         round(avg(value), 6) AS avg_v
  FROM f GROUP BY event_type)
SELECT * FROM b1 UNION ALL SELECT * FROM b2
ORDER BY _fork, event_id, event_type
""",
    "esql_rerank": """
WITH f AS (
  SELECT doc_id, text FROM documents WHERE lang = 'en' AND n_chars >= 400),
dt AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM f),
dh AS (
  SELECT doc_id,
    ((strpos('0123456789abcdef', substring(md5(tok), 15, 1)) - 1) * 16
     + (strpos('0123456789abcdef', substring(md5(tok), 16, 1)) - 1)) % 64 AS dim,
    CASE WHEN (strpos('0123456789abcdef', substring(md5(tok), 14, 1)) - 1) % 2 = 1
         THEN 1.0 ELSE -1.0 END AS sgn
  FROM dt),
dv AS (SELECT doc_id, dim, sum(sgn) AS v FROM dh GROUP BY doc_id, dim),
dn AS (SELECT doc_id, sqrt(sum(v * v)) AS n FROM dv GROUP BY doc_id),
qt AS (SELECT unnest(regexp_extract_all('spark cluster data processing',
                                        '[a-z0-9]+')) AS tok),
qh AS (
  SELECT
    ((strpos('0123456789abcdef', substring(md5(tok), 15, 1)) - 1) * 16
     + (strpos('0123456789abcdef', substring(md5(tok), 16, 1)) - 1)) % 64 AS dim,
    CASE WHEN (strpos('0123456789abcdef', substring(md5(tok), 14, 1)) - 1) % 2 = 1
         THEN 1.0 ELSE -1.0 END AS sgn
  FROM qt),
qv AS (SELECT dim, sum(sgn) AS v FROM qh GROUP BY dim),
qn AS (SELECT sqrt(sum(v * v)) AS n FROM qv),
s AS (
  SELECT dv.doc_id, sum(dv.v * qv.v) AS dot
  FROM dv JOIN qv USING (dim) GROUP BY dv.doc_id)
SELECT f.doc_id,
       round(coalesce(s.dot / nullif(dn.n * (SELECT n FROM qn), 0), 0), 4) AS score
FROM f JOIN dn USING (doc_id) LEFT JOIN s USING (doc_id)
ORDER BY doc_id
""",
    "esql_inlinestats": """
WITH f AS (SELECT * FROM events WHERE value >= 100),
g AS (SELECT event_type, avg(value) AS avg_v, count(*)::BIGINT AS n
      FROM f GROUP BY 1)
SELECT event_id, f.event_type, round(value, 4) AS value,
       round(avg_v, 6) AS avg_v, n, round(value / avg_v, 6) AS rel
FROM f JOIN g USING (event_type)
ORDER BY event_id LIMIT 100
""",
    "ml_anomaly_count": """
WITH b AS (
  SELECT event_type, (floor(epoch(ts) / 86400) * 86400)::BIGINT AS bucket_ts,
         count(*)::DOUBLE AS actual
  FROM events GROUP BY 1, 2),
m AS (SELECT event_type, quantile_cont(actual, 0.5) AS med FROM b GROUP BY 1),
j AS (SELECT b.*, m.med FROM b JOIN m USING (event_type)),
md AS (SELECT event_type, quantile_cont(abs(actual - med), 0.5) AS mad
       FROM j GROUP BY 1)
SELECT j.event_type, bucket_ts, round(actual, 6) AS actual,
       round(med, 6) AS typical,
       round(abs(actual - med) / (1.4826 * mad + 1e-9), 6) AS score,
       abs(actual - med) / (1.4826 * mad + 1e-9) >= 3.0 AS is_anomaly
FROM j JOIN md USING (event_type)
ORDER BY event_type, bucket_ts
""",
    "ml_anomaly_mean": """
WITH b AS (
  SELECT (floor(epoch(ts) / 86400) * 86400)::BIGINT AS bucket_ts,
         avg(value) AS actual
  FROM events GROUP BY 1),
m AS (SELECT quantile_cont(actual, 0.5) AS med FROM b),
j AS (SELECT b.*, m.med FROM b, m),
md AS (SELECT quantile_cont(abs(actual - med), 0.5) AS mad FROM j)
SELECT bucket_ts, round(actual, 6) AS actual, round(med, 6) AS typical,
       round(abs(actual - med) / (1.4826 * mad + 1e-9), 6) AS score,
       abs(actual - med) / (1.4826 * mad + 1e-9) >= 3.0 AS is_anomaly
FROM j, md ORDER BY bucket_ts
""",
    "ml_outlier_detection": """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
p AS (
  SELECT a.vec_id AS a, b.vec_id AS b,
         sqrt(list_sum(list_transform(list_zip(a.v, b.v),
              z -> (z[1] - z[2]) * (z[1] - z[2])))) AS dist
  FROM v a JOIN v b ON a.vec_id <> b.vec_id),
knn AS (
  SELECT * FROM (
    SELECT a, b, dist,
           row_number() OVER (PARTITION BY a ORDER BY dist ASC, b ASC) AS rn
    FROM p) WHERE rn <= 5),
per AS (SELECT a, max(dist) AS dist_kth_nn, avg(dist) AS dist_knn
        FROM knn GROUP BY a),
lrd AS (
  SELECT knn.a, 1.0 / avg(greatest(knn.dist, kb.dist_kth_nn)) AS lrd
  FROM knn JOIN per kb ON knn.b = kb.a GROUP BY knn.a),
lof AS (
  SELECT knn.a, avg(lb.lrd) / max(la.lrd) AS lof
  FROM knn JOIN lrd lb ON knn.b = lb.a JOIN lrd la ON knn.a = la.a
  GROUP BY knn.a),
sc AS (
  SELECT per.a, per.dist_kth_nn, per.dist_knn, lof.lof,
         (cume_dist() OVER (ORDER BY per.dist_kth_nn)
        + cume_dist() OVER (ORDER BY per.dist_knn)
        + cume_dist() OVER (ORDER BY lof.lof)) / 3.0 AS outlier_score
  FROM per JOIN lof ON per.a = lof.a)
SELECT a AS vec_id, round(dist_kth_nn, 6) AS dist_kth_nn,
       round(dist_knn, 6) AS dist_knn, round(lof, 6) AS lof,
       round(outlier_score, 6) AS outlier_score
FROM sc ORDER BY vec_id
""",
    "sim_quantize_int8": """
WITH c AS (SELECT unnest(embedding)::DOUBLE AS x FROM embeddings),
b AS (SELECT quantile_cont(x, 0.01) AS lo, quantile_cont(x, 0.99) AS hi FROM c),
q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> (least(127, greatest(0, floor((x - lo) / (hi - lo) * 127 + 0.5))))::INT) AS qv,
         embedding::DOUBLE[] AS v, lo, hi
  FROM embeddings, b)
SELECT vec_id, array_to_string(qv, ',') AS qvec_str,
       round(sqrt(list_sum(list_transform(
         list_zip(v, list_transform(qv, qq -> lo + qq * (hi - lo) / 127)),
         p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) AS recon_err
FROM q ORDER BY vec_id LIMIT 50
""",
    "match_or_bm25": _bm25_sql(_OR_TERMS),
    "rrf_hybrid": _bm25_cte(_OR_TERMS, msm=1) + """,
bmr AS (
  SELECT doc_id, row_number() OVER (ORDER BY round(score_raw, 6) DESC, doc_id ASC) AS rnk
  FROM scored
),
qv AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
cos AS (
  SELECT vec_id AS doc_id,
         list_dot_product(embedding::DOUBLE[], qv) /
         (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
          sqrt(list_dot_product(qv, qv))) AS s
  FROM embeddings CROSS JOIN qv
  WHERE vec_id != 0  -- the query vector must not fuse with itself
),
cosr AS (
  SELECT doc_id, row_number() OVER (ORDER BY round(s, 6) DESC, doc_id ASC) AS rnk
  FROM cos
),
u AS (
  SELECT doc_id, 1.0 / (60 + rnk) AS c FROM bmr WHERE rnk <= 50
  UNION ALL
  SELECT doc_id, 1.0 / (60 + rnk) AS c FROM cosr WHERE rnk <= 50
)
SELECT doc_id, round(sum(c), 6) AS rrf_score, count(*)::INT AS matched_rankers
FROM u GROUP BY doc_id
ORDER BY rrf_score DESC, doc_id ASC LIMIT 10
""",
    "termvectors": f"""
WITH tok AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
one AS (
  SELECT unnest(toks) AS term, generate_subscripts(toks, 1) - 1 AS pos
  FROM tok WHERE doc_id = 42
),
tv AS (
  SELECT term, count(*)::BIGINT AS term_freq,
         string_agg(pos::VARCHAR, ',' ORDER BY pos) AS positions
  FROM one GROUP BY term
),
dfs AS (
  SELECT term, count(*)::BIGINT AS doc_freq
  FROM (SELECT DISTINCT doc_id, unnest(list_distinct(toks)) AS term FROM tok)
  GROUP BY term
)
SELECT tv.term, term_freq, positions, doc_freq
FROM tv JOIN dfs USING (term) ORDER BY tv.term
""",
    "agg_geo_distance": """
WITH pts AS (
  SELECT event_id, value, value % 360 - 180 AS lon, value % 170 - 85 AS lat
  FROM events
),
d AS (
  SELECT value,
         2.0 * 6371008.8 * asin(sqrt(
           pow(sin(radians(lat) / 2), 2) +
           cos(radians(lat)) * pow(sin(radians(lon) / 2), 2)
         )) / 1000.0 AS dist
  FROM pts
),
r AS (
  SELECT CASE WHEN dist < 11000 THEN '*-11000.0'
              WHEN dist < 13000 THEN '11000.0-13000.0'
              ELSE '13000.0-*' END AS key, value
  FROM d
)
SELECT key, count(*)::BIGINT AS doc_count, round(avg(value), 4) AS avg_value
FROM r GROUP BY key ORDER BY key
""",
    "dsl_sparse_vector": f"""
WITH tok AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term IN ('spark', 'merge', 'vector') GROUP BY 1, 2
),
w AS (SELECT * FROM (VALUES ('spark', 2.0), ('merge', 1.0), ('vector', 0.5)) AS t(term, w)),
s AS (SELECT doc_id, sum(tf * w) AS score_raw FROM tf JOIN w USING (term) GROUP BY doc_id)
SELECT doc_id, round(score_raw, 4) AS score FROM s WHERE score_raw > 0
ORDER BY score_raw DESC, doc_id LIMIT 10
""",
    "esql_stats": """
SELECT cast(ts AS DATE) AS day, event_type, count(*)::BIGINT AS n,
       round(sum(value * 2), 4) AS total,
       count(DISTINCT user_id)::BIGINT AS users
FROM events
WHERE event_type LIKE 'c%' AND value >= 10
GROUP BY 1, 2 ORDER BY day, event_type LIMIT 50
""",
    "sample_decontaminate": f"""
WITH tok AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
dg AS (
  SELECT doc_id, unnest(list_transform(range(len(toks) - 7),
         i -> md5(array_to_string(list_slice(toks, i + 1, i + 8), ' ')))) AS g
  FROM tok WHERE len(toks) >= 8
),
pg AS (SELECT DISTINCT g FROM dg WHERE doc_id < 5)
SELECT DISTINCT doc_id FROM dg JOIN pg USING (g) ORDER BY doc_id
""",
    "sample_domain_cap": """
WITH r AS (
  SELECT doc_id, source,
         row_number() OVER (PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
  FROM documents
)
SELECT doc_id, source FROM r WHERE rn <= 20 ORDER BY source, doc_id
""",
    "sample_source_mix": """
SELECT doc_id, source FROM documents
WHERE (doc_id % 100) <
      (CASE source WHEN 'src1' THEN 0.25 WHEN 'src3' THEN 0.5 ELSE 0.9 END) * 100
ORDER BY doc_id
""",
    "sample_pack_sequences": f"""
WITH d AS (
  SELECT doc_id, len({_TOK_SQL})::BIGINT AS n_tokens FROM documents
),
c AS (
  SELECT doc_id, n_tokens,
         coalesce(sum(n_tokens) OVER (ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
  FROM d
)
SELECT doc_id, n_tokens, (cum_before // 256)::BIGINT AS seq_id,
       (cum_before % 256)::BIGINT AS seq_offset
FROM c ORDER BY doc_id
""",
    "agg_cumulative_cardinality": """
WITH b AS (
  SELECT cast(ts AS DATE) AS day, count(*)::BIGINT AS doc_count,
         count(DISTINCT user_id)::BIGINT AS users
  FROM events GROUP BY 1
),
f AS (SELECT user_id, min(cast(ts AS DATE)) AS day FROM events GROUP BY 1),
n AS (SELECT day, count(*)::BIGINT AS nn FROM f GROUP BY 1)
SELECT b.day, b.doc_count, b.users,
       (sum(coalesce(n.nn, 0)) OVER (ORDER BY b.day))::BIGINT AS total_users
FROM b LEFT JOIN n USING (day) ORDER BY b.day
""",
    "match_and_bm25": _bm25_sql(_AND_TERMS, msm=len(_AND_TERMS)),
    "match_msm_bm25": _bm25_sql(_MSM_TERMS, msm=3),
    "bool_filtered_bm25": _bm25_sql(
        _FILTER_TERMS, extra_pred="AND d.lang = 'en' AND d.n_chars BETWEEN 100 AND 400"
    ),
    "match_phrase": f"""
SELECT doc_id, lang FROM (
  SELECT doc_id, lang, ' ' || array_to_string({_TOK_SQL}, ' ') || ' ' AS ts FROM documents
) WHERE ts LIKE '% group order %' ORDER BY doc_id
""",
    "term_query_agg": f"""
SELECT lang, count(*)::BIGINT AS doc_count FROM (
  SELECT doc_id, lang, {_TOK_SQL} AS toks FROM documents
) WHERE list_contains(toks, 'vector')
GROUP BY lang ORDER BY doc_count DESC, lang ASC
""",
    "prefix_query": f"""
SELECT term, count(*)::BIGINT AS df FROM (
  SELECT DISTINCT doc_id, unnest(list_distinct({_TOK_SQL})) AS term FROM documents
) WHERE term LIKE 's%' GROUP BY term ORDER BY df DESC, term ASC
""",
    "fuzzy_query": f"""
SELECT term, count(*)::BIGINT AS df FROM (
  SELECT DISTINCT doc_id, unnest(list_distinct({_TOK_SQL})) AS term FROM documents
) WHERE levenshtein(term, 'spark') <= 1 GROUP BY term ORDER BY df DESC, term ASC
""",
    "range_query_events": """
SELECT cast(ts AS DATE) AS day, count(*)::BIGINT AS hits, round(sum(value), 4) AS total
FROM events WHERE event_type = 'purchase' AND value BETWEEN 10.0 AND 500.0
GROUP BY 1 ORDER BY day
""",
    "ids_query": """
SELECT doc_id, lang, source, n_chars FROM documents
WHERE doc_id IN (3, 7, 11, 13) ORDER BY doc_id
""",
    "wildcard_query": """
SELECT source, count(*)::BIGINT AS doc_count FROM documents
WHERE source LIKE 'src1%' GROUP BY source ORDER BY source
""",
    "dsl_lookup_fields": """
SELECT c.c_mktsegment AS segment, count(*)::BIGINT AS n_events
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_mktsegment ORDER BY segment NULLS FIRST
""",
    "terms_lookup": """
SELECT event_type, count(*)::BIGINT AS hits FROM events
WHERE user_id IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
GROUP BY event_type ORDER BY event_type
""",
    "agg_terms": """
SELECT lang, count(*)::BIGINT AS doc_count FROM documents
GROUP BY lang ORDER BY doc_count DESC, lang ASC LIMIT 10
""",
    "agg_date_histogram": """
SELECT cast(ts AS DATE) AS day, count(*)::BIGINT AS doc_count,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY 1 ORDER BY day
""",
    "agg_histogram": """
SELECT (floor(n_chars / 100) * 100)::BIGINT AS bucket, count(*)::BIGINT AS doc_count
FROM documents GROUP BY 1 ORDER BY bucket
""",
    "agg_stats": """
SELECT event_type, count(value)::BIGINT AS cnt, round(min(value), 4) AS min_v,
       round(max(value), 4) AS max_v, round(sum(value), 4) AS sum_v,
       round(avg(value), 4) AS avg_v
FROM events GROUP BY event_type ORDER BY event_type
""",
    "agg_extended_stats": """
SELECT lang, count(*)::BIGINT AS cnt, round(var_pop(n_chars), 4) AS var_p,
       round(stddev_pop(n_chars), 4) AS std_p
FROM documents GROUP BY lang ORDER BY lang
""",
    "agg_percentiles": """
SELECT event_type, round(quantile_cont(value, 0.25), 4) AS p25,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.75), 4) AS p75
FROM events GROUP BY event_type ORDER BY event_type
""",
    "agg_cardinality": """
SELECT event_type, count(DISTINCT user_id)::BIGINT AS users
FROM events GROUP BY event_type ORDER BY event_type
""",
    "agg_top_hits": """
SELECT lang, rank, doc_id, n_chars FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY n_chars DESC, doc_id ASC)::INT AS rank
  FROM documents
) WHERE rank <= 3 ORDER BY lang, rank
""",
    "agg_collapse": """
SELECT source, doc_id, n_chars FROM (
  SELECT source, doc_id, n_chars,
         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rn
  FROM documents
) WHERE rn = 1 ORDER BY source
""",
    "agg_value_count_missing": """
SELECT count(props)::BIGINT AS value_count,
       sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)::BIGINT AS missing
FROM events
""",
    "agg_weighted_avg": """
SELECT event_type,
       round(sum(value * ((user_id % 5 + 1)::DOUBLE)) / sum((user_id % 5 + 1)::DOUBLE), 4) AS wavg
FROM events GROUP BY event_type ORDER BY event_type
""",
    "agg_composite": """
SELECT lang, source, count(*)::BIGINT AS doc_count FROM documents
GROUP BY lang, source
HAVING (lang > 'en') OR (lang = 'en' AND source > 'src12')
ORDER BY lang, source LIMIT 15
""",
    "agg_filters": """
SELECT sum(CASE WHEN value < 10 THEN 1 ELSE 0 END)::BIGINT AS small,
       sum(CASE WHEN value >= 10 AND value < 100 THEN 1 ELSE 0 END)::BIGINT AS mid,
       sum(CASE WHEN value >= 100 THEN 1 ELSE 0 END)::BIGINT AS large
FROM events
""",
    "agg_range": """
WITH rg AS (
  SELECT * FROM (VALUES ('0-200', 0, 200), ('100-400', 100, 400),
                        ('300-inf', 300, 1000000000)) AS t(bucket, lo, hi)
)
SELECT rg.bucket, count(*)::BIGINT AS doc_count
FROM documents d JOIN rg ON d.n_chars >= rg.lo AND d.n_chars < rg.hi
GROUP BY rg.bucket ORDER BY rg.bucket
""",
    "agg_top_metrics": """
SELECT event_type, top_user, top_value FROM (
  SELECT event_type, user_id AS top_user, round(value, 4) AS top_value,
         row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id ASC) AS rn
  FROM events
) WHERE rn = 1 ORDER BY event_type
""",
    "agg_rate": """
SELECT cast(ts AS DATE) AS day, round(count(*) / 24.0, 4) AS per_hour
FROM events GROUP BY 1 ORDER BY day
""",
    "agg_sessionize": """
WITH g AS (
  SELECT user_id, event_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
  FROM events
),
m AS (
  SELECT user_id, event_id,
         CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800 THEN 1 ELSE 0 END AS new_sess,
         ts
  FROM g
),
s AS (
  SELECT user_id, event_id,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM m
),
per_sess AS (
  SELECT user_id, sess_id, count(*)::BIGINT AS n_events FROM s GROUP BY 1, 2
)
SELECT user_id, count(*)::BIGINT AS n_sessions,
       round(avg(n_events), 4) AS avg_events_per_session
FROM per_sess WHERE user_id < 30 GROUP BY user_id ORDER BY user_id
""",
    "agg_pipeline_cumsum": """
WITH daily AS (
  SELECT cast(ts AS DATE) AS day, count(*)::BIGINT AS doc_count
  FROM events WHERE event_type = 'signup' GROUP BY 1
)
SELECT day, doc_count,
       sum(doc_count) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)::BIGINT AS cumsum,
       (doc_count - lag(doc_count, 1) OVER (ORDER BY day))::BIGINT AS deriv
FROM daily ORDER BY day
""",
    "agg_significant_terms": f"""
WITH t AS (
  SELECT doc_id, lang = 'de' AS fg, unnest(list_distinct({_TOK_SQL})) AS term
  FROM documents
),
counts AS (
  SELECT term, sum(CASE WHEN fg THEN 1 ELSE 0 END)::DOUBLE AS fg_count,
         count(*)::DOUBLE AS bg_count
  FROM t GROUP BY term
),
tot AS (
  SELECT sum(CASE WHEN fg THEN 1 ELSE 0 END)::DOUBLE AS fg_tot, count(*)::DOUBLE AS bg_tot
  FROM t
)
SELECT term, fg_count::BIGINT AS fg_n, bg_count::BIGINT AS bg_n,
       round((fg_count / fg_tot - bg_count / bg_tot) * (fg_count / fg_tot) / (bg_count / bg_tot), 4) AS jlh
FROM counts CROSS JOIN tot WHERE fg_count > 0
ORDER BY jlh DESC, term ASC LIMIT 15
""",
    "bm25_index_wand": _bm25_cte(_OR_TERMS, msm=1) + """
SELECT doc_id, round(score_raw, 4) AS score FROM scored
ORDER BY score_raw DESC, doc_id ASC LIMIT 10
""",
    "term_suggest": """
WITH dict AS (
  SELECT term, count(*)::BIGINT AS df FROM (
    SELECT DISTINCT doc_id, unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS term
    FROM documents
  ) GROUP BY term
),
toks AS (SELECT unnest(['spakr', 'windoq']) AS token),
cand AS (
  SELECT token, term AS suggestion, levenshtein(term, token)::INT AS distance, df
  FROM dict CROSS JOIN toks
  WHERE abs(length(term) - length(token)) <= 2
    AND levenshtein(term, token) BETWEEN 1 AND 2
    AND substr(term, 1, 1) = substr(token, 1, 1)  -- prefix_length 1 default
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY token ORDER BY distance ASC, df DESC, suggestion ASC) AS rank
  FROM cand
)
SELECT token, suggestion, distance, df FROM ranked WHERE rank <= 3
ORDER BY token, distance, df DESC, suggestion
""",
    "msearch_wand": f"""
SELECT 'mq0' AS qid, * FROM ({_bm25_sql(_OR_TERMS)})
UNION ALL
SELECT 'mq1' AS qid, * FROM ({_bm25_sql(_AND_TERMS, msm=len(_AND_TERMS))})
ORDER BY qid, score DESC, doc_id
""",
    "terms_enum": """
SELECT term FROM (
  SELECT DISTINCT unnest(list_distinct(regexp_extract_all(lower(text), '[a-z0-9]+'))) AS term
  FROM documents
) WHERE term LIKE 's%' ORDER BY term ASC LIMIT 20
""",
    "phrase_index": _bm25_cte(["group", "order"], msm=2) + """,
ph AS (
  SELECT doc_id FROM (
    SELECT doc_id, ' ' || array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ') || ' ' AS ts
    FROM documents
  ) WHERE ts LIKE '% group order %'
)
SELECT s.doc_id, round(s.score_raw, 4) AS score
FROM scored s JOIN ph ON s.doc_id = ph.doc_id
ORDER BY s.score_raw DESC, s.doc_id ASC LIMIT 10
""",
    "dsl_bool_full": _bm25_cte(["spark", "join"], msm=1) + """
SELECT s.doc_id,
       round(s.score_raw + CASE WHEN d.source = 'src7' THEN 0.7 ELSE 0 END, 4) AS score
FROM scored s JOIN documents d ON s.doc_id = d.doc_id
WHERE d.n_chars BETWEEN 150 AND 450 AND d.lang != 'zh'
ORDER BY s.score_raw + CASE WHEN d.source = 'src7' THEN 0.7 ELSE 0 END DESC, s.doc_id ASC
LIMIT 10
""",
    "dsl_dismax": _bm25_cte(["spark", "vector"], msm=1) + """,
per_term AS (
  SELECT tf.doc_id, tf.term,
         ln(1.0 + (coll.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
           * (1.2 + 1.0) * tf.tf
           / (tf.tf + 1.2 * (1.0 - 0.75 + 0.75 * qdl.qdl / coll.avgdl)) AS s
  FROM tf JOIN dfs USING (term) JOIN qdl ON tf.doc_id = qdl.doc_id CROSS JOIN coll
),
dm AS (
  SELECT doc_id, max(s) AS mx, sum(s) AS sm FROM per_term GROUP BY doc_id
)
SELECT doc_id, round(mx + 0.3 * (sm - mx), 4) AS score
FROM dm ORDER BY mx + 0.3 * (sm - mx) DESC, doc_id ASC LIMIT 10
""",
    "dsl_common_terms": f"""
WITH tok AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tok),
qdl AS (SELECT doc_id, ({_QDL})::DOUBLE AS qdl FROM dl),
coll AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
       FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
       WHERE term IN ('dup', 'spark', 'merge') GROUP BY 1, 2),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
cls AS (SELECT term, df, (df < 0.5 * coll.n_docs)::INT AS is_low
        FROM dfs CROSS JOIN coll),
shape AS (SELECT sum(is_low) AS n_low FROM cls),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (coll.n_docs - cls.df + 0.5) / (cls.df + 0.5))
             * ({K1} + 1.0) * tf.tf
             / (tf.tf + {K1} * (1.0 - {B} + {B} * qdl.qdl / coll.avgdl))) AS score_raw,
         sum(cls.is_low) AS m_low, sum(1 - cls.is_low) AS m_high
  FROM tf JOIN cls USING (term) JOIN qdl ON tf.doc_id = qdl.doc_id CROSS JOIN coll
  GROUP BY 1)
SELECT s.doc_id, round(s.score_raw, 4) AS score
FROM scored s CROSS JOIN shape
WHERE CASE WHEN shape.n_low > 0 THEN s.m_low >= 1 ELSE s.m_high >= 1 END
ORDER BY s.score_raw DESC, s.doc_id ASC LIMIT 10
""",
    "dsl_function_score": _bm25_cte(["data"], msm=1) + """
SELECT s.doc_id, round(s.score_raw * ln(1.0 + d.n_chars * 0.01), 4) AS score
FROM scored s JOIN documents d ON s.doc_id = d.doc_id
ORDER BY s.score_raw * ln(1.0 + d.n_chars * 0.01) DESC, s.doc_id ASC LIMIT 10
""",
    "dsl_boosting": _bm25_cte(["data", "stream"], msm=1) + """
SELECT s.doc_id,
       round(s.score_raw * CASE WHEN d.lang = 'de' THEN 0.4 ELSE 1.0 END, 4) AS score
FROM scored s JOIN documents d ON s.doc_id = d.doc_id
ORDER BY s.score_raw * CASE WHEN d.lang = 'de' THEN 0.4 ELSE 1.0 END DESC, s.doc_id ASC
LIMIT 10
""",
    "dedup_exact": """
SELECT rep_doc_id, n_dups FROM (
  SELECT md5(lower(text)) AS h, min(doc_id) AS rep_doc_id, count(*)::BIGINT AS n_dups
  FROM documents GROUP BY 1
) WHERE n_dups > 1 ORDER BY rep_doc_id
""",
    "dedup_ngram_jaccard": f"""
WITH t AS (
  SELECT doc_id, {_TOK_SQL} AS toks FROM documents
  WHERE len({_TOK_SQL}) >= 3
),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
  FROM t
),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS common
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b, round(common / (sa.n_sh + sb.n_sh - common), 4) AS jaccard
FROM pairs JOIN sizes sa ON pairs.a = sa.doc_id JOIN sizes sb ON pairs.b = sb.doc_id
WHERE common / (sa.n_sh + sb.n_sh - common) >= 0.5
ORDER BY a, b
""",
    "rank_eval": f"""
WITH tok AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
q(term) AS (VALUES ('spark'), ('vector'), ('stream')),
tf AS (
  SELECT t.term, x.doc_id, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS w FROM tok) x JOIN q t ON x.w = t.term
  GROUP BY 1, 2),
res AS (
  SELECT term AS query_id, doc_id, rnk FROM (
    SELECT term, doc_id,
           row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS rnk
    FROM tf) WHERE rnk <= 10),
rat AS (
  SELECT t.term AS query_id, d.doc_id,
         least(coalesce(tf.tf, 0), 3)::INT AS rating
  FROM documents d CROSS JOIN q t
  LEFT JOIN tf ON tf.term = t.term AND tf.doc_id = d.doc_id
  WHERE d.doc_id % 3 = 0),
j AS (
  SELECT r.query_id, r.rnk, coalesce(g.rating, 0) AS rating
  FROM res r LEFT JOIN rat g ON r.query_id = g.query_id AND r.doc_id = g.doc_id),
ph AS (
  SELECT query_id, rnk,
    CASE WHEN rating >= 1 THEN 1.0 ELSE 0.0 END AS rel,
    (pow(2.0, rating) - 1) / log2(rnk + 1.0) AS dg,
    (pow(2.0, rating) - 1) / 8.0 AS rprob
  FROM j),
ph2 AS (
  SELECT query_id, rnk, rel, dg, rprob,
    exp(coalesce(sum(ln(1.0 - rprob)) OVER (
      PARTITION BY query_id ORDER BY rnk
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0)) AS pre
  FROM ph),
base AS (
  SELECT query_id,
    sum(rel) / count(*) AS p_at_k,
    sum(rel) AS rel_ret,
    min(CASE WHEN rel > 0 THEN rnk END) AS first_rel,
    sum(dg) AS dcg,
    sum(rprob / rnk * pre) AS err
  FROM ph2 GROUP BY query_id),
ideal AS (
  SELECT query_id, sum((pow(2.0, rating) - 1) / log2(ir + 1.0)) AS idcg
  FROM (SELECT query_id, rating, doc_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY rating DESC, doc_id ASC) AS ir FROM rat)
  WHERE ir <= 10 AND rating > 0 GROUP BY query_id),
tot AS (SELECT query_id,
          sum(CASE WHEN rating >= 1 THEN 1 ELSE 0 END) AS n_rel
        FROM rat GROUP BY query_id)
SELECT b.query_id,
  round(b.p_at_k, 6) AS p_at_k,
  round(CASE WHEN coalesce(t.n_rel, 0) > 0
             THEN b.rel_ret / t.n_rel ELSE 0 END, 6) AS recall_at_k,
  round(CASE WHEN b.first_rel IS NOT NULL
             THEN 1.0 / b.first_rel ELSE 0 END, 6) AS mrr,
  round(b.dcg, 6) AS dcg,
  round(CASE WHEN coalesce(i.idcg, 0) > 0
             THEN b.dcg / i.idcg ELSE 0 END, 6) AS ndcg,
  round(b.err, 6) AS err
FROM base b LEFT JOIN ideal i USING (query_id) LEFT JOIN tot t USING (query_id)
ORDER BY b.query_id
""",
    "sim_maxsim_topk": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
s AS (
  SELECT e.vec_id,
    list_sum(list_transform(range(0, 4), qi ->
      list_max(list_transform(range(0, 4), dj ->
        list_dot_product(q.qv[qi*16+1 : qi*16+16],
                         e.v[dj*16+1 : dj*16+16]))))) AS score
  FROM e, q WHERE e.vec_id != 0)
SELECT vec_id, round(score, 4) AS score
FROM s ORDER BY score DESC, vec_id ASC LIMIT 10
""",
    "sim_quantize_int4": """
WITH c AS (SELECT unnest(embedding)::DOUBLE AS x FROM embeddings),
b AS (SELECT quantile_cont(x, 0.01) AS lo, quantile_cont(x, 0.99) AS hi FROM c),
q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
           x -> (least(15, greatest(0, floor((x - lo) / (hi - lo) * 15 + 0.5))))::INT) AS qv,
         embedding::DOUBLE[] AS v, lo, hi
  FROM embeddings, b)
SELECT vec_id, array_to_string(qv, ',') AS qvec_str,
       round(sqrt(list_sum(list_transform(
         list_zip(v, list_transform(qv, qq -> lo + qq * (hi - lo) / 15)),
         p -> (p[1] - p[2]) * (p[1] - p[2])))), 6) AS recon_err
FROM q ORDER BY vec_id LIMIT 50
""",
    "sim_bbq_topk": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
m AS (SELECT list(avg ORDER BY d) AS ml FROM (
        SELECT d, avg(v[d]) AS avg FROM e,
        UNNEST(generate_series(1, 64)) AS t(d) GROUP BY d)),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
h AS (
  SELECT e.vec_id, e.v,
    list_sum(list_transform(range(1, 65),
      d -> CASE WHEN (e.v[d] > m.ml[d]) != (q.qv[d] > m.ml[d])
                THEN 1 ELSE 0 END))::BIGINT AS hamming
  FROM e, m, q WHERE e.vec_id != 0),
cand AS (SELECT * FROM h ORDER BY hamming ASC, vec_id ASC LIMIT 30)
SELECT vec_id, hamming,
  round(list_dot_product(cand.v, q.qv) /
        (sqrt(list_dot_product(cand.v, cand.v)) *
         sqrt(list_dot_product(q.qv, q.qv))), 4) AS cosine
FROM cand, q
ORDER BY list_dot_product(cand.v, q.qv) /
         (sqrt(list_dot_product(cand.v, cand.v)) *
          sqrt(list_dot_product(q.qv, q.qv))) DESC, vec_id ASC
LIMIT 10
""",
    "agg_terms_error_bounds": """
WITH d AS (SELECT doc_id, source, doc_id % 4 AS s FROM documents),
ps AS (SELECT s, source AS key, count(*)::BIGINT AS c FROM d GROUP BY 1, 2),
r AS (SELECT s, key, c,
        row_number() OVER (PARTITION BY s ORDER BY c DESC, key ASC) AS rn
      FROM ps),
rep AS (SELECT * FROM r WHERE rn <= 5),
se AS (
  SELECT s, (CASE WHEN count(*) <= 5 THEN 0
                  ELSE min(CASE WHEN rn = 5 THEN c END) END)::BIGINT AS err
  FROM r GROUP BY s),
tot AS (SELECT sum(err)::BIGINT AS te FROM se),
m AS (
  SELECT key, sum(c)::BIGINT AS doc_count,
         (tot.te - sum(se.err))::BIGINT AS doc_count_error_upper_bound
  FROM rep JOIN se USING (s) CROSS JOIN tot GROUP BY key, tot.te),
top AS (SELECT * FROM m ORDER BY doc_count DESC, key ASC LIMIT 5)
SELECT key, doc_count, doc_count_error_upper_bound FROM top
UNION ALL
SELECT '__other__',
       ((SELECT count(*) FROM d) - (SELECT sum(doc_count) FROM top))::BIGINT,
       0::BIGINT
ORDER BY key
""",
    "agg_geotile_grid": """
WITH pts AS (
  SELECT value, value % 170 - 85 AS lat, value % 360 - 180 AS lon FROM events
),
t AS (
  SELECT value,
    CAST(floor((lon + 180.0) / 360.0 * 64) AS BIGINT) AS x,
    CAST(floor((1.0 - ln(tan(radians(lat)) + 1.0 / cos(radians(lat))) / pi())
               / 2.0 * 64) AS BIGINT) AS y
  FROM pts)
SELECT '6/' || x::VARCHAR || '/' || y::VARCHAR AS key,
       count(*)::BIGINT AS doc_count, round(avg(value), 4) AS avg_value
FROM t GROUP BY 1 ORDER BY doc_count DESC, key ASC LIMIT 10
""",
    "agg_geohash_grid": f"""
WITH pts AS (
  SELECT value, value % 170 - 85 AS lat, value % 360 - 180 AS lon FROM events
),
q AS (
  SELECT value,
    least(greatest(CAST(floor((lat + 90.0) / 180.0 * {1 << _GH_LATB}) AS BIGINT),
                   0), {(1 << _GH_LATB) - 1}) AS ilat,
    least(greatest(CAST(floor((lon + 180.0) / 360.0 * {1 << _GH_LONB}) AS BIGINT),
                   0), {(1 << _GH_LONB) - 1}) AS ilon
  FROM pts),
c AS (SELECT value, ({_GH_CODE}) AS code FROM q),
k AS (SELECT value, {_GH_CHARS} AS key FROM c)
SELECT key, count(*)::BIGINT AS doc_count, round(avg(value), 4) AS avg_value
FROM k GROUP BY key ORDER BY doc_count DESC, key ASC LIMIT 10
""",
    "text_quality_classifier": f"""
WITH t AS (SELECT doc_id, (CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS y,
                  {_TOK_SQL} AS toks FROM documents),
ex AS (SELECT doc_id, y, unnest(toks) AS token FROM t),
tot AS (SELECT sum(y)::DOUBLE AS tp, count(*)::DOUBLE AS tt,
               count(DISTINCT token)::DOUBLE AS v FROM ex),
pri AS (SELECT ln(sum(y)::DOUBLE / (count(*) - sum(y))) AS prior FROM t),
w AS (SELECT token,
        ln((sum(y) + 0.5) / (tot.tp + 0.5 * tot.v))
          - ln((count(*) - sum(y) + 0.5) / ((tot.tt - tot.tp) + 0.5 * tot.v)) AS w
      FROM ex CROSS JOIN tot GROUP BY token, tot.tp, tot.tt, tot.v),
s AS (SELECT ex.doc_id, sum(w.w) AS sw FROM ex JOIN w USING (token)
      GROUP BY ex.doc_id)
SELECT t.doc_id, round(pri.prior + coalesce(s.sw, 0), 4) AS score,
       (CASE WHEN pri.prior + coalesce(s.sw, 0) > 0 THEN 1 ELSE 0 END)::BIGINT AS pred
FROM t CROSS JOIN pri LEFT JOIN s ON t.doc_id = s.doc_id
ORDER BY t.doc_id
""",
    "text_bigram_perplexity_kn": """
WITH tok AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
bg AS (
  SELECT doc_id, lang, u.z[1] AS w1, u.z[2] AS w2
  FROM tok, UNNEST(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS u(z)
  WHERE len(toks) >= 2
),
bgc AS (SELECT w1, w2, COUNT(*)::DOUBLE AS c12 FROM bg GROUP BY 1, 2),
lft AS (SELECT w1, sum(c12) AS c1, COUNT(*)::DOUBLE AS nfwd FROM bgc GROUP BY 1),
rgt AS (SELECT w2, COUNT(*)::DOUBLE AS nbwd FROM bgc GROUP BY 1),
t AS (SELECT COUNT(*)::DOUBLE AS t FROM bgc),
lp AS (
  SELECT bg.doc_id, bg.lang,
         ln(greatest(c12 - 0.75, 0.0) / c1
            + 0.75 * nfwd / c1 * (nbwd / t.t)) AS lp
  FROM bg JOIN bgc USING (w1, w2) JOIN lft USING (w1) JOIN rgt USING (w2)
  CROSS JOIN t
),
per_doc AS (
  SELECT doc_id, lang, exp(-avg(lp)) AS ppl FROM lp GROUP BY 1, 2
)
SELECT lang, round(avg(ppl), 4) AS avg_ppl, COUNT(*)::BIGINT AS doc_count
FROM per_doc GROUP BY lang ORDER BY lang
""",
    "dedup_line_dedup": """
WITH t AS (SELECT doc_id, string_split(text, chr(10)) AS ls FROM documents),
l AS (SELECT doc_id, i - 1 AS ln, ls[i] AS line
      FROM t, UNNEST(generate_series(1, len(ls))) AS u(i)),
kept AS (
  SELECT doc_id, ln, line FROM (
    SELECT doc_id, ln, line,
           row_number() OVER (PARTITION BY line ORDER BY doc_id, ln) AS rn
    FROM l) WHERE rn = 1),
pd AS (SELECT doc_id, count(*)::BIGINT AS kept_lines,
              md5(string_agg(line, chr(10) ORDER BY ln)) AS dedup_md5
       FROM kept GROUP BY doc_id)
SELECT t.doc_id, len(t.ls)::BIGINT AS n_lines,
       coalesce(pd.kept_lines, 0)::BIGINT AS kept_lines,
       coalesce(pd.dedup_md5, md5('')) AS dedup_md5
FROM t LEFT JOIN pd USING (doc_id) ORDER BY t.doc_id
""",
    "dedup_exact_substring": f"""
WITH toks AS (SELECT doc_id, {_TOK_SQL} AS t FROM documents),
grams AS (
  SELECT doc_id, i AS s, md5(array_to_string(t[i+1:i+20], ' ')) AS g
  FROM toks, UNNEST(generate_series(0, len(t) - 20)) AS u(i)
  WHERE len(t) >= 20
),
dupg AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
hits AS (SELECT doc_id, s FROM grams WHERE g IN (SELECT g FROM dupg)),
brk AS (
  SELECT doc_id, s,
    CASE WHEN s <= coalesce(max(s + 20) OVER (
        PARTITION BY doc_id ORDER BY s
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
      THEN 0 ELSE 1 END AS b
  FROM hits),
isl AS (SELECT doc_id, s,
          sum(b) OVER (PARTITION BY doc_id ORDER BY s) AS iid FROM brk),
spans AS (SELECT doc_id, min(s) AS lo, max(s) + 20 AS hi
          FROM isl GROUP BY doc_id, iid),
dup AS (SELECT doc_id, sum(hi - lo)::BIGINT AS dup_tokens
        FROM spans GROUP BY doc_id)
SELECT t.doc_id, len(t.t)::BIGINT AS n_tokens,
  coalesce(d.dup_tokens, 0)::BIGINT AS dup_tokens,
  (len(t.t) - coalesce(d.dup_tokens, 0))::BIGINT AS kept_tokens
FROM toks t LEFT JOIN dup d USING (doc_id)
ORDER BY t.doc_id
""",
    "dedup_semdedup": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                  sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nv
           FROM embeddings),
c AS (SELECT vec_id AS cid, v AS cv, nv AS nc FROM e WHERE vec_id < 8),
asn AS (
  SELECT vec_id, v, nv, cid,
         list_dot_product(v, cv) / (nv * nc) AS cosc,
         row_number() OVER (PARTITION BY vec_id
           ORDER BY list_dot_product(v, cv) / (nv * nc) DESC, cid ASC) AS pick
  FROM e CROSS JOIN c),
ranked AS (
  SELECT vec_id, v, nv, cid AS cluster, cosc,
         row_number() OVER (PARTITION BY cid ORDER BY cosc DESC, vec_id ASC) AS rn
  FROM asn WHERE pick = 1),
prev AS (
  SELECT a.vec_id, max(list_dot_product(a.v, b.v) / (a.nv * b.nv)) AS mp
  FROM ranked a JOIN ranked b ON a.cluster = b.cluster AND b.rn < a.rn
  GROUP BY a.vec_id)
SELECT r.vec_id, r.cluster::BIGINT AS cluster, round(r.cosc, 4) AS cos_centroid,
       round(coalesce(p.mp, -1.0), 4) AS max_prev_sim,
       (CASE WHEN coalesce(p.mp, -1.0) <= 0.95 THEN 1 ELSE 0 END)::BIGINT AS kept
FROM ranked r LEFT JOIN prev p ON r.vec_id = p.vec_id
ORDER BY r.vec_id
""",
    "dedup_clusters": f"""
WITH RECURSIVE t AS (
  SELECT doc_id, {_TOK_SQL} AS toks FROM documents
  WHERE len({_TOK_SQL}) >= 3
),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
  FROM t
),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
cand AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS common
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
),
p AS (
  SELECT a, b FROM cand JOIN sizes sa ON cand.a = sa.doc_id
  JOIN sizes sb ON cand.b = sb.doc_id
  WHERE common / (sa.n_sh + sb.n_sh - common) >= 0.5
),
edges AS (SELECT a AS x, b AS y FROM p UNION SELECT b, a FROM p),
reach(id, r) AS (
  SELECT x, x FROM edges
  UNION
  SELECT e.x, reach.r FROM edges e JOIN reach ON e.y = reach.id
)
SELECT id, min(r)::BIGINT AS component FROM reach GROUP BY id ORDER BY id
""",
    "dedup_minhash_lsh": f"""
WITH t AS (
  SELECT doc_id, {_TOK_SQL} AS toks FROM documents
  WHERE len({_TOK_SQL}) >= 3
),
sh AS (
  SELECT doc_id, unnest(list_distinct(
    list_transform(range(1, len(toks) - 1),
                   i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS shingle
  FROM t
),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n_sh FROM sh GROUP BY doc_id),
pairs AS (
  SELECT x.doc_id AS a, y.doc_id AS b, count(*)::BIGINT AS common
  FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
  GROUP BY 1, 2
)
SELECT a, b, round(common / (sa.n_sh + sb.n_sh - common), 4) AS jaccard
FROM pairs JOIN sizes sa ON pairs.a = sa.doc_id JOIN sizes sb ON pairs.b = sb.doc_id
WHERE common / (sa.n_sh + sb.n_sh - common) >= 0.9
ORDER BY a, b
""",
    "dedup_embedding_lsh": """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT x.vec_id AS a, y.vec_id AS b,
       round(list_dot_product(x.v, y.v) /
             (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))), 4) AS cosine
FROM e x JOIN e y ON x.vec_id < y.vec_id
WHERE list_dot_product(x.v, y.v) /
      (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= 0.95
ORDER BY a, b
""",
    "sim_cosine_topk": """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label, round(
    list_dot_product(embedding::DOUBLE[], qv) /
    (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
     sqrt(list_dot_product(qv, qv))), 4) AS cosine
FROM embeddings CROSS JOIN q WHERE vec_id != 0
ORDER BY list_dot_product(embedding::DOUBLE[], qv) /
         (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
          sqrt(list_dot_product(qv, qv))) DESC, vec_id ASC
LIMIT 10
""",
    "agg_compiler_terms": """
SELECT event_type AS key, count(*)::BIGINT AS doc_count,
       round(avg(value), 4) AS avg_v, round(max(value), 4) AS max_v
FROM events GROUP BY event_type ORDER BY doc_count DESC, key ASC LIMIT 10
""",
    "agg_compiler_pipeline": """
WITH daily AS (
  SELECT date_trunc('day', ts) AS k, count(*)::BIGINT AS doc_count, sum(value) AS sv
  FROM events GROUP BY 1
)
SELECT cast(k AS DATE) AS day, doc_count, round(sv, 4) AS sv,
       round(avg(doc_count) OVER (ORDER BY k ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING), 4) AS mavg,
       round(sv / doc_count, 4) AS ratio
FROM daily ORDER BY day
""",
    "agg_value_script": """
SELECT event_type || '_s' AS key, count(*)::BIGINT AS doc_count,
       round(avg(value * 2.0), 4) AS av
FROM events GROUP BY 1 ORDER BY doc_count DESC, key
""",
    "text_token_stats": f"""
SELECT doc_id, len(toks)::BIGINT AS n_tokens, len(list_distinct(toks))::BIGINT AS n_distinct,
       round(len(list_distinct(toks)) / len(toks), 4) AS ttr,
       round(len(list_filter(toks, x -> x IN ('a', 'the'))) / len(toks), 4) AS stop_ratio
FROM (SELECT doc_id, {_TOK_SQL} AS toks FROM documents)
WHERE doc_id < 50 ORDER BY doc_id
""",
    "text_lang_id": """
WITH t AS (
  SELECT doc_id, text, regexp_extract_all(lower(text), '[\\p{L}0-9]+') AS toks
  FROM documents WHERE doc_id < 100
),
s AS (
  SELECT doc_id, text, toks,
    len(list_intersect(toks, ['the','and','of','to','is','that','you','with']))
      + len(list_filter(toks, x -> x IN ('the','and','of','to','is','that','you','with'))) AS s_en,
    len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','mit']))
      + len(list_filter(toks, x -> x IN ('der','die','das','und','ist','nicht','ein','mit'))) AS s_de,
    len(list_intersect(toks, ['le','la','les','et','est','une','que','pour']))
      + len(list_filter(toks, x -> x IN ('le','la','les','et','est','une','que','pour'))) AS s_fr,
    len(list_intersect(toks, ['el','los','las','es','una','que','por','con']))
      + len(list_filter(toks, x -> x IN ('el','los','las','es','una','que','por','con'))) AS s_es,
    len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk,
    greatest(length(text), 1) AS nc
  FROM t
)
SELECT doc_id,
  CASE WHEN cjk / nc > 0.3 THEN 'zh'
       WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'unk'
       WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS lang_pred
FROM s ORDER BY doc_id
""",
    "text_quality_score": """
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[\\p{L}0-9]+') AS toks
  FROM documents WHERE doc_id < 100
),
s AS (
  SELECT doc_id, len(toks) AS n,
    len(list_distinct(toks))::DOUBLE / greatest(len(toks), 1) AS ttr,
    len(list_filter(toks, x -> x IN (
      'the','and','of','to','is','that','you','with',
      'der','die','das','und','ist','nicht','ein','mit',
      'le','la','les','et','est','une','que','pour',
      'el','los','las','es','una','que','por','con')))::DOUBLE
      / greatest(len(toks), 1) AS stop_r
  FROM t
)
SELECT doc_id,
  round((least(n / 50.0, 1.0) + least(ttr * 2.0, 1.0) + least(stop_r * 8.0, 1.0)) / 3.0, 4) AS quality
FROM s ORDER BY doc_id
""",
    "text_pii_scan": r"""
WITH t AS (
  SELECT doc_id,
    text || ' contact user' || doc_id || '@example.com or +1555'
         || lpad(doc_id::VARCHAR, 7, '0')
         || ' from 10.0.' || (doc_id % 256) || '.7'
         || CASE WHEN doc_id % 5 = 0 THEN ' ssn 123-45-6789' ELSE '' END AS t
  FROM documents WHERE doc_id < 100
)
SELECT doc_id,
  len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))::BIGINT AS n_email,
  len(regexp_extract_all(t, '\b\d{3}-\d{2}-\d{4}\b'))::BIGINT AS n_ssn,
  len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))::BIGINT AS n_ipv4,
  len(regexp_extract_all(t, '\+\d[\d().-]{7,14}\d'))::BIGINT AS n_phone,
  md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(t,
      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g'),
      '\+\d[\d().-]{7,14}\d', '<PHONE>', 'g')) AS redacted_md5
FROM t ORDER BY doc_id
""",
    "text_repetition": r"""
WITH d AS (
  SELECT doc_id,
    text || chr(10) || 'repeat line' || chr(10)
         || CASE WHEN doc_id % 3 = 0 THEN 'repeat line'
                 ELSE 'unique ' || doc_id END AS t
  FROM documents WHERE doc_id < 60
),
lines AS (
  SELECT doc_id, trim(l) AS l
  FROM d, UNNEST(string_split(t, chr(10))) AS s(l)
  WHERE trim(l) <> ''
),
lc AS (SELECT doc_id, l, count(*) AS c FROM lines GROUP BY 1, 2),
la AS (
  SELECT doc_id,
    1.0 - count(*)::DOUBLE / greatest(sum(c), 1) AS dup_line_frac,
    sum(CASE WHEN c > 1 THEN c * length(l) ELSE 0 END)::DOUBLE
      / greatest(sum(c * length(l)), 1) AS dup_line_char_frac
  FROM lc GROUP BY 1
),
tok AS (SELECT doc_id, regexp_extract_all(lower(t), '[\p{L}0-9]+') AS toks FROM d),
bg AS (
  SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS b
  FROM tok, UNNEST(range(1, len(toks))) AS u(i)
),
bgc AS (SELECT doc_id, b, count(*) AS c FROM bg GROUP BY 1, 2),
ba AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS top_bigram_frac FROM bgc GROUP BY 1)
SELECT la.doc_id, round(dup_line_frac, 4) AS dup_line_frac,
       round(dup_line_char_frac, 4) AS dup_line_char_frac,
       round(coalesce(top_bigram_frac, 0.0), 4) AS top_bigram_frac
FROM la LEFT JOIN ba ON la.doc_id = ba.doc_id ORDER BY la.doc_id
""",
    "text_fingerprint": f"""
SELECT fp, n_docs, rep_doc_id FROM (
  SELECT md5(array_to_string(list_sort(list_distinct({_TOK_SQL})), ' ')) AS fp,
         count(*)::BIGINT AS n_docs, min(doc_id) AS rep_doc_id
  FROM documents GROUP BY 1
) WHERE n_docs > 1 ORDER BY rep_doc_id
""",
    "ingest_user_agent": """
WITH s AS (
  SELECT user_id % 6 AS tpl, (event_id % 100)::VARCHAR AS major FROM events
), m AS (
  SELECT
    CASE tpl WHEN 0 THEN 'Chrome' WHEN 1 THEN 'Firefox'
             WHEN 2 THEN 'Mobile Safari' WHEN 3 THEN 'Edge'
             WHEN 4 THEN 'curl' ELSE 'Other' END AS name,
    CASE tpl WHEN 0 THEN 'Mac OS X' WHEN 1 THEN 'Windows'
             WHEN 2 THEN 'iOS' WHEN 3 THEN 'Windows' ELSE 'Other' END AS os_name,
    CASE tpl WHEN 0 THEN 'Mac' WHEN 2 THEN 'iPhone' ELSE 'Other' END AS device,
    CASE tpl WHEN 0 THEN major || '.0.0.0' WHEN 1 THEN major || '.0'
             WHEN 2 THEN major || '.0' WHEN 3 THEN major || '.0.2210.91'
             WHEN 4 THEN major || '.4.0' ELSE NULL END AS version
  FROM s
)
SELECT name, os_name, device, count(*)::BIGINT AS doc_count,
       count(DISTINCT version)::BIGINT AS n_versions
FROM m GROUP BY name, os_name, device ORDER BY name, os_name, device
""",
    "ingest_network_flow": """
WITH f AS (
  SELECT event_id, user_id,
    CASE WHEN user_id % 3 = 0 THEN 10 ELSE user_id % 223 + 1 END AS s1,
    event_id % 256 AS s2, (event_id // 256) % 256 AS s3, user_id % 254 + 1 AS s4,
    CASE WHEN event_id % 2 = 0 THEN 192 ELSE 8 END AS d1,
    CASE WHEN event_id % 2 = 0 THEN 168 ELSE 8 END AS d2,
    event_id % 200 AS d3, user_id % 254 + 1 AS d4,
    event_id % 50000 + 1024 AS sport,
    CASE WHEN event_id % 2 = 0 THEN 443 ELSE 80 END AS dport,
    CASE WHEN user_id % 5 = 0 THEN 'example.co.uk' ELSE 'example.com' END AS domain
  FROM events),
g AS (SELECT *, s1::BIGINT*16777216 + s2*65536 + s3*256 + s4 AS snum,
             d1::BIGINT*16777216 + d2*65536 + d3*256 + d4 AS dnum FROM f),
h AS (SELECT *,
    (snum BETWEEN 167772160 AND 184549375
     OR snum BETWEEN 2886729728 AND 2887778303
     OR snum BETWEEN 3232235520 AND 3232301055) AS s_in,
    (dnum BETWEEN 167772160 AND 184549375
     OR dnum BETWEEN 2886729728 AND 2887778303
     OR dnum BETWEEN 3232235520 AND 3232301055) AS d_in,
    (snum > dnum OR (snum = dnum AND sport > dport)) AS swp FROM g),
i AS (SELECT domain,
    CASE WHEN s_in AND d_in THEN 'internal' WHEN s_in THEN 'outbound'
         WHEN d_in THEN 'inbound' ELSE 'external' END AS direction,
    (CASE WHEN swp THEN dnum ELSE snum END) || ':' ||
    (CASE WHEN swp THEN snum ELSE dnum END) || ':' ||
    (CASE WHEN swp THEN dport ELSE sport END) || ':' ||
    (CASE WHEN swp THEN sport ELSE dport END) AS tuple5
  FROM h)
SELECT domain, direction, count(*)::BIGINT AS doc_count,
       count(DISTINCT tuple5)::BIGINT AS n_flows
FROM i GROUP BY 1, 2 ORDER BY domain, direction
""",
    "field_histogram_metrics": """
WITH p AS (
  SELECT value AS v, (1 + event_id % 3)::BIGINT AS c FROM events
  UNION ALL SELECT value * 1.5, 2 FROM events
  UNION ALL SELECT value * 2.25, 1 FROM events
),
x AS (SELECT v FROM p, unnest(range(1, c + 1)))
SELECT (SELECT sum(c) FROM p)::BIGINT AS n,
       round((SELECT sum(v * c) FROM p), 4) AS s,
       round((SELECT sum(v * c) FROM p) / (SELECT sum(c) FROM p), 6) AS a,
       round((SELECT min(v) FROM p), 6) AS lo,
       round((SELECT max(v) FROM p), 6) AS hi,
       round(quantile_cont(v, 0.5), 6) AS p50,
       round(quantile_cont(v, 0.95), 6) AS p95
FROM x
""",
    "intervals_query": _bm25_cte(["data", "stream"], msm=2) + f""",
pos AS (
  SELECT doc_id, u.term AS term, u.i AS i
  FROM (SELECT doc_id, unnest(list_transform({_TOK_SQL},
               (x, i) -> struct_pack(term := x, i := i))) AS u
        FROM documents)
),
iv AS (
  SELECT DISTINCT a.doc_id FROM pos a JOIN pos b ON a.doc_id = b.doc_id
  WHERE a.term = 'data' AND b.term = 'stream' AND b.i > a.i AND (b.i - a.i - 1) <= 3
)
SELECT s.doc_id, round(s.score_raw, 4) AS score
FROM scored s JOIN iv USING (doc_id)
ORDER BY s.score_raw DESC, s.doc_id ASC LIMIT 10
""",
    "intervals_source_query": _bm25_cte(["data", "stream"], msm=2) + f""",
pos AS (
  SELECT doc_id, u.term AS term, u.i AS i
  FROM (SELECT doc_id, unnest(list_transform({_TOK_SQL},
               (x, i) -> struct_pack(term := x, i := i))) AS u
        FROM documents)
),
iv AS (
  SELECT DISTINCT a.doc_id FROM pos a JOIN pos b ON a.doc_id = b.doc_id
  WHERE a.term = 'data' AND b.term LIKE 'str%' AND b.i > a.i AND (b.i - a.i - 1) <= 3
    AND NOT EXISTS (
      SELECT 1 FROM pos c
      WHERE c.doc_id = a.doc_id AND c.term = 'order' AND c.i BETWEEN a.i AND b.i
    )
)
SELECT s.doc_id, round(s.score_raw, 4) AS score
FROM scored s JOIN iv USING (doc_id)
ORDER BY s.score_raw DESC, s.doc_id ASC LIMIT 10
""",
    "match_phrase_prefix": f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL} AS toks FROM documents
),
dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tok),
qdl AS (SELECT doc_id, ({_QDL})::DOUBLE AS qdl FROM dl),
coll AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term = 'group' OR term LIKE 'ord%' GROUP BY 1, 2
),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (coll.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
             * ({K1} + 1.0) * tf.tf
             / (tf.tf + {K1} * (1.0 - {B} + {B} * qdl.qdl / coll.avgdl))) AS score_raw
  FROM tf JOIN dfs USING (term) JOIN qdl ON tf.doc_id = qdl.doc_id CROSS JOIN coll
  GROUP BY tf.doc_id
),
ph AS (
  SELECT doc_id FROM (
    SELECT doc_id, ' ' || array_to_string({_TOK_SQL}, ' ') || ' ' AS ts
    FROM documents
  ) WHERE regexp_matches(ts, ' group ord[a-z0-9]*')
)
SELECT s.doc_id, round(s.score_raw, 4) AS score
FROM scored s JOIN ph USING (doc_id)
ORDER BY s.score_raw DESC, s.doc_id ASC LIMIT 10
""",
    "completion_suggest": f"""
SELECT term AS suggestion, count(DISTINCT doc_id)::BIGINT AS weight FROM (
  SELECT doc_id, unnest(list_distinct({_TOK_SQL})) AS term FROM documents
) WHERE term LIKE 's%'
GROUP BY term ORDER BY weight DESC, suggestion ASC LIMIT 5
""",
    "agg_date_range": """
SELECT key, count(*)::BIGINT AS doc_count, round(sum(value), 4) AS sum_v FROM (
  SELECT CASE WHEN ts < TIMESTAMP '2024-01-10' THEN 'early'
              WHEN ts < TIMESTAMP '2024-01-20' THEN 'mid'
              ELSE 'late' END AS key, value
  FROM events
) GROUP BY key ORDER BY key
""",
    "agg_ip_range": """
SELECT key, count(*)::BIGINT AS doc_count FROM (
  SELECT CASE WHEN user_id % 4 < 2 THEN 'low' ELSE 'high' END AS key FROM events
) GROUP BY key ORDER BY key
""",
    "agg_reverse_nested": """
WITH b AS (
  SELECT l_suppkey AS key, count(*)::BIGINT AS doc_count,
         round(avg(l_quantity), 4) AS avg_qty
  FROM lineitem GROUP BY 1
),
p AS (SELECT DISTINCT l_suppkey AS key, l_orderkey FROM lineitem),
pr AS (
  SELECT p.key, count(*)::BIGINT AS parent_count,
         round(avg(o.o_totalprice), 4) AS avg_price
  FROM p JOIN orders o ON p.l_orderkey = o.o_orderkey GROUP BY p.key
)
SELECT b.key, b.doc_count, b.avg_qty, pr.parent_count, pr.avg_price
FROM b JOIN pr USING (key)
ORDER BY doc_count DESC, key ASC LIMIT 5
""",
    "agg_significant_text": f"""
WITH fgt AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents WHERE lang = 'de'),
bgt AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
fgc AS (
  SELECT t AS key, count(*)::DOUBLE AS c
  FROM (SELECT doc_id, unnest(list_distinct(toks)) AS t FROM fgt) GROUP BY 1
),
bgc AS (
  SELECT t AS key, count(*)::DOUBLE AS c
  FROM (SELECT doc_id, unnest(list_distinct(toks)) AS t FROM bgt) GROUP BY 1
),
tot AS (
  SELECT (SELECT count(*) FROM fgt)::DOUBLE AS ft,
         (SELECT count(*) FROM bgt)::DOUBLE AS bt
)
SELECT key, fgc.c::BIGINT AS doc_count, bgc.c::BIGINT AS bg_count,
       round((fgc.c / ft - bgc.c / bt) * (fgc.c / ft) / (bgc.c / bt), 6) AS score
FROM fgc JOIN bgc USING (key) CROSS JOIN tot
WHERE fgc.c >= 3 AND (fgc.c / ft - bgc.c / bt) * (fgc.c / ft) / (bgc.c / bt) > 0
ORDER BY round((fgc.c / ft - bgc.c / bt) * (fgc.c / ft) / (bgc.c / bt), 6) DESC, key ASC
LIMIT 10
""",
    "agg_percentile_ranks": """
SELECT event_type AS key, count(*)::BIGINT AS doc_count,
       round(100.0 * avg(CASE WHEN value <= 50 THEN 1.0 ELSE 0.0 END), 4) AS pr_50,
       round(100.0 * avg(CASE WHEN value <= 200 THEN 1.0 ELSE 0.0 END), 4) AS pr_200
FROM events GROUP BY event_type
ORDER BY doc_count DESC, key ASC LIMIT 10
""",
    "dsl_script_score": _bm25_cte(["vector"], msm=1) + """
SELECT s.doc_id, round(s.score_raw * ln(1.0 + d.n_chars) * 0.5, 4) AS score
FROM scored s JOIN documents d ON s.doc_id = d.doc_id
ORDER BY s.score_raw * ln(1.0 + d.n_chars) * 0.5 DESC, s.doc_id ASC LIMIT 10
""",
    "dsl_script_score_query": _bm25_cte(["vector"], msm=1) + """
SELECT s.doc_id, round(s.score_raw * ln(1.0 + d.n_chars) * 2.0, 4) AS score
FROM scored s JOIN documents d ON s.doc_id = d.doc_id
ORDER BY s.score_raw * ln(1.0 + d.n_chars) * 2.0 DESC, s.doc_id ASC LIMIT 10
""",
    "percolate_queries": f"""
SELECT query_id, doc_id FROM (
  SELECT 'p_lang_range' AS query_id, doc_id FROM documents
  WHERE lang = 'en' AND n_chars BETWEEN 100 AND 400
  UNION ALL
  SELECT 'p_match_spark', doc_id FROM documents
  WHERE list_contains({_TOK_SQL}, 'spark')
  UNION ALL
  SELECT 'p_src_wild', doc_id FROM documents WHERE source LIKE 'src1%'
) ORDER BY query_id, doc_id
""",
    "field_collation_sort": """
SELECT locale, rank::BIGINT AS rank, word FROM (VALUES
    ('da', 1, 'abe'), ('da', 2, 'zebra'), ('da', 3, 'æble'),
    ('da', 4, 'øl'), ('da', 5, 'århus'),
    ('de', 1, 'Arm'), ('de', 2, 'Ärmel'), ('de', 3, 'Arzt'),
    ('de', 4, 'Übung'), ('de', 5, 'ufer'), ('de', 6, 'Zebra'),
    ('de__din2', 1, 'Mueller'), ('de__din2', 2, 'Müller'),
    ('de__din2', 3, 'Muffe'), ('de__din2', 4, 'Töne'),
    ('de__din2', 5, 'Tofu'), ('de__din2', 6, 'Tondern'),
    ('el', 1, 'άλφα'), ('el', 2, 'βήτα'), ('el', 3, 'γάμμα'),
    ('el', 4, 'ζήτα'), ('el', 5, 'σίγμα'), ('el', 6, 'ωμέγα'),
    ('ru', 1, 'елка'), ('ru', 2, 'ёлка'), ('ru', 3, 'ель'),
    ('ru', 4, 'жук'), ('ru', 5, 'Москва'), ('ru', 6, 'яблоко'),
    ('es__traditional', 1, 'llama'), ('es__traditional', 2, 'luz'),
    ('es__traditional', 3, 'noche'), ('es__traditional', 4, 'nube'),
    ('es__traditional', 5, 'ñandú'), ('es__traditional', 6, 'obra'),
    ('sv', 1, 'apple'), ('sv', 2, 'orm'), ('sv', 3, 'zebra'),
    ('sv', 4, 'åker'), ('sv', 5, 'ängel'), ('sv', 6, 'öl'),
    ('sv', 7, 'Örn')
) AS t(locale, rank, word) ORDER BY locale, rank
""",
    "percolate_pruned": f"""
SELECT query_id, doc_id FROM (
  SELECT 'p_lang_range' AS query_id, doc_id FROM documents
  WHERE lang = 'en' AND n_chars BETWEEN 100 AND 400
  UNION ALL
  SELECT 'p_match_spark', doc_id FROM documents
  WHERE list_contains({_TOK_SQL}, 'spark')
  UNION ALL
  SELECT 'p_src_wild', doc_id FROM documents WHERE source LIKE 'src1%'
) ORDER BY query_id, doc_id
""",
    "multi_match_cross_fields": f"""
WITH t1 AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM (
    SELECT doc_id, unnest({_TOK_SQL}) AS term FROM documents)
  WHERE term IN ('spark', 'src3') GROUP BY 1, 2
),
d1 AS (SELECT doc_id, len({_TOK_SQL})::BIGINT AS dl FROM documents),
q1 AS (SELECT doc_id, ({_QDL})::DOUBLE AS qdl FROM d1),
c1 AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM d1),
f1 AS (SELECT term, count(*)::DOUBLE AS df FROM t1 GROUP BY 1),
u1 AS (
  SELECT t1.doc_id, t1.term, t1.tf, f1.df, q1.qdl, c1.avgdl, c1.n_docs
  FROM t1 JOIN f1 USING (term) JOIN q1 ON t1.doc_id = q1.doc_id CROSS JOIN c1
),
t2 AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf FROM (
    SELECT doc_id, unnest(regexp_extract_all(lower(source), '[a-z0-9]+')) AS term FROM documents)
  WHERE term IN ('spark', 'src3') GROUP BY 1, 2
),
d2 AS (SELECT doc_id, len(regexp_extract_all(lower(source), '[a-z0-9]+'))::BIGINT AS dl FROM documents),
q2 AS (SELECT doc_id, ({_QDL})::DOUBLE AS qdl FROM d2),
c2 AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM d2),
f2 AS (SELECT term, count(*)::DOUBLE AS df FROM t2 GROUP BY 1),
u2 AS (
  SELECT t2.doc_id, t2.term, t2.tf, f2.df, q2.qdl, c2.avgdl, c2.n_docs
  FROM t2 JOIN f2 USING (term) JOIN q2 ON t2.doc_id = q2.doc_id CROSS JOIN c2
),
u AS (SELECT * FROM u1 UNION ALL SELECT * FROM u2),
b AS (SELECT term, max(df) AS bdf, max(n_docs) AS nd FROM u GROUP BY 1),
s AS (
  SELECT u.doc_id, u.term,
         ln(1.0 + (b.nd - b.bdf + 0.5) / (b.bdf + 0.5)) * ({K1} + 1.0) * u.tf
         / (u.tf + {K1} * (1.0 - {B} + {B} * u.qdl / u.avgdl)) AS sc
  FROM u JOIN b USING (term)
),
pt AS (SELECT doc_id, term, max(sc) AS ts FROM s GROUP BY 1, 2),
fin AS (SELECT doc_id, sum(ts) AS score_raw FROM pt GROUP BY 1)
SELECT doc_id, round(score_raw, 4) AS score FROM fin
ORDER BY score_raw DESC, doc_id ASC LIMIT 10
""",
    "agg_sibling_buckets": """
WITH b0 AS (
  SELECT event_type, count(*)::BIGINT AS c, sum(value) AS sv
  FROM events GROUP BY 1
),
-- sibling *_bucket pipelines run over the REDUCED, size-limited bucket
-- list (the terms agg's size=10), not the full key space
b AS (SELECT * FROM b0 ORDER BY c DESC, event_type ASC LIMIT 10)
SELECT round(avg(c), 4) AS avg_cnt, round(max(sv), 4) AS max_sv,
       sum(c)::BIGINT AS sum_cnt
FROM b
""",
    "agg_diversified_sampler": """
WITH s AS (
  SELECT doc_id, n_chars FROM (
    SELECT doc_id, n_chars,
           row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
    FROM documents
  ) WHERE rn <= 5
)
SELECT count(*)::BIGINT AS doc_count, count(doc_id)::BIGINT AS n,
       round(avg(n_chars), 4) AS avg_chars
FROM s
""",
    "span_query": _bm25_cte(["order", "join"], msm=1) + """,
sp AS (
  SELECT doc_id FROM (
    SELECT doc_id,
           list_filter(range(1, len(toks) + 1), i -> toks[i] = 'order') AS po,
           list_filter(range(1, len(toks) + 1), i -> toks[i] = 'join') AS pj,
           list_filter(range(1, len(toks) + 1), i -> toks[i] = 'group') AS pg
    FROM tok
  ) WHERE len(list_filter(po, p -> NOT list_contains(pg, p - 1))) + len(pj) > 0
)
SELECT s.doc_id, round(s.score_raw, 4) AS score
FROM scored s JOIN sp USING (doc_id)
ORDER BY s.score_raw DESC, s.doc_id ASC LIMIT 10
""",
    "phrase_suggest_lm": f"""
WITH tok AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
uni AS (SELECT term, count(*)::DOUBLE AS c, count(DISTINCT doc_id)::DOUBLE AS df FROM (
  SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY term),
tot AS (SELECT sum(len(toks))::DOUBLE AS n FROM tok),
big AS (SELECT w1, w2, count(*)::DOUBLE AS c12 FROM (
  SELECT toks[i] AS w1, toks[i + 1] AS w2 FROM tok, unnest(range(1, len(toks))) AS u(i)
) GROUP BY 1, 2),
c1 AS (SELECT term, c, d FROM (
  SELECT term, c, levenshtein(term, 'sirt') AS d,
         row_number() OVER (ORDER BY levenshtein(term, 'sirt'), df DESC, term) AS rn
  FROM uni WHERE levenshtein(term, 'sirt') BETWEEN 1 AND 2 AND abs(len(term) - 4) <= 2
    AND substr(term, 1, 1) = 's'  -- DirectSpellChecker prefix_length 1
) WHERE rn <= 3),
c2 AS (SELECT term, c, d FROM (
  SELECT term, c, levenshtein(term, 'hasj') AS d,
         row_number() OVER (ORDER BY levenshtein(term, 'hasj'), df DESC, term) AS rn
  FROM uni WHERE levenshtein(term, 'hasj') BETWEEN 1 AND 2 AND abs(len(term) - 4) <= 2
    AND substr(term, 1, 1) = 'h'  -- DirectSpellChecker prefix_length 1
) WHERE rn <= 3),
combos AS (
  SELECT c1.term || ' ' || c2.term AS suggestion,
         ln(0.05 * power(2, 1 - c1.d)) + ln(greatest(c1.c, 0.5) / tot.n)
         + ln(0.05 * power(2, 1 - c2.d))
         + ln(CASE WHEN coalesce(b.c12, 0) > 0 THEN b.c12 / c1.c
                   ELSE 0.4 * greatest(c2.c, 0.5) / tot.n END) AS s
  FROM c1 CROSS JOIN c2 CROSS JOIN tot
  LEFT JOIN big b ON b.w1 = c1.term AND b.w2 = c2.term
)
SELECT suggestion, round(s, 6) AS score FROM combos
ORDER BY s DESC, suggestion LIMIT 3
""",
    "sorted_scan_latest": """
SELECT doc_id,
       timestamp '2024-01-01 00:00:00' + (doc_id * 7 % 997) * INTERVAL 1 MINUTE AS ts
FROM documents ORDER BY ts DESC, doc_id ASC LIMIT 10
""",
    "has_child_query": """
SELECT l_orderkey AS id, count(*)::DOUBLE AS score FROM lineitem
WHERE l_quantity >= 45 GROUP BY 1 HAVING count(*) >= 2
ORDER BY id LIMIT 20
""",
    "graph_explore": f"""
WITH t AS (SELECT doc_id, unnest(list_distinct({_TOK_SQL})) AS term FROM documents),
d AS (SELECT DISTINCT doc_id FROM t WHERE term = 'spark'),
co AS (
  SELECT term, count(DISTINCT t.doc_id)::BIGINT AS doc_count
  FROM t JOIN d USING (doc_id) WHERE term <> 'spark' GROUP BY term
)
SELECT term, doc_count FROM co WHERE doc_count >= 3
ORDER BY doc_count DESC, term ASC LIMIT 10
""",
    "agg_rollup_search": """
SELECT cast(ts AS DATE) AS day, count(*)::BIGINT AS doc_count,
       round(sum(value), 4) AS sv, round(max(value), 4) AS mx,
       round(avg(value), 4) AS av
FROM events GROUP BY 1 ORDER BY day
""",
    "es_sql_match": _bm25_cte(["spark", "merge", "vector"], msm=1) + """
SELECT s.doc_id, round(s.score_raw, 4) AS score
FROM scored s JOIN documents d ON s.doc_id = d.doc_id
WHERE d.lang = 'en'
ORDER BY s.score_raw DESC, s.doc_id ASC LIMIT 10
""",
    "eql_sample": """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'error' GROUP BY user_id
),
s2 AS (
  SELECT user_id, min(ts) AS t2 FROM events WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT s1.user_id, t1, t2 FROM s1 JOIN s2 USING (user_id)
ORDER BY user_id, t1 LIMIT 50
""",
    "esql_dialect_fns": """
WITH e AS (
  SELECT CASE WHEN value < 10 THEN 'small' WHEN value < 100 THEN 'mid' ELSE 'large' END AS sz,
         extract(month FROM ts) AS mon,
         starts_with(event_type, 'c') AS is_c,
         value
  FROM events
)
SELECT sz, mon, is_c, count(*)::BIGINT AS n, round(avg(value), 4) AS v
FROM e GROUP BY sz, mon, is_c
ORDER BY sz, mon, is_c
""",
    "esql_scalar_fns": """
SELECT event_type,
       md5(event_type) AS h,
       regexp_replace(event_type, '[aeiou]', '_', 'g') AS rep,
       CAST(len(string_split(event_type, 'e')) AS BIGINT) AS parts,
       round(degrees(1.0), 4) AS deg,
       to_base64(encode(event_type)) AS b64,
       (count(*) FILTER (WHERE strpos(event_type, 'e') > 0))::BIGINT AS n,
       count(*)::BIGINT AS m
FROM events
GROUP BY 1, 2, 3, 4, 5, 6
ORDER BY event_type
""",
    "esql_ts_rate": """
WITH e AS (
  SELECT user_id, ts, sum(value) AS value FROM events GROUP BY user_id, ts
), inc AS (
  SELECT user_id, date_trunc('day', ts) AS d, ts, value,
         lag(value) OVER (PARTITION BY user_id, date_trunc('day', ts) ORDER BY ts) AS prev
  FROM e
), series AS (
  SELECT user_id, d,
         sum(CASE WHEN prev IS NULL THEN 0 WHEN value >= prev THEN value - prev ELSE value END) AS incsum,
         epoch(max(ts)) - epoch(min(ts)) AS dt
  FROM inc GROUP BY user_id, d
), rates AS (SELECT d, incsum / dt AS rate FROM series WHERE dt > 0)
SELECT d, round(sum(rate), 4) AS r, round(avg(rate), 6) AS a
FROM rates GROUP BY d ORDER BY d
""",
    "esql_bucket_stats": """
SELECT date_trunc('day', ts) AS d, count(*)::BIGINT AS n,
       round(sum(value * value) / sum(value), 6) AS w
FROM events GROUP BY 1 ORDER BY d
""",
    "eql_sequence": """
WITH s1 AS (SELECT user_id, ts AS t1 FROM events WHERE event_type = 'view'),
ch AS (
  SELECT s1.user_id, s1.t1,
         (SELECT min(e.ts) FROM events e
          WHERE e.user_id = s1.user_id AND e.event_type = 'purchase'
            AND e.ts > s1.t1) AS t2
  FROM s1
)
SELECT user_id, t1, t2 FROM ch
WHERE t2 IS NOT NULL AND epoch(t2) - epoch(t1) <= 7200
ORDER BY user_id, t1 LIMIT 50
""",
    "eql_sequence_missing": """
WITH s1 AS (SELECT user_id, ts AS t1 FROM events WHERE event_type = 'view'),
ch AS (
  SELECT s1.user_id, s1.t1,
         (SELECT min(e.ts) FROM events e
          WHERE e.user_id = s1.user_id AND e.event_type = 'purchase'
            AND e.ts > s1.t1) AS t2
  FROM s1
)
SELECT user_id, t1, t2 FROM ch
WHERE t2 IS NOT NULL AND epoch(t2) - epoch(t1) <= 7200
  AND NOT EXISTS (SELECT 1 FROM events x
                  WHERE x.user_id = ch.user_id AND x.event_type = 'error'
                    AND x.ts > ch.t1 AND x.ts < ch.t2)
ORDER BY user_id, t1 LIMIT 50
""",
    "dedup_simhash": _simhash_sql(),
    "dsl_knn_query": """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
c AS (
  SELECT vec_id, label,
         list_dot_product(embedding::DOUBLE[], qv) /
         (sqrt(list_dot_product(qv, qv)) *
          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS cos
  FROM embeddings CROSS JOIN q
  WHERE vec_id != 0 AND label = 1
)
SELECT vec_id, label, round(cos, 4) AS cosine
FROM c ORDER BY cos DESC, vec_id ASC LIMIT 10
""",
    "dsl_vector_script_score": """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, round(1.0 +
    list_dot_product(embedding::DOUBLE[], qv) /
    (sqrt(list_dot_product(qv, qv)) *
     sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))), 4) AS score
FROM embeddings CROSS JOIN q WHERE vec_id != 0
ORDER BY list_dot_product(embedding::DOUBLE[], qv) /
         (sqrt(list_dot_product(qv, qv)) *
          sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) DESC,
         vec_id ASC
LIMIT 10
""",
    "agg_significant_chi_square": """
WITH counts AS (
  SELECT lang AS key,
         sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)::DOUBLE AS n11,
         count(*)::DOUBLE AS n1_
  FROM documents GROUP BY lang
),
tot AS (
  SELECT sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END)::DOUBLE AS n_1,
         count(*)::DOUBLE AS n FROM documents
),
sc AS (
  SELECT key, n11::BIGINT AS doc_count, n1_::BIGINT AS bg_count,
         n * power(n11 * (n - n1_ - (n_1 - n11)) - (n_1 - n11) * (n1_ - n11), 2)
           / (n_1 * n1_ * (n - n1_) * (n - n_1)) AS score
  FROM counts CROSS JOIN tot WHERE n11 > 0
)
SELECT key, doc_count, bg_count, round(score, 4) AS score FROM sc
WHERE score > 0 ORDER BY score DESC, key ASC LIMIT 10
""",
    "agg_multi_terms": """
SELECT lang || '|' || source AS key, count(*)::BIGINT AS doc_count,
       round(avg(n_chars), 4) AS avg_chars
FROM documents GROUP BY lang, source
ORDER BY doc_count DESC, key ASC LIMIT 10
""",
    "agg_inference": """
WITH b AS (
  SELECT lang AS key, count(*)::BIGINT AS doc_count,
         avg(n_chars) AS avg_chars_full
  FROM documents GROUP BY lang
  ORDER BY doc_count DESC, key ASC LIMIT 20
)
SELECT key, doc_count, round(avg_chars_full, 4) AS avg_chars,
       round(1.0 / (1.0 + exp(-(
           0.3 * (CASE WHEN doc_count <= 100.0 THEN 1.0 ELSE 10.0 END)
         + 2.0 * (CASE WHEN avg_chars_full <= 900.0 THEN 0.0 ELSE 1.0 END)
       ))), 6) AS score
FROM b
""",
    "agg_ip_prefix": """
SELECT concat('10.', ((user_id >> 16) & 255)::VARCHAR, '.',
              (((user_id >> 8) & 255) & 240)::VARCHAR, '.0') AS key,
       count(*)::BIGINT AS doc_count, round(sum(value), 4) AS sv
FROM events GROUP BY 1 ORDER BY key
""",
    "agg_string_stats": """
WITH ch AS (SELECT unnest(string_split(text, '')) AS c FROM documents),
d AS (SELECT c, count(*)::DOUBLE AS n FROM ch WHERE c <> '' GROUP BY c),
t AS (SELECT sum(n) AS s FROM d),
e AS (SELECT round(-sum((n / s) * log2(n / s)), 4) AS entropy FROM d, t),
b AS (SELECT count(text)::BIGINT AS count, min(length(text))::BIGINT AS min_length,
             max(length(text))::BIGINT AS max_length,
             round(avg(length(text)), 4) AS avg_length
      FROM documents)
SELECT b.*, e.entropy FROM b, e
""",
    "agg_boxplot": """
WITH q AS (SELECT quantile_cont(value, 0.25) AS q1, quantile_cont(value, 0.50) AS q2,
                  quantile_cont(value, 0.75) AS q3 FROM events)
SELECT round(min(value), 4) AS "min", round(max(value), 4) AS "max",
       round(min(q1), 4) AS q1, round(min(q2), 4) AS q2, round(min(q3), 4) AS q3,
       round(min(CASE WHEN value >= q1 - 1.5 * (q3 - q1) THEN value END), 4) AS lower,
       round(max(CASE WHEN value <= q3 + 1.5 * (q3 - q1) THEN value END), 4) AS upper
FROM events, q
""",
    "agg_matrix_stats": """
WITH m AS (
  SELECT count(l_quantity)::BIGINT AS n_q, avg(l_quantity) AS m1_q,
         avg(l_quantity * l_quantity) AS m2_q,
         avg(l_quantity * l_quantity * l_quantity) AS m3_q,
         avg(l_quantity * l_quantity * l_quantity * l_quantity) AS m4_q,
         count(l_discount)::BIGINT AS n_d, avg(l_discount) AS m1_d,
         avg(l_discount * l_discount) AS m2_d,
         avg(l_discount * l_discount * l_discount) AS m3_d,
         avg(l_discount * l_discount * l_discount * l_discount) AS m4_d,
         covar_pop(l_quantity, l_quantity) AS cov_qq,
         covar_pop(l_quantity, l_discount) AS cov_qd,
         covar_pop(l_discount, l_discount) AS cov_dd,
         corr(l_quantity, l_quantity) AS cor_qq,
         corr(l_quantity, l_discount) AS cor_qd,
         corr(l_discount, l_discount) AS cor_dd
  FROM lineitem
)
SELECT * FROM (
  SELECT 'l_discount' AS field_x, 'l_discount' AS field_y, n_d AS count,
         round(m1_d, 4) AS mean_x, round(m2_d - m1_d * m1_d, 4) AS variance_x,
         round((m3_d - 3 * m1_d * m2_d + 2 * power(m1_d, 3)) / power(m2_d - m1_d * m1_d, 1.5), 4) AS skewness_x,
         round((m4_d - 4 * m1_d * m3_d + 6 * power(m1_d, 2) * m2_d - 3 * power(m1_d, 4)) / power(m2_d - m1_d * m1_d, 2), 4) AS kurtosis_x,
         round(cov_dd, 4) AS covariance, round(cor_dd, 4) AS correlation FROM m
  UNION ALL
  SELECT 'l_discount', 'l_quantity', n_d, round(m1_d, 4), round(m2_d - m1_d * m1_d, 4),
         round((m3_d - 3 * m1_d * m2_d + 2 * power(m1_d, 3)) / power(m2_d - m1_d * m1_d, 1.5), 4),
         round((m4_d - 4 * m1_d * m3_d + 6 * power(m1_d, 2) * m2_d - 3 * power(m1_d, 4)) / power(m2_d - m1_d * m1_d, 2), 4),
         round(cov_qd, 4), round(cor_qd, 4) FROM m
  UNION ALL
  SELECT 'l_quantity', 'l_discount', n_q, round(m1_q, 4), round(m2_q - m1_q * m1_q, 4),
         round((m3_q - 3 * m1_q * m2_q + 2 * power(m1_q, 3)) / power(m2_q - m1_q * m1_q, 1.5), 4),
         round((m4_q - 4 * m1_q * m3_q + 6 * power(m1_q, 2) * m2_q - 3 * power(m1_q, 4)) / power(m2_q - m1_q * m1_q, 2), 4),
         round(cov_qd, 4), round(cor_qd, 4) FROM m
  UNION ALL
  SELECT 'l_quantity', 'l_quantity', n_q, round(m1_q, 4), round(m2_q - m1_q * m1_q, 4),
         round((m3_q - 3 * m1_q * m2_q + 2 * power(m1_q, 3)) / power(m2_q - m1_q * m1_q, 1.5), 4),
         round((m4_q - 4 * m1_q * m3_q + 6 * power(m1_q, 2) * m2_q - 3 * power(m1_q, 4)) / power(m2_q - m1_q * m1_q, 2), 4),
         round(cov_qq, 4), round(cor_qq, 4) FROM m
) ORDER BY field_x, field_y
""",
    "agg_variable_width_histogram": """
WITH t AS (SELECT value, event_id, ntile(6) OVER (ORDER BY value, event_id) AS tt FROM events)
SELECT round(avg(value), 4) AS key, round(min(value), 4) AS "min",
       round(max(value), 4) AS "max", count(*)::BIGINT AS doc_count
FROM t GROUP BY tt ORDER BY tt
""",
    "agg_normalize": """
WITH b AS (SELECT cast(ts AS DATE) AS day, count(*)::BIGINT AS doc_count
           FROM events GROUP BY 1)
SELECT day, doc_count,
       round(100.0 * doc_count / sum(doc_count) OVER (), 6) AS pct,
       round((doc_count - avg(doc_count) OVER ()) / stddev_pop(doc_count) OVER (), 6) AS z
FROM b ORDER BY day
""",
    "agg_moving_percentiles": """
WITH b AS (SELECT cast(ts AS DATE) AS day, sum(value) AS sv
           FROM events GROUP BY 1)
SELECT day, round(sv, 4) AS sv,
       round(quantile_cont(sv, 0.5) OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING), 4) AS mp_50
FROM b ORDER BY day
""",
    "agg_t_test": """
WITH a AS (SELECT count(*) AS n, avg(l_extendedprice) AS m, var_samp(l_extendedprice) AS v
           FROM lineitem WHERE l_returnflag = 'R'),
     b AS (SELECT count(*) AS n, avg(l_extendedprice) AS m, var_samp(l_extendedprice) AS v
           FROM lineitem WHERE l_returnflag = 'N')
SELECT a.n::BIGINT AS n_a, b.n::BIGINT AS n_b,
       round((a.m - b.m) / sqrt(a.v/a.n + b.v/b.n), 6) AS t_stat,
       round(pow(a.v/a.n + b.v/b.n, 2)
             / (pow(a.v/a.n, 2)/(a.n-1) + pow(b.v/b.n, 2)/(b.n-1)), 4) AS dof
FROM a, b
""",
    "agg_categorize_text": """
SELECT ('event ' || event_type || ' user took ms') AS key,
       count(*)::BIGINT AS doc_count
FROM events GROUP BY 1 ORDER BY doc_count DESC, key LIMIT 6
""",
    "agg_geo_line": """
WITH p AS (
  SELECT user_id, value % 360 - 180 AS lon, value % 170 - 85 AS lat,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS seq
  FROM events WHERE user_id < 5)
SELECT user_id, seq::INT AS seq, round(lon, 4) AS lon, round(lat, 4) AS lat
FROM p WHERE seq < 8 ORDER BY user_id, seq
""",
    "agg_frequent_item_sets": """
WITH tx AS (
  SELECT o_orderkey AS tid, 'o_orderstatus=' || o_orderstatus AS item FROM orders
  UNION ALL
  SELECT o_orderkey, 'o_orderpriority=' || o_orderpriority FROM orders
), n AS (SELECT count(*) AS c FROM orders),
l1 AS (SELECT item FROM tx GROUP BY 1
       HAVING count(*) >= ceil(0.02 * (SELECT c FROM n))),
pairs AS (
  SELECT a.item AS i1, b.item AS i2, count(*) AS dc
  FROM tx a JOIN tx b ON a.tid = b.tid AND a.item < b.item
  WHERE a.item IN (SELECT item FROM l1) AND b.item IN (SELECT item FROM l1)
  GROUP BY 1, 2 HAVING count(*) >= ceil(0.02 * (SELECT c FROM n)))
SELECT i1 || ',' || i2 AS key, 2::INT AS set_size, dc::BIGINT AS doc_count,
       round(dc / (SELECT c FROM n)::DOUBLE, 6) AS support
FROM pairs ORDER BY doc_count DESC, key LIMIT 10
""",
    "agg_children": """
SELECT o_orderpriority AS key, count(*)::BIGINT AS doc_count,
       round(avg(l_quantity), 6) AS avg_qty
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY 1 ORDER BY doc_count DESC, key LIMIT 5
""",
    "agg_parent": """
SELECT count(DISTINCT o_orderkey)::BIGINT AS doc_count
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
""",
    "dsl_rule_query": """
WITH pin(pk, rk) AS (VALUES (42, 1), (7, 2)),
live AS (SELECT pk, rk FROM pin JOIN part ON pk = p_partkey),
org AS (SELECT p_partkey, 1.5 AS score FROM part
        WHERE p_retailprice >= 998.5 AND p_partkey NOT IN (SELECT pk FROM live)
          AND p_partkey <> 199)
SELECT pk AS p_partkey, round(1e12 + 2 - rk, 4) AS score FROM live
UNION ALL SELECT p_partkey, score FROM org
ORDER BY score DESC, p_partkey LIMIT 20
""",
    "dsl_pinned": """
WITH pin(pk, rk) AS (VALUES (42, 1), (7, 2), (199, 3)),
live AS (SELECT pk, rk FROM pin JOIN part ON pk = p_partkey),
org AS (SELECT p_partkey, 1.5 AS score FROM part
        WHERE p_retailprice >= 998.5 AND p_partkey NOT IN (SELECT pk FROM live))
SELECT pk AS p_partkey, round(1e12 + 3 - rk, 4) AS score FROM live
UNION ALL SELECT p_partkey, score FROM org
ORDER BY score DESC, p_partkey LIMIT 20
""",
    "text_structure_roundtrip": """
SELECT event_type, COUNT(*)::BIGINT AS doc_count,
       ROUND(SUM(value), 4) AS total_value
FROM events GROUP BY event_type ORDER BY event_type
""",
    "wildcard_field_query": """
SELECT p_partkey, p_name FROM part
WHERE lower(p_name) LIKE '%small%ring%'
ORDER BY p_partkey
""",
    "annotated_text_term": r"""
SELECT lang, COUNT(*)::BIGINT AS doc_count FROM documents
WHERE regexp_matches(text, '\bdata\b')
GROUP BY lang ORDER BY lang
""",
    "murmur3_cardinality": """
SELECT lang, COUNT(DISTINCT source)::BIGINT AS source_cardinality
FROM documents GROUP BY lang ORDER BY lang
""",
    "size_field_histogram": """
SELECT strlen('{"doc_id":' || doc_id || ',"lang":"' || lang || '"}')::INT AS size_bytes,
       COUNT(*)::BIGINT AS doc_count
FROM documents GROUP BY size_bytes ORDER BY size_bytes
""",
    "dsl_more_like_this": f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL} AS toks FROM documents
),
dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tok),
qdl AS (SELECT doc_id, ({_QDL})::DOUBLE AS qdl FROM dl),
coll AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
alltf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok) GROUP BY 1, 2
),
alldf AS (SELECT term, count(*)::DOUBLE AS df FROM alltf GROUP BY 1),
qterms AS (
  SELECT t.term
  FROM alltf t JOIN alldf d USING (term) CROSS JOIN coll
  WHERE t.doc_id = 7 AND d.df >= 2
  GROUP BY t.term, d.df, coll.n_docs
  ORDER BY sum(t.tf) * ln(coll.n_docs / (d.df + 1.0)) DESC, t.term ASC
  LIMIT 10
),
tf AS (SELECT * FROM alltf WHERE term IN (SELECT term FROM qterms)),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (coll.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
             * ({K1} + 1.0) * tf.tf
             / (tf.tf + {K1} * (1.0 - {B} + {B} * qdl.qdl / coll.avgdl))) AS score_raw
  FROM tf JOIN dfs USING (term) JOIN qdl ON tf.doc_id = qdl.doc_id CROSS JOIN coll
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score_raw, 4) AS score FROM scored
WHERE doc_id != 7
ORDER BY score_raw DESC, doc_id ASC LIMIT 10
""",
    "dsl_match_bool_prefix_query": f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL} AS toks FROM documents
),
dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tok),
qdl AS (SELECT doc_id, ({_QDL})::DOUBLE AS qdl FROM dl),
coll AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term IN ('spark') GROUP BY 1, 2
),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (coll.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
             * ({K1} + 1.0) * tf.tf
             / (tf.tf + {K1} * (1.0 - {B} + {B} * qdl.qdl / coll.avgdl))) AS score_raw
  FROM tf JOIN dfs USING (term) JOIN qdl ON tf.doc_id = qdl.doc_id CROSS JOIN coll
  GROUP BY tf.doc_id
),
pfx AS (
  SELECT doc_id FROM tok WHERE len(list_filter(toks, t -> starts_with(t, 'jo'))) > 0
),
u AS (
  SELECT coalesce(s.doc_id, p.doc_id) AS doc_id,
         coalesce(s.score_raw, 0) + CASE WHEN p.doc_id IS NULL THEN 0 ELSE 1.0 END AS sc
  FROM scored s FULL JOIN pfx p USING (doc_id)
)
SELECT doc_id, round(sc, 4) AS score FROM u
ORDER BY sc DESC, doc_id ASC LIMIT 10
""",
    "dsl_combined_fields_query": f"""
WITH tok AS (
  SELECT doc_id, list_concat(regexp_extract_all(lower(text), '[a-z0-9]+'),
                             regexp_extract_all(lower(source), '[a-z0-9]+')) AS toks
  FROM documents
),
dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tok),
qdl AS (SELECT doc_id, ({_QDL})::DOUBLE AS qdl FROM dl),
coll AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf AS (
  SELECT doc_id, term, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term IN ('spark', 'src3') GROUP BY 1, 2
),
dfs AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY 1),
scored AS (
  SELECT tf.doc_id,
         sum(ln(1.0 + (coll.n_docs - dfs.df + 0.5) / (dfs.df + 0.5))
             * ({K1} + 1.0) * tf.tf
             / (tf.tf + {K1} * (1.0 - {B} + {B} * qdl.qdl / coll.avgdl))) AS score_raw,
         count(*)::INT AS matched
  FROM tf JOIN dfs USING (term) JOIN qdl ON tf.doc_id = qdl.doc_id CROSS JOIN coll
  GROUP BY tf.doc_id HAVING count(*) >= 1
)
SELECT doc_id, round(score_raw, 4) AS score FROM scored
ORDER BY score_raw DESC, doc_id ASC LIMIT 10
""",
    "dsl_rescore_window": f"""
WITH tok AS (
  SELECT doc_id, {_TOK_SQL} AS toks FROM documents
),
dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM tok),
qdl AS (SELECT doc_id, ({_QDL})::DOUBLE AS qdl FROM dl),
coll AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
tf1 AS (
  SELECT doc_id, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term = 'spark' GROUP BY 1
),
s1 AS (
  SELECT tf1.doc_id,
         ln(1.0 + (coll.n_docs - d1.df + 0.5) / (d1.df + 0.5))
           * ({K1} + 1.0) * tf1.tf
           / (tf1.tf + {K1} * (1.0 - {B} + {B} * qdl.qdl / coll.avgdl)) AS s
  FROM tf1 CROSS JOIN (SELECT count(*)::DOUBLE AS df FROM tf1) d1
  JOIN qdl ON tf1.doc_id = qdl.doc_id CROSS JOIN coll
),
tf2 AS (
  SELECT doc_id, count(*)::BIGINT AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
  WHERE term = 'merge' GROUP BY 1
),
s2 AS (
  SELECT tf2.doc_id,
         ln(1.0 + (coll.n_docs - d2.df + 0.5) / (d2.df + 0.5))
           * ({K1} + 1.0) * tf2.tf
           / (tf2.tf + {K1} * (1.0 - {B} + {B} * qdl.qdl / coll.avgdl)) AS s
  FROM tf2 CROSS JOIN (SELECT count(*)::DOUBLE AS df FROM tf2) d2
  JOIN qdl ON tf2.doc_id = qdl.doc_id CROSS JOIN coll
),
ranked AS (
  SELECT doc_id, s, row_number() OVER (ORDER BY s DESC, doc_id ASC) AS rnk
  FROM s1
),
resc AS (
  -- QueryRescorer.combine: the re-sorted WINDOW block stays FIRST (never
  -- out-promoted), the tail keeps original order scaled by query_weight
  SELECT r.doc_id,
         CASE WHEN r.rnk <= 10
              THEN 0.7 * r.s + 1.2 * coalesce(s2.s, 0)
              ELSE 0.7 * r.s END AS score,
         CASE WHEN r.rnk <= 10 THEN 0 ELSE 1 END AS blk,
         r.rnk
  FROM ranked r LEFT JOIN s2 ON r.doc_id = s2.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM resc
ORDER BY blk ASC,
         CASE WHEN blk = 0 THEN score END DESC NULLS LAST,
         CASE WHEN blk = 1 THEN rnk END ASC NULLS LAST,
         doc_id ASC
LIMIT 10
""",
    "text_boilerplate_strip": """
SELECT lang, COUNT(*)::BIGINT AS doc_count, SUM(strlen(text))::BIGINT AS chars
FROM documents GROUP BY lang ORDER BY lang
""",
    "text_bigram_perplexity": """
WITH tok AS (
  SELECT doc_id, lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM documents
),
bg AS (
  SELECT doc_id, lang, u.z[1] AS w1, u.z[2] AS w2
  FROM tok, UNNEST(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) AS u(z)
  WHERE len(toks) >= 2
),
bgc AS (SELECT w1, w2, COUNT(*)::DOUBLE AS c12 FROM bg GROUP BY 1, 2),
uni AS (SELECT w1, COUNT(*)::DOUBLE AS c1 FROM bg GROUP BY 1),
v AS (SELECT COUNT(*)::DOUBLE AS v FROM uni),
lp AS (
  SELECT bg.doc_id, bg.lang, ln((c12 + 1.0) / (c1 + v.v)) AS lp
  FROM bg JOIN bgc USING (w1, w2) JOIN uni USING (w1) CROSS JOIN v
),
per_doc AS (
  SELECT doc_id, lang, exp(-avg(lp)) AS ppl FROM lp GROUP BY 1, 2
)
SELECT lang, round(avg(ppl), 4) AS avg_ppl, COUNT(*)::BIGINT AS doc_count
FROM per_doc GROUP BY lang ORDER BY lang
""",
    "text_url_normalize": """
WITH u AS (
  SELECT doc_id,
         'example.' || CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org'
                       ELSE 'co.uk' END AS domain,
         'https://site' || (doc_id % 50) || '.example.'
           || CASE doc_id % 3 WHEN 0 THEN 'com' WHEN 1 THEN 'org' ELSE 'co.uk' END
           || '/p/' || doc_id || '?id=' || doc_id AS norm
  FROM documents
)
SELECT domain, COUNT(*)::BIGINT AS doc_count,
       COUNT(DISTINCT norm)::BIGINT AS distinct_urls
FROM u GROUP BY domain ORDER BY domain
""",
    "highlight_whole_field": """
SELECT doc_id, regexp_replace(text, '(spark)', '<em>\\1</em>', 'g') AS highlight
FROM documents WHERE text LIKE '%spark%'
ORDER BY doc_id LIMIT 50
""",
    "dsl_regexp_query": """
SELECT source, COUNT(*)::BIGINT AS doc_count FROM documents
WHERE regexp_matches(source, '^(?:src[0-3])$')
GROUP BY source ORDER BY source
""",
    "dsl_search_after_page": """
WITH ordered AS (
  SELECT doc_id, n_chars, row_number() OVER (ORDER BY n_chars, doc_id) AS rn
  FROM documents
)
SELECT doc_id, n_chars FROM ordered WHERE rn BETWEEN 6 AND 10
ORDER BY n_chars, doc_id
""",
    "dsl_nested_query": """
SELECT o_orderstatus, COUNT(*)::BIGINT AS doc_count
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey AND l_quantity >= 45 AND l_returnflag = 'R'
)
GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    "dsl_exists_query": """
SELECT lang, COUNT(*)::BIGINT AS doc_count FROM documents
WHERE n_chars % 3 = 0 GROUP BY lang ORDER BY lang
""",
    "dsl_terms_set_query": """
SELECT lang, COUNT(*)::BIGINT AS doc_count FROM documents
WHERE len(list_distinct(list_intersect(string_split(text, ' '),
      ['spark', 'merge', 'vector', 'join']))) >= 2
GROUP BY lang ORDER BY lang
""",
    "dsl_query_string_filter": """
SELECT COUNT(*)::BIGINT AS doc_count FROM documents
WHERE lang = 'en' AND source = 'src3'
""",
    "dsl_query_string_extended": """
WITH toks AS (
  SELECT doc_id, lang, source,
         array_to_string(regexp_extract_all(lower(text), '[a-z0-9]+'), ' ') AS stream
  FROM documents
)
SELECT lang, count(*)::BIGINT AS n FROM toks
WHERE (lang LIKE 'e_' OR regexp_full_match(lang, 'd.'))
  AND regexp_matches(stream, '(^| )table( [a-z0-9]+)? value( |$)')
  AND source <> 'src9'
GROUP BY lang ORDER BY lang
""",
    "dsl_distance_feature_query": """
SELECT doc_id, round(50.0 / (50.0 + abs(n_chars - 300)), 4) AS score
FROM documents
ORDER BY 50.0 / (50.0 + abs(n_chars - 300)) DESC, doc_id ASC LIMIT 10
""",
    "dsl_rank_feature_query": """
SELECT doc_id, round(n_chars / (n_chars + 250.0), 4) AS score
FROM documents WHERE n_chars > 0
ORDER BY n_chars / (n_chars + 250.0) DESC, doc_id ASC LIMIT 10
""",
    "dsl_geo_distance_query": """
WITH pts AS (
  SELECT event_type,
         (user_id % 180 - 90)::DOUBLE AS lat,
         ((event_id * 7) % 360 - 180)::DOUBLE AS lon
  FROM events
)
SELECT event_type, COUNT(*)::BIGINT AS doc_count FROM pts
WHERE 2 * 6371008.8 * asin(sqrt(
        pow(sin(radians(lat - 10.0) / 2), 2)
        + cos(radians(10.0)) * cos(radians(lat))
          * pow(sin(radians(lon - 20.0) / 2), 2))) <= 3000000
GROUP BY event_type ORDER BY event_type
""",
    "dsl_script_query": """
SELECT lang, COUNT(*)::BIGINT AS doc_count FROM documents
WHERE n_chars % 7 = 0 GROUP BY lang ORDER BY lang
""",
    "dsl_script_regex_query": """
SELECT lang, COUNT(*)::BIGINT AS doc_count FROM documents
WHERE source IS NOT NULL
  AND regexp_full_match(source, 'src(\\d+)')
  AND CAST(regexp_extract(source, 'src(\\d+)', 1) AS BIGINT) >= 10
  AND regexp_full_match(lang, 'en|de')
GROUP BY lang ORDER BY lang
""",
    "agg_percentiles_hdr": """
WITH q AS (
  SELECT CASE WHEN value = 0 THEN 0.0
              ELSE floor(value / power(2, floor(log2(value)) + 1 - 11))
                   * power(2, floor(log2(value)) + 1 - 11) END AS qv
  FROM events
)
SELECT round(quantile_cont(qv, 0.50), 4) AS p50,
       round(quantile_cont(qv, 0.90), 4) AS p90,
       round(quantile_cont(qv, 0.99), 4) AS p99
FROM q
""",
    "dsl_geo_shape_stored": """
WITH d AS (
  SELECT (event_id % 37 - 18)::DOUBLE AS cx,
         (event_id % 23 - 11)::DOUBLE AS cy,
         (event_id % 3 + 1)::DOUBLE AS r
  FROM events
)
SELECT
  SUM(CASE WHEN greatest(0, -1 - cx, cx - 1) + greatest(0, -1 - cy, cy - 1) <= r
      THEN 1 ELSE 0 END)::BIGINT AS n_int,
  SUM(CASE WHEN greatest(0, -1 - cx, cx - 1) + greatest(0, -1 - cy, cy - 1) > r
      THEN 1 ELSE 0 END)::BIGINT AS n_dis,
  SUM(CASE WHEN cx - r >= -1 AND cx + r <= 1 AND cy - r >= -1 AND cy + r <= 1
      THEN 1 ELSE 0 END)::BIGINT AS n_win,
  SUM(CASE WHEN abs(-1 - cx) + abs(-1 - cy) <= r
            AND abs( 1 - cx) + abs(-1 - cy) <= r
            AND abs( 1 - cx) + abs( 1 - cy) <= r
            AND abs(-1 - cx) + abs( 1 - cy) <= r
      THEN 1 ELSE 0 END)::BIGINT AS n_con
FROM d
""",
    "analysis_cjk": """
SELECT token, cnt::BIGINT AS cnt FROM (VALUES
    ('elasticsearch', 1), ('で', 1), ('の', 1), ('をしています', 2),
    ('一个', 1), ('一起', 1), ('人工智能', 1), ('今天', 1),
    ('仕事', 1), ('使用', 1), ('倒排索引', 1), ('分布式', 1), ('勉強', 1),
    ('和', 1), ('喜欢', 1), ('天气', 1), ('好', 1), ('学习', 1),
    ('很', 1), ('我们', 2), ('搜索引擎', 2), ('日本語', 1),
    ('是', 1), ('机器学习', 1), ('東京', 1), ('查询', 1), ('进行', 1)
) AS t(token, cnt) ORDER BY token
""",
    "analysis_kuromoji": """
SELECT token, cnt::BIGINT AS cnt FROM (VALUES
    ('ゲイツ', 1), ('コンピュータ', 1), ('サッカ', 1), ('ビル', 1),
    ('二百三十五', 1), ('人', 1), ('人々', 1), ('仕事', 1), ('勉強', 2),
    ('参加', 1), ('好き', 1), ('日本語', 1), ('東京', 1), ('試合', 1)
) AS t(token, cnt) ORDER BY token
""",
    "analysis_cjk_coverage": """
SELECT lang, tokens::BIGINT AS tokens, known::BIGINT AS known FROM (VALUES
    ('ja', 53, 51), ('ko', 37, 34), ('zh', 48, 47)
) AS t(lang, tokens, known) ORDER BY lang
""",
    "analysis_nori": """
SELECT token, cnt::BIGINT AS cnt FROM (VALUES
    ('간다', 1), ('갔다', 1), ('검색', 1), ('기차', 1), ('바나나', 1),
    ('부산', 1), ('사과', 1), ('사용', 1), ('샀다', 1), ('서울', 1),
    ('아버지', 1), ('엔진', 1), ('역색인', 1), ('포도', 1), ('학교', 1)
) AS t(token, cnt) ORDER BY token
""",
    "dsl_scripted_metric_state": """
SELECT event_type,
       SUM(CAST(trunc(value * 100) AS BIGINT))::BIGINT AS sum_cents
FROM events GROUP BY event_type ORDER BY event_type
""",
    "dsl_painless_script_query": """
SELECT lang, COUNT(*)::BIGINT AS doc_count FROM documents
WHERE len(list_filter(string_split(text, ' '), w -> length(w) > 6)) >= 3
GROUP BY lang ORDER BY lang
""",
    "dsl_painless_runtime_field": """
SELECT CASE WHEN n_chars >= 400 THEN 'long'
            WHEN n_chars >= 200 THEN 'medium'
            ELSE 'short' END AS size_class,
       COUNT(*)::BIGINT AS doc_count
FROM documents GROUP BY 1 ORDER BY size_class
""",
    "dsl_wrapper_query": """
SELECT COUNT(*)::BIGINT AS doc_count FROM documents WHERE lang = 'en'
""",
    "dsl_semantic_query": """
WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
SELECT vec_id, label, round(
    list_dot_product(embedding::DOUBLE[], qv) /
    (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
     sqrt(list_dot_product(qv, qv))), 4) AS cosine
FROM embeddings CROSS JOIN q WHERE vec_id != 0
ORDER BY list_dot_product(embedding::DOUBLE[], qv) /
         (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) *
          sqrt(list_dot_product(qv, qv))) DESC, vec_id ASC
LIMIT 10
""",
    "agg_bucket_correlation": """
WITH b AS (
  SELECT event_type, COUNT(*)::DOUBLE AS n_all,
         (COUNT(*) FILTER (WHERE value >= 50))::DOUBLE AS n_sub
  FROM events GROUP BY event_type
),
c AS (
  SELECT (SELECT COUNT(*)::DOUBLE FROM events) AS dc,
         COUNT(*)::DOUBLE AS nb, AVG(n_all) AS xmean, SUM(n_sub) AS ysum
  FROM b
),
v AS (
  SELECT c.*,
         (SELECT SUM((n_all - c.xmean) * (n_all - c.xmean)) / c.nb FROM b) AS xvar,
         c.ysum / c.dc AS w
  FROM c
),
k AS (
  SELECT v.*, (1 - w) * w * w + w * (1 - w) * (1 - w) AS yvar,
         (SELECT SUM(-(v.dc / v.nb - n_sub) * (n_all - v.xmean) * v.w
                     + n_sub * (n_all - v.xmean) * (1.0 - v.w)) FROM b) / v.dc AS xycov
  FROM v
)
SELECT ROUND(xycov / SQRT(xvar * yvar), 4) AS corr FROM k
""",
    "agg_bucket_ks_test": """
WITH b AS (SELECT event_type, COUNT(*)::DOUBLE AS n FROM events GROUP BY event_type),
cdf AS (
  SELECT SUM(n) OVER (ORDER BY event_type) / (SELECT SUM(n) FROM b) AS fx,
         (ROW_NUMBER() OVER (ORDER BY event_type))::DOUBLE / (SELECT COUNT(*) FROM b) AS fy
  FROM b
),
st AS (
  SELECT MAX(GREATEST(fy - fx, 0)) AS d_less, MAX(GREATEST(fx - fy, 0)) AS d_greater,
         MAX(ABS(fx - fy)) AS d_two, (SELECT COUNT(*)::DOUBLE FROM b) AS nb
  FROM cdf
),
z AS (
  SELECT SQRT(nb * nb / (2 * nb)) * d_less AS zl,
         SQRT(nb * nb / (2 * nb)) * d_greater AS zg,
         SQRT(nb * nb / (2 * nb)) * d_two AS zt,
         (nb + 2 * nb) / SQRT(nb * nb * 2 * nb) AS cont
  FROM st
)
SELECT
  ROUND(LEAST(1.0, EXP(-2 * zl * zl - 2 * zl * cont / 3)), 4) AS "ks.less",
  ROUND(LEAST(1.0, EXP(-2 * zg * zg - 2 * zg * cont / 3)), 4) AS "ks.greater",
  ROUND(CASE WHEN zt < 1e-9 THEN 1.0 ELSE LEAST(1.0, GREATEST(0.0,
    (SELECT 2 * SUM((CASE WHEN k % 2 = 1 THEN 1 ELSE -1 END) * EXP(-2 * k * k * z.zt * z.zt))
     FROM generate_series(1, 100) t(k)))) END, 4) AS "ks.two_sided"
FROM z
""",
}


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "field_range_relation": f_range_relation,
    "field_flattened_query": f_flattened_query,
    "field_token_count": f_token_count,
    "match_only_text_score": f_match_only_text,
    "agg_time_series": a_time_series,
    "agg_aggregate_metric": a_aggregate_metric,
    "field_unsigned_long_sort": f_unsigned_long_sort,
    "field_version_sort": f_version_sort,
    "ingest_geoip": p_ingest_geoip,
    "match_or_bm25": q_match_or,
    "match_and_bm25": q_match_and,
    "match_msm_bm25": q_match_msm,
    "bool_filtered_bm25": q_bool_filtered,
    "match_phrase": q_match_phrase,
    "term_query_agg": q_term_agg,
    "prefix_query": q_prefix,
    "fuzzy_query": q_fuzzy,
    "range_query_events": q_range_events,
    "ids_query": q_ids,
    "wildcard_query": q_wildcard,
    "terms_lookup": q_terms_lookup,
    "dsl_lookup_fields": q_lookup_fields,
    "agg_terms": a_terms,
    "agg_date_histogram": a_date_histogram,
    "agg_histogram": a_histogram,
    "agg_stats": a_stats,
    "agg_extended_stats": a_extended_stats,
    "agg_percentiles": a_percentiles,
    "agg_cardinality": a_cardinality,
    "agg_cardinality_approx": a_cardinality_approx,
    "agg_top_hits": a_top_hits,
    "agg_collapse": a_collapse,
    "agg_value_count_missing": a_value_count_missing,
    "agg_weighted_avg": a_weighted_avg,
    "agg_composite": a_composite,
    "agg_filters": a_filters,
    "agg_range": a_range,
    "agg_top_metrics": a_top_metrics,
    "agg_rate": a_rate,
    "agg_t_test": a_t_test,
    "agg_categorize_text": a_categorize_text,
    "agg_geo_line": a_geo_line,
    "agg_frequent_item_sets": a_frequent_item_sets,
    "agg_children": a_children,
    "agg_parent": a_parent,
    "dsl_pinned": dsl_pinned,
    "agg_sessionize": a_sessionize,
    "agg_pipeline_cumsum": a_pipeline_cumsum,
    "agg_significant_terms": a_significant_terms,
    "bm25_index_wand": q_index_wand_topk,
    "phrase_index": q_index_phrase,
    "term_suggest": q_term_suggest,
    "terms_enum": q_terms_enum,
    "msearch_wand": q_msearch_wand,
    "dsl_bool_full": dsl_bool_full,
    "dsl_dismax": dsl_dismax,
    "dsl_common_terms": dsl_common_terms,
    "dsl_function_score": dsl_function_score,
    "dsl_boosting": dsl_boosting,
    "dedup_exact": d_dedup_exact,
    "dedup_ngram_jaccard": d_ngram_jaccard,
    "dedup_exact_substring": d_exact_substring,
    "dedup_semdedup": d_semdedup,
    "dedup_line_dedup": d_line_dedup,
    "dedup_clusters": d_dedup_clusters,
    "dedup_minhash_lsh": d_minhash_lsh,
    "dedup_simhash": d_simhash,
    "dedup_embedding_lsh": d_embedding_lsh,
    "sim_cosine_topk": s_cosine_topk,
    "sim_quantize_int8": s_quantize_int8,
    "sim_quantize_int4": s_quantize_int4,
    "sim_bbq_topk": s_bbq_topk,
    "sim_maxsim_topk": s_maxsim_topk,
    "rank_eval": q_rank_eval,
    "agg_random_sampler": a_random_sampler,
    "tsdb_downsample": t_downsample,
    "esql_inlinestats": q_esql_inlinestats,
    "esql_fork": q_esql_fork,
    "esql_rerank": q_esql_rerank,
    "ml_anomaly_count": m_anomaly_count,
    "ml_anomaly_mean": m_anomaly_mean,
    "ml_outlier_detection": m_outlier_detection,
    "sim_ann_lsh_topk": s_ann_lsh_topk,
    "sim_ann_ivf_topk": s_ann_ivf_topk,
    "sim_ann_hnsw_topk": s_ann_hnsw_topk,
    "agg_compiler_terms": agg_compiler_terms,
    "agg_compiler_pipeline": agg_compiler_pipeline,
    "agg_value_script": agg_value_script,
    "text_token_stats": t_token_stats,
    "text_lang_id": t_lang_id,
    "text_quality_score": t_quality_score,
    "text_fingerprint": t_fingerprint,
    "field_histogram_metrics": f_histogram_field,
    "ingest_network_flow": p_ingest_network_flow,
    "ingest_user_agent": p_ingest_user_agent,
    "text_quality_classifier": t_quality_classifier,
    "text_bigram_perplexity_kn": t_bigram_perplexity_kn,
    "text_bpe_token_count": t_bpe_token_count,
    "text_pii_scan": t_pii_scan,
    "text_repetition": t_repetition,
    "intervals_query": q_index_intervals,
    "intervals_source_query": q_index_intervals_source,
    "match_phrase_prefix": q_index_phrase_prefix,
    "completion_suggest": q_completion_suggest,
    "agg_terms_error_bounds": a_terms_error_bounds,
    "agg_geotile_grid": a_geotile_grid,
    "agg_geohash_grid": a_geohash_grid,
    "agg_date_range": a_date_range,
    "agg_ip_range": a_ip_range,
    "agg_reverse_nested": a_reverse_nested,
    "agg_significant_text": a_significant_text,
    "agg_percentile_ranks": a_percentile_ranks,
    "dsl_script_score": dsl_script_score,
    "dsl_script_score_query": dsl_script_score_query,
    "percolate_queries": q_percolate,
    "percolate_pruned": q_percolate_pruned,
    "field_collation_sort": field_collation_sort,
    "multi_match_cross_fields": q_cross_fields,
    "agg_sibling_buckets": a_sibling_buckets,
    "agg_diversified_sampler": a_diversified_sampler,
    "span_query": q_span_query,
    "phrase_suggest_lm": q_phrase_suggest,
    "agg_percentiles_tdigest": a_percentiles_tdigest,
    "sorted_scan_latest": q_sorted_scan,
    "agg_significant_chi_square": a_significant_chi_square,
    "dsl_vector_script_score": dsl_vector_script,
    "eql_sequence": q_eql_sequence,
    "eql_sequence_missing": q_eql_sequence_missing,
    "eql_sample": q_eql_sample,
    "esql_dialect_fns": q_esql_dialect_fns,
    "esql_scalar_fns": q_esql_scalar_fns,
    "esql_ts_rate": q_esql_ts_rate,
    "esql_bucket_stats": q_esql_bucket_stats,
    "es_sql_match": q_es_sql,
    "agg_rollup_search": a_rollup_search,
    "graph_explore": q_graph_explore,
    "has_child_query": q_has_child,
    "agg_multi_terms": a_multi_terms,
    "agg_inference": a_inference,
    "agg_ip_prefix": a_ip_prefix,
    "agg_string_stats": a_string_stats,
    "agg_boxplot": a_boxplot,
    "agg_matrix_stats": a_matrix_stats,
    "agg_variable_width_histogram": a_variable_width_histogram,
    "agg_normalize": a_normalize,
    "agg_moving_percentiles": a_moving_percentiles,
    "rrf_hybrid": q_rrf_hybrid,
    "termvectors": q_termvectors,
    "agg_geo_distance": a_geo_distance,
    "agg_cumulative_cardinality": a_cumulative_cardinality,
    "dsl_sparse_vector": dsl_sparse_vector,
    "sample_domain_cap": t_domain_cap,
    "sample_source_mix": t_source_mix,
    "sample_pack_sequences": t_pack_sequences,
    "esql_stats": q_esql_stats,
    "sample_decontaminate": t_decontaminate,
    "text_structure_roundtrip": q_text_structure,
    "wildcard_field_query": f_wildcard_field,
    "annotated_text_term": f_annotated_text,
    "murmur3_cardinality": f_murmur3_cardinality,
    "size_field_histogram": f_size_field,
    "dsl_more_like_this": dsl_more_like_this,
    "dsl_match_bool_prefix_query": dsl_match_bool_prefix_query,
    "dsl_combined_fields_query": dsl_combined_fields_query,
    "dsl_rescore_window": dsl_rescore_window,
    "text_boilerplate_strip": t_boilerplate_strip,
    "text_bigram_perplexity": t_bigram_perplexity,
    "text_url_normalize": t_url_normalize,
    "highlight_whole_field": q_highlight_whole_field,
    "dsl_regexp_query": dsl_regexp_query,
    "dsl_search_after_page": dsl_search_after_page,
    "dsl_nested_query": dsl_nested_query,
    "dsl_exists_query": dsl_exists_query,
    "dsl_knn_query": dsl_knn_query,
    "dsl_terms_set_query": dsl_terms_set_query,
    "dsl_query_string_filter": dsl_query_string_filter,
    "dsl_query_string_extended": dsl_query_string_extended,
    "dsl_rule_query": dsl_rule_query,
    "dsl_distance_feature_query": dsl_distance_feature_query,
    "dsl_rank_feature_query": dsl_rank_feature_query,
    "dsl_geo_distance_query": dsl_geo_distance_query,
    "dsl_script_query": dsl_script_query,
    "dsl_script_regex_query": dsl_script_regex_query,
    "agg_percentiles_hdr": agg_percentiles_hdr,
    "dsl_geo_shape_stored": dsl_geo_shape_stored,
    "analysis_cjk": analysis_cjk,
    "analysis_cjk_coverage": analysis_cjk_coverage,
    "analysis_kuromoji": analysis_kuromoji,
    "analysis_nori": analysis_nori,
    "dsl_scripted_metric_state": dsl_scripted_metric_state,
    "dsl_painless_script_query": dsl_painless_script_query,
    "dsl_painless_runtime_field": dsl_painless_runtime_field,
    "dsl_wrapper_query": dsl_wrapper_query,
    "dsl_semantic_query": dsl_semantic_query,
    "agg_bucket_correlation": a_bucket_correlation,
    "agg_bucket_ks_test": a_bucket_ks_test,
    "transform_pivot": x_transform_pivot,
    "transform_latest": x_transform_latest,
    "transform_checkpoint": x_transform_checkpoint,
    "ltr_rescore": q_ltr_rescore,
    "sample_dsir": t_dsir_resample,
}

"""Aggregation DSL → DataFrame plan compiler (the ES aggs framework).

Re-expresses the reference's aggregation tree
(``server/src/main/java/org/elasticsearch/search/aggregations/``) as a
compiler from the JSON ``aggs`` body to Spark plans. The reference's
per-shard-collect → coordinator-reduce model IS Spark's partial/final
aggregation (``InternalAggregation.java:123``;
``QueryPhaseResultConsumer.java:95-162``), so every bucket/metric agg
compiles to one declarative groupBy — Catalyst provides the map-side
combine, AQE the skew handling.

Bucket sources: terms (top-N, order), histogram, date_histogram
(calendar/fixed), range (overlapping, explode), filters, missing, global.
Metrics: avg/sum/min/max/value_count/stats/extended_stats/cardinality
(exact or HLL++ via precision_threshold)/percentiles/median_absolute_
deviation/weighted_avg/top_hits.
Pipeline (window functions over the bucket frame, coordinator-only in the
reference): cumulative_sum, derivative, serial_diff, moving_fn(avg/sum/
min/max), bucket_script, bucket_selector, bucket_sort.

Sub-aggs nest: a bucket agg's ``aggs`` adds metric columns to the same
groupBy, or (bucket-in-bucket) extends the grouping keys — the breadth-
first-deferral optimization of the reference
(``Aggregator.java:181-194``) is unnecessary because Catalyst computes
only what the plan needs.
"""

from __future__ import annotations

import math
import re

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


# Histogram field (x-pack analytics HistogramFieldMapper.java: per-doc
# pre-aggregated {values[], counts[]} pairs, values ascending). Metric aggs
# over such a field use the histo-backed reducers (the reference's
# AnalyticsAggregatorFactory registrations): weighted sums via per-doc
# zip_with/aggregate higher-order functions — no explode, so they compose
# under any bucketing. Detected from the frame schema by `compile_agg` /
# `aggregate` (single-threaded driver-side compile, like the reference's
# per-request ValuesSourceConfig resolution).
# THREAD-LOCAL: async_search runs searches on a shared thread pool — a
# module-global set raced across concurrent compilations, mis-typing one
# frame's fields with another frame's detection
import threading as _threading

_TLS = _threading.local()


def _histo_fields() -> frozenset:
    return getattr(_TLS, "histo_fields", frozenset())


def _detect_histo_fields(df: DataFrame) -> frozenset:
    from pyspark.sql.types import ArrayType, StructType

    out = set()
    for fld in df.schema.fields:
        t = fld.dataType
        if isinstance(t, StructType) and {"values", "counts"} <= set(t.fieldNames()):
            if all(isinstance(t[n].dataType, ArrayType) for n in ("values", "counts")):
                out.add(fld.name)
    return frozenset(out)


def _histo_pairs(f: str) -> str:
    """SQL expr: the (v, c) pair array of a histogram struct column, zero-
    count centroids dropped (HistoBackedAggregator skips them)."""
    return (
        f"filter(zip_with({f}.values, {f}.counts,"
        f" (v, c) -> struct(double(v) as v, bigint(c) as c)), s -> s.c > 0)"
    )


def _histo_metric_cols(name: str, kind: str, f: str, body: dict) -> list:
    """Histo-backed metric reducers (x-pack analytics
    ``aggregations/metrics/HistoBacked*Aggregator.java``): each doc
    contributes its centroid (value, count) pairs with weight = count."""
    pairs = _histo_pairs(f)
    vc = F.expr(f"aggregate({pairs}, 0L, (a, s) -> a + s.c)")
    sm = F.expr(f"aggregate({pairs}, 0D, (a, s) -> a + s.v * s.c)")
    sq = F.expr(f"aggregate({pairs}, 0D, (a, s) -> a + s.v * s.v * s.c)")
    mn = F.expr(f"array_min(transform({pairs}, s -> s.v))")
    mx = F.expr(f"array_max(transform({pairs}, s -> s.v))")
    if kind == "value_count":
        return [F.sum(vc).alias(name)]
    if kind == "sum":
        return [F.sum(sm).alias(name)]
    if kind == "avg":
        return [(F.sum(sm) / F.sum(vc)).alias(name)]
    if kind == "min":
        return [F.min(mn).alias(name)]
    if kind == "max":
        return [F.max(mx).alias(name)]
    if kind == "stats":
        return [
            F.sum(vc).alias(f"{name}.count"), F.min(mn).alias(f"{name}.min"),
            F.max(mx).alias(f"{name}.max"), F.sum(sm).alias(f"{name}.sum"),
            (F.sum(sm) / F.sum(vc)).alias(f"{name}.avg"),
        ]
    if kind == "extended_stats":
        var = F.sum(sq) / F.sum(vc) - (F.sum(sm) / F.sum(vc)) ** 2
        return [
            F.sum(vc).alias(f"{name}.count"), F.sum(sm).alias(f"{name}.sum"),
            (F.sum(sm) / F.sum(vc)).alias(f"{name}.avg"),
            var.alias(f"{name}.variance"),
            F.sqrt(var).alias(f"{name}.std_deviation"),
        ]
    if kind == "percentile_ranks":
        # % of total weight at values ≤ v, per requested v
        return [
            (
                100.0
                * F.sum(F.expr(
                    f"aggregate({pairs}, 0L, (a, s) -> a + if(s.v <= {v!r}, s.c, 0L))"
                ))
                / F.sum(vc)
            ).alias(f"{name}.{v}")
            for v in body["values"]
        ]
    if kind == "percentiles":
        # handled by compile_agg's explode path (needs the weighted
        # distribution, not a per-doc reduction)
        raise ValueError(
            "percentiles over a histogram field is a top-level agg only"
        )
    raise ValueError(f"metric agg {kind} is not histo-backed in the reference")


def _metric_cols(name: str, spec: dict) -> list:
    """One metric agg → named aggregate Column(s)."""
    (kind, body), = spec.items()
    f = body.get("field")
    if f and f in _histo_fields():
        return _histo_metric_cols(name, kind, f, body)
    c = F.col(f) if f else None
    if c is not None and "missing" in body:
        # ValuesSourceAggregationBuilder `missing`: substitute for null
        # values instead of skipping the doc
        c = F.coalesce(c, F.lit(body["missing"]))
    if kind == "avg":
        return [F.avg(c).alias(name)]
    if kind == "sum":
        return [F.sum(c).alias(name)]
    if kind == "min":
        return [F.min(c).alias(name)]
    if kind == "max":
        return [F.max(c).alias(name)]
    if kind == "value_count":
        return [F.count(c).alias(name)]
    if kind == "stats":
        return [
            F.count(c).alias(f"{name}.count"), F.min(c).alias(f"{name}.min"),
            F.max(c).alias(f"{name}.max"), F.sum(c).alias(f"{name}.sum"),
            F.avg(c).alias(f"{name}.avg"),
        ]
    if kind == "extended_stats":
        return [
            F.count(c).alias(f"{name}.count"), F.sum(c).alias(f"{name}.sum"),
            F.avg(c).alias(f"{name}.avg"), F.var_pop(c).alias(f"{name}.variance"),
            F.stddev_pop(c).alias(f"{name}.std_deviation"),
        ]
    if kind == "cardinality":
        # HLL++ like the reference (HyperLogLogPlusPlus.java); exact below
        # precision_threshold → exact countDistinct when requested high
        pt = body.get("precision_threshold", 3000)
        if pt >= 40000:
            return [F.countDistinct(c).alias(name)]
        return [F.approx_count_distinct(c, 0.01).alias(name)]
    if kind == "percentiles":
        pcts = body.get("percents", [1, 5, 25, 50, 75, 95, 99])
        if "missing" in body:
            # the generic `missing` substitution path builds Columns; the
            # percentile exprs are SQL strings — honor it here too
            f = f"coalesce({f}, {body['missing']!r})"
        # approximate mode (the reference's TDigestState sketch,
        # ``server/.../metrics/TDigestState.java:22-28``): Spark's
        # approx_percentile (Greenwald-Khanna) stands in — same
        # mergeable-sketch contract, different error model (rank-error
        # bound vs t-digest's quantile-edge compression); accuracy maps
        # from t-digest compression. Exact mode is the oracle-checked
        # default.
        td = body.get("tdigest") or {}
        hdr = body.get("hdr")
        if hdr is not None or body.get("method") == "hdr":
            # HDR mode (AbstractHDRPercentilesAggregator.java wrapping
            # HdrHistogram's DoubleHistogram): values quantize to
            # log2-bucketed representatives with b sub-bucket bits from the
            # significant-digits setting, so the result is exact WITHIN the
            # documented HDR bucket error. Here: quantize (lowest
            # equivalent value — floor to the bucket width
            # 2^(floor(log2 v)+1-b)) then take the percentile over the
            # quantized values — same error envelope, and the quantization
            # is a pure SQL expression both engines compute identically.
            # Like the reference, only non-negative values are supported
            # (HdrHistogram rejects negatives).
            import math as _m

            d = int((hdr or {}).get("number_of_significant_value_digits", 3))
            b = _m.ceil(_m.log2(2 * 10 ** d))
            qexpr = (
                f"(case when {f} = 0 then cast(0.0 as double) else "
                f"floor({f} / power(2, floor(log2({f})) + 1 - {b}))"
                f" * power(2, floor(log2({f})) + 1 - {b}) end)"
            )
            return [
                F.expr(f"percentile({qexpr}, {p / 100.0})").alias(f"{name}.{p}")
                for p in pcts
            ]
        if body.get("approximate") or "compression" in td:
            acc = int(td.get("compression", 100)) * 100
            return [
                F.expr(f"approx_percentile({f}, {p / 100.0}, {acc})").alias(f"{name}.{p}")
                for p in pcts
            ]
        return [
            F.expr(f"percentile({f}, {p / 100.0})").alias(f"{name}.{p}") for p in pcts
        ]
    if kind == "percentile_ranks":
        # PercentileRanksAggregationBuilder.java: for each given value v,
        # the percentage of observed values ≤ v
        vals = body["values"]
        pc = F.coalesce(F.col(f), F.lit(body["missing"])) if "missing" in body else F.col(f)
        return [
            (100.0 * F.avg((pc <= F.lit(v)).cast("double"))).alias(f"{name}.{v}")
            for v in vals
        ]
    if kind == "median_absolute_deviation":
        # needs a first pass for the median — top-level only (compile_agg)
        raise ValueError("median_absolute_deviation is supported as a top-level agg only")
    if kind == "weighted_avg":
        vf = body["value"]["field"]
        wf = body["weight"]["field"]
        return [(F.sum(F.col(vf) * F.col(wf)) / F.sum(F.col(wf))).alias(name)]
    if kind == "geo_line":
        return [_geo_line_col(body).alias(name)]
    raise ValueError(f"unsupported metric agg: {kind}")


def _geo_line_col(body: dict):
    """geo_line metric (``x-pack/.../spatial/search/aggregations/
    GeoLineAggregationBuilder.java``): the group's points ordered by the
    sort field, truncated to ``size`` (ref default 10000), as an array of
    [lon, lat] pairs. One aggregate expression — collect_list inside the
    group, sort/slice/project applied to the aggregated value — so it
    composes under any bucket agg exactly like avg/sum."""
    pt = body.get("point", {})
    lon = pt.get("lon_field") or body.get("lon_field")
    lat = pt.get("lat_field") or body.get("lat_field")
    if lon is None:  # geo_point struct field {lon, lat}
        pf = pt["field"]
        lon, lat = f"{pf}.lon", f"{pf}.lat"
    sf = body["sort"]["field"] if isinstance(body.get("sort"), dict) else body["sort"]
    size = int(body.get("size", 10000))
    pts = F.array_sort(
        F.collect_list(F.struct(F.col(sf).alias("s"), F.col(lon).alias("x"), F.col(lat).alias("y")))
    )
    if str(body.get("sort_order", "asc")).lower() == "desc":
        pts = F.reverse(pts)
    return F.transform(F.slice(pts, 1, size), lambda p: F.array(p["x"], p["y"]))


def _sig_score(heuristic: str, fg_count, fg_tot: float, bg_count, bg_tot: float):
    """Significance heuristic score column (the reference's heuristic
    family, ``server/.../bucket/terms/heuristic/``): jlh (JLHScore.java),
    chi_square (ChiSquare.java), gnd (GND.java), mutual_information
    (MutualInformation.java), percentage (PercentageScore.java). The Nxy
    contingency is the background-is-superset form of
    NXYSignificanceHeuristic.computeNxys: subset=(fg), superset=(bg)."""
    N11 = fg_count
    N_1 = F.lit(float(fg_tot))
    N1_ = bg_count
    N = F.lit(float(bg_tot))
    N01 = N_1 - N11
    N10 = N1_ - N11
    N00 = N - N1_ - N01
    N0_ = N - N1_
    N_0 = N - N_1
    if heuristic == "jlh":
        fg_pct = N11 / N_1
        bg_pct = N1_ / N
        return (fg_pct - bg_pct) * fg_pct / bg_pct
    if heuristic == "percentage":
        return F.when(N1_ > 0, N11 / N1_).otherwise(F.lit(0.0))
    if heuristic == "chi_square":
        return (
            N * (N11 * N00 - N01 * N10) ** 2 / (N_1 * N1_ * N0_ * N_0)
        )
    if heuristic == "gnd":
        fx, fy, fxy = N1_, N_1, N11
        raw = (
            F.greatest(F.log(fx), F.log(fy)) - F.log(fxy)
        ) / (F.log(N) - F.least(F.log(fx), F.log(fy)))
        return (
            F.when(fxy <= 0, F.lit(0.0))
            .when((fx == fy) & (fx == fxy), F.lit(1.0))
            .otherwise(F.exp(-raw))
        )
    if heuristic == "mutual_information":
        def mi_term(nxy, nx_, n_y):
            return F.when(
                (nxy > 0) & (nx_ > 0) & (n_y > 0),
                nxy / N * F.log(N * nxy / (nx_ * n_y)),
            ).otherwise(F.lit(0.0))

        ln2 = math.log(2.0)
        return (
            mi_term(N00, N0_, N_0) + mi_term(N01, N0_, N_1)
            + mi_term(N10, N1_, N_0) + mi_term(N11, N1_, N_1)
        ) / ln2
    raise ValueError(f"unsupported significance heuristic: {heuristic}")


_SIG_HEURISTICS = ("jlh", "chi_square", "gnd", "mutual_information", "percentage")


def _bucket_col(spec: dict):
    """Bucket source → (key column, post-transform or None)."""
    (kind, body), = spec.items()
    f = body.get("field")
    if kind == "terms":
        if "missing" in body:
            # TermsAggregationBuilder `missing`: null keys bucket under the
            # given value instead of being dropped
            return F.coalesce(F.col(f), F.lit(body["missing"])), ("terms", body)
        return F.col(f), ("terms", body)
    if kind == "histogram":
        interval = body["interval"]
        off = body.get("offset", 0)
        return (F.floor((F.col(f) - off) / interval) * interval + off).alias("key"), ("histogram", body)
    if kind == "date_histogram":
        iv = body.get("calendar_interval") or body.get("fixed_interval", "1d")
        unit = {"1d": "day", "day": "day", "1h": "hour", "hour": "hour",
                "month": "month", "1M": "month", "week": "week", "year": "year",
                "minute": "minute", "1m": "minute"}[iv]
        c = F.col(f)
        tz = body.get("time_zone")
        if tz:
            # DateHistogramAggregationBuilder time_zone: bucket boundaries
            # are local-time midnights — shift in, truncate, shift back
            key = F.to_utc_timestamp(
                F.date_trunc(unit, F.from_utc_timestamp(c, tz)), tz
            )
        else:
            key = F.date_trunc(unit, c)
        off = body.get("offset")
        if off:
            # offset like "+6h"/"-30m": buckets start offset past the
            # rounded boundary (docs before it fall into the prior bucket)
            m_off = re.fullmatch(r"([+-]?)(\d+)([smhd])", str(off))
            if not m_off:
                raise ValueError(
                    f"date_histogram: unsupported offset {off!r} "
                    "(supported: [+-]N followed by one of s/m/h/d)"
                )
            sec = int(m_off.group(2)) * {"s": 1, "m": 60, "h": 3600, "d": 86400}[m_off.group(3)]
            if m_off.group(1) == "-":
                sec = -sec
            shifted = F.from_unixtime(F.unix_timestamp(c) - sec).cast("timestamp")
            base = (
                F.to_utc_timestamp(F.date_trunc(unit, F.from_utc_timestamp(shifted, tz)), tz)
                if tz else F.date_trunc(unit, shifted)
            )
            key = F.from_unixtime(F.unix_timestamp(base) + sec).cast("timestamp")
        return key.alias("key"), ("date_histogram", body)
    if kind == "missing":
        return F.col(f).isNull().alias("key"), ("missing", body)
    raise ValueError(f"unsupported bucket agg: {kind}")


def _matching(df: DataFrame, query: dict) -> DataFrame:
    """The rows of ``df`` that ``query`` matches (``dsl.matching``), asked
    of the request's search context — over an Engine index, its analyzer
    and postings answer the text leaves — or, outside a request, of a raw
    context over ``df`` keyed by its first column."""
    from . import dsl

    ctx = getattr(_TLS, "ctx", None) or dsl.SearchContext(df, df.columns[0])
    return dsl.matching(dsl.parse(query), ctx, df)


def _apply_metric_subaggs(grouped, sub_aggs: dict, doc_count=True, df=None):
    # external callers (transform pivot) pass their source `df` so the
    # histogram-field detection reflects THEIR schema, not whatever frame
    # compile_agg saw last
    prev = _histo_fields()
    if df is not None:
        _TLS.histo_fields = _detect_histo_fields(df)
    try:
        cols = [F.count("*").alias("doc_count")] if doc_count else []
        for name, spec in (sub_aggs or {}).items():
            spec_wo = {k: v for k, v in spec.items() if k != "aggs"}
            cols.extend(_metric_cols(name, spec_wo))
        return grouped.agg(*cols)
    finally:
        _TLS.histo_fields = prev


def compile_agg(df: DataFrame, name: str, spec: dict) -> DataFrame:
    """One top-level agg (+ nested sub-aggs) → bucket frame: detection is
    scoped to THIS frame and restored afterwards (recursive sub-compiles
    over child frames no longer clobber the parent's detection)."""
    prev = _histo_fields()
    _TLS.histo_fields = _detect_histo_fields(df)
    try:
        return _compile_agg(df, name, spec)
    finally:
        _TLS.histo_fields = prev


def _compile_agg(df: DataFrame, name: str, spec: dict) -> DataFrame:
    sub = spec.get("aggs")
    body_spec = {k: v for k, v in spec.items() if k != "aggs"}
    (kind, body), = body_spec.items()

    if (
        kind in ("percentiles", "histogram", "boxplot")
        and body.get("field") in _histo_fields()
    ):
        # Histo-backed distribution aggs (HistoBackedTDigestPercentiles-,
        # HistoBackedHistogram-, HistoBackedBoxplotAggregator.java): explode
        # the centroid pairs once; weight = centroid count. Percentiles are
        # EXACT weighted (percentile(v, p, frequency) — the exact-mode analog
        # of feeding centroids into a t-digest); the histogram bucket agg
        # adds centroid counts into value buckets (doc_count = Σ counts).
        f = body["field"]
        if sub:
            raise ValueError(
                f"sub-aggregations under a {kind} agg over a histogram "
                "field are not supported (centroids carry no doc identity)"
            )
        pairs = df.select(F.explode(F.expr(_histo_pairs(f))).alias("__s")).select(
            F.col("__s.v").alias("__v"), F.col("__s.c").alias("__c")
        )
        if kind == "histogram":
            interval = float(body["interval"])
            off = float(body.get("offset", 0))
            key = (
                F.floor((F.col("__v") - off) / interval) * interval + off
            ).alias("key")
            return (
                pairs.groupBy(key)
                .agg(F.sum("__c").alias("doc_count"))
                .orderBy("key")
            )
        if kind == "boxplot":
            exprs = [F.min("__v").alias(f"{name}.min"),
                     F.max("__v").alias(f"{name}.max")]
            exprs += [
                F.expr(f"percentile(__v, {q}, __c)").alias(f"{name}.{lbl}")
                for q, lbl in ((0.25, "q1"), (0.5, "q2"), (0.75, "q3"))
            ]
            return pairs.agg(*exprs)
        pcts = body.get("percents", [1, 5, 25, 50, 75, 95, 99])
        return pairs.agg(*[
            F.expr(f"percentile(__v, {p / 100.0}, __c)").alias(f"{name}.{p}")
            for p in pcts
        ])

    if kind in ("avg", "sum", "min", "max", "value_count", "stats", "extended_stats",
                "cardinality", "percentiles", "percentile_ranks", "weighted_avg") and not (
        body.get("method") == "tdigest"
        and kind in ("percentiles", "percentile_ranks")
    ):
        return df.agg(*_metric_cols(name, body_spec))

    if kind == "percentiles" and body.get("method") == "tdigest":
        # REAL t-digest (TDigestState.java): per-partition merging digests
        # (mapInPandas, sorted build), ≤ ~2δ centroids per partition to the
        # coordinator, mean-order re-cluster merge, interpolated quantiles —
        # the reference's per-shard-collect → coordinator-reduce contract.
        # At 100 TB the driver sees partitions × O(δ) centroids, not rows.
        import numpy as np

        from ..functions import tdigest as td

        f = body["field"]
        comp = float((body.get("tdigest") or {}).get("compression", 100))
        pcts = body.get("percents", [1, 5, 25, 50, 75, 95, 99])

        def digest_parts(it):
            for pdf in it:
                m, w, mn, mx = td.from_values(pdf[f].to_numpy(), comp)
                yield pd.DataFrame({"m": [m.tolist()], "w": [w.tolist()],
                                    "mn": [mn], "mx": [mx]})

        parts = (
            df.select(f)
            .mapInPandas(
                digest_parts,
                "m array<double>, w array<double>, mn double, mx double",
            )
            .collect()
        )
        digests = [
            (np.array(r["m"]), np.array(r["w"]), r["mn"], r["mx"]) for r in parts
        ]
        M, W, MN, MX = td.merge(digests, comp)
        row = tuple(float(td.quantile(M, W, p / 100.0, MN, MX)) for p in pcts)
        schema = ", ".join(f"`{name}.{p}` double" for p in pcts)
        return df.sparkSession.createDataFrame([row], schema)

    if kind == "percentile_ranks" and body.get("method") == "tdigest":
        # percentile_ranks with the REAL merging t-digest
        # (PercentileRanksAggregationBuilder + TDigestState.cdf): same
        # per-partition digest build + coordinator centroid merge as the
        # percentiles path, then the digest CDF at each requested value.
        import numpy as np

        from ..functions import tdigest as td

        f = body["field"]
        comp = float((body.get("tdigest") or {}).get("compression", 100))
        vals = body["values"]

        def digest_parts(it):
            for pdf in it:
                m, w, mn, mx = td.from_values(pdf[f].to_numpy(), comp)
                yield pd.DataFrame({"m": [m.tolist()], "w": [w.tolist()],
                                    "mn": [mn], "mx": [mx]})

        parts = (
            df.select(f)
            .mapInPandas(
                digest_parts,
                "m array<double>, w array<double>, mn double, mx double",
            )
            .collect()
        )
        digests = [
            (np.array(r["m"]), np.array(r["w"]), r["mn"], r["mx"]) for r in parts
        ]
        M, W, MN, MX = td.merge(digests, comp)
        row = tuple(100.0 * float(td.cdf(M, W, float(v), MN, MX)) for v in vals)
        schema = ", ".join(f"`{name}.{v}` double" for v in vals)
        return df.sparkSession.createDataFrame([row], schema)

    if kind == "median_absolute_deviation":
        f = body["field"]
        med = df.agg(F.expr(f"percentile({f}, 0.5)").alias("m")).collect()[0]["m"]
        return df.agg(F.expr(f"percentile(abs({f} - {med}), 0.5)").alias(name))

    if kind == "global":
        return _apply_metric_subaggs(df.groupBy(), sub)

    if kind == "filter":
        return _apply_metric_subaggs(_matching(df, body).groupBy(), sub)

    if kind == "filters":
        buckets = dict(body["filters"])
        if body.get("other_bucket"):
            # FiltersAggregationBuilder other_bucket: docs matching NO filter
            buckets[body.get("other_bucket_key", "_other_")] = {
                "bool": {"must_not": list(body["filters"].values())}}
        frames = [
            _apply_metric_subaggs(_matching(df, q).groupBy(), sub)
            .select(F.lit(bname).alias("key"), "*")
            for bname, q in buckets.items()
        ]
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out.orderBy("key")

    if kind == "range":
        f = body["field"]
        rs = []
        for r in body["ranges"]:
            lo = r.get("from", float("-inf"))
            hi = r.get("to", float("inf"))
            label = r.get("key", f"{r.get('from', '*')}-{r.get('to', '*')}")
            rs.append((label, lo, hi))
        ranges = F.array(*[
            F.struct(F.lit(k).alias("key"), F.lit(float(lo)).alias("lo"), F.lit(float(hi)).alias("hi"))
            for k, lo, hi in rs
        ])
        ex = df.withColumn("__r", F.explode(ranges)).where(
            (F.col(f) >= F.col("__r.lo")) & (F.col(f) < F.col("__r.hi"))
        )
        return _apply_metric_subaggs(
            ex.groupBy(F.col("__r.key").alias("key")), sub
        ).orderBy("key")

    if kind == "date_range":
        # DateRangeAggregationBuilder.java: ranges of timestamps; from
        # inclusive, to exclusive; bucket key defaults to "from-to"
        f = body["field"]
        def _bound(v):
            # numeric bounds are epoch MILLIS (the reference's date parsing),
            # not seconds; 0 is a real bound, not "unbounded" — only None is
            if v is None:
                return F.lit(None).cast("timestamp")
            if isinstance(v, (int, float)) and not isinstance(v, bool):
                return F.timestamp_millis(F.lit(int(v)))
            return F.lit(v).cast("timestamp")

        rs = []
        for r in body["ranges"]:
            lo = r.get("from")
            hi = r.get("to")
            label = r.get("key", f"{'*' if lo is None else lo}-{'*' if hi is None else hi}")
            rs.append((label, lo, hi))
        ranges = F.array(*[
            F.struct(
                F.lit(k).alias("key"),
                _bound(lo).alias("lo"),
                _bound(hi).alias("hi"),
            )
            for k, lo, hi in rs
        ])
        ex = df.withColumn("__r", F.explode(ranges)).where(
            (F.col("__r.lo").isNull() | (F.col(f) >= F.col("__r.lo")))
            & (F.col("__r.hi").isNull() | (F.col(f) < F.col("__r.hi")))
        )
        return _apply_metric_subaggs(
            ex.groupBy(F.col("__r.key").alias("key")), sub
        ).orderBy("key")

    if kind == "ip_range":
        # IpRangeAggregationBuilder.java: from/to IPs or CIDR masks over an
        # IPv4 string column, numerically compared (v4 subset; the
        # reference widens v4 into the v6 16-byte space)
        f = body["field"]

        # column-side fold shared with geoip (NULL-guards malformed IPs so
        # they skip every range instead of landing in a wrong bucket)
        from ..sources.geoip import ip_to_long as ip_num_col

        def ip_to_long(s: str) -> int:
            a, b, c, d = (int(x) for x in s.split("."))
            return (a << 24) | (b << 16) | (c << 8) | d

        rs = []
        for r in body["ranges"]:
            if "mask" in r:
                base, bits = r["mask"].split("/")
                lo = ip_to_long(base) & (~((1 << (32 - int(bits))) - 1) & 0xFFFFFFFF)
                hi = lo + (1 << (32 - int(bits)))
                label = r.get("key", r["mask"])
            else:
                lo = ip_to_long(r["from"]) if "from" in r else None
                hi = ip_to_long(r["to"]) if "to" in r else None
                label = r.get("key", f"{r.get('from', '*')}-{r.get('to', '*')}")
            rs.append((label, lo, hi))
        ranges = F.array(*[
            F.struct(
                F.lit(k).alias("key"),
                F.lit(lo).cast("long").alias("lo"),
                F.lit(hi).cast("long").alias("hi"),
            )
            for k, lo, hi in rs
        ])
        ex = (
            df.withColumn("__ip", ip_num_col(F.col(f)))
            .withColumn("__r", F.explode(ranges))
            .where(
                (F.col("__r.lo").isNull() | (F.col("__ip") >= F.col("__r.lo")))
                & (F.col("__r.hi").isNull() | (F.col("__ip") < F.col("__r.hi")))
            )
        )
        return _apply_metric_subaggs(
            ex.groupBy(F.col("__r.key").alias("key")), sub
        ).orderBy("key")

    if kind == "geo_distance":
        # GeoDistanceAggregationBuilder.java: bucket docs by arc distance
        # from an origin point; from inclusive / to exclusive, distances in
        # `unit` (default m). Same explode-ranges shape as `range` with a
        # computed haversine column — one narrow projection + one groupBy.
        origin = body["origin"]
        olat, olon = float(origin["lat"]), float(origin["lon"])
        units = {
            "m": 1.0, "km": 1000.0, "mi": 1609.344, "ft": 0.3048,
            "yd": 0.9144, "in": 0.0254, "cm": 0.01, "mm": 0.001,
            "nmi": 1852.0,  # DistanceUnit.java's full unit set
        }
        unit = body.get("unit", "m")
        if unit not in units:
            raise ValueError(
                f"geo_distance: unsupported unit {unit!r} (supported: {sorted(units)})"
            )
        unit_m = units[unit]
        if "lat_field" in body:
            lat_c, lon_c = F.col(body["lat_field"]), F.col(body["lon_field"])
        else:
            f = body["field"]
            lat_c, lon_c = F.col(f"{f}.lat"), F.col(f"{f}.lon")
        lat1, lon1 = math.radians(olat), math.radians(olon)
        lat2, lon2 = F.radians(lat_c), F.radians(lon_c)
        h = (
            F.pow(F.sin((lat2 - F.lit(lat1)) / 2), 2)
            + math.cos(lat1) * F.cos(lat2) * F.pow(F.sin((lon2 - F.lit(lon1)) / 2), 2)
        )
        dist = 2.0 * 6371008.8 * F.asin(F.sqrt(h)) / F.lit(unit_m)
        rs = []
        for r in body["ranges"]:
            lo = float(r["from"]) if "from" in r else None
            hi = float(r["to"]) if "to" in r else None
            label = r.get(
                "key",
                f"{'*' if lo is None else f'{lo:.1f}'}-{'*' if hi is None else f'{hi:.1f}'}",
            )
            rs.append((label, lo, hi))
        ranges = F.array(*[
            F.struct(
                F.lit(k).alias("key"),
                F.lit(lo).cast("double").alias("lo"),
                F.lit(hi).cast("double").alias("hi"),
            )
            for k, lo, hi in rs
        ])
        ex = (
            df.withColumn("__d", dist)
            .withColumn("__r", F.explode(ranges))
            .where(
                (F.col("__r.lo").isNull() | (F.col("__d") >= F.col("__r.lo")))
                & (F.col("__r.hi").isNull() | (F.col("__d") < F.col("__r.hi")))
            )
        )
        return _apply_metric_subaggs(
            ex.groupBy(F.col("__r.key").alias("key")), sub
        ).orderBy("key")

    if kind == "significant_text":
        # SignificantTextAggregationBuilder.java: significant_terms over the
        # ANALYZED token stream of a free-text field — per-token fg/bg DOC
        # frequencies (distinct per doc), JLH score, top-N
        f = body["field"]
        bg_df = body.get("_background_df")
        bg_df = bg_df if bg_df is not None else df
        tok = body.get("_token_expr", f"regexp_extract_all(lower({f}), '[a-z0-9]+', 0)")
        size = body.get("size", 10)
        min_doc = body.get("min_doc_count", 3)

        def tokens(frame: DataFrame) -> DataFrame:
            return frame.select(
                F.explode(F.array_distinct(F.expr(tok))).alias("key")
            )

        fg_counts = tokens(df).groupBy("key").agg(F.count("*").cast("double").alias("fg_count"))
        bg_counts = tokens(bg_df).groupBy("key").agg(F.count("*").cast("double").alias("bg_count"))
        fg_tot = df.count()
        bg_tot = bg_df.count()
        heuristic = next((h for h in _SIG_HEURISTICS if h in body), "jlh")
        return (
            fg_counts.join(bg_counts, "key")
            .where(F.col("fg_count") >= min_doc)
            .withColumn("score", _sig_score(
                heuristic, F.col("fg_count"), fg_tot, F.col("bg_count"), bg_tot))
            .where(F.col("score") > 0)
            .select("key", F.col("fg_count").cast("long").alias("doc_count"),
                    F.col("bg_count").cast("long").alias("bg_count"),
                    F.round("score", 6).alias("score"))
            .orderBy(F.desc("score"), F.asc("key"))
            .limit(size)
        )

    if kind == "geo_bounds":
        # GeoBoundsAggregator.java: bounding box of a struct<lat,lon> field
        f = body["field"]
        return df.agg(
            F.max(f"{f}.lat").alias(f"{name}.top"),
            F.min(f"{f}.lat").alias(f"{name}.bottom"),
            F.min(f"{f}.lon").alias(f"{name}.left"),
            F.max(f"{f}.lon").alias(f"{name}.right"),
        )

    if kind == "geo_centroid":
        # GeoCentroidAggregator.java: arithmetic centroid + count
        f = body["field"]
        return df.agg(
            F.avg(f"{f}.lat").alias(f"{name}.lat"),
            F.avg(f"{f}.lon").alias(f"{name}.lon"),
            F.count(f"{f}.lat").alias(f"{name}.count"),
        )

    if kind == "geotile_grid":
        # GeoTileGridAggregationBuilder.java: web-mercator z/x/y tiles
        f = body["field"]
        z = int(body.get("precision", 7))
        size = body.get("size", 10)
        n = 1 << z
        lat = F.radians(F.col(f"{f}.lat"))
        x = F.floor((F.col(f"{f}.lon") + 180.0) / 360.0 * n).cast("long")
        y = F.floor(
            (1.0 - F.log(F.tan(lat) + 1.0 / F.cos(lat)) / math.pi) / 2.0 * n
        ).cast("long")
        key = F.concat_ws("/", F.lit(z), x, y)
        return (
            _apply_metric_subaggs(df.groupBy(key.alias("key")), sub)
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(size)
        )

    if kind == "geohash_grid":
        # GeoHashGridAggregationBuilder.java: base32 geohash cells —
        # numpy-vectorized bit interleave inside one Arrow batch UDF
        import numpy as np
        from pyspark.sql.types import StringType

        f = body["field"]
        prec = int(body.get("precision", 5))
        size = body.get("size", 10)

        @F.pandas_udf(StringType())
        def gh(lat: pd.Series, lon: pd.Series) -> pd.Series:
            nbits = 5 * prec
            lat_bits = (nbits) // 2
            lon_bits = nbits - lat_bits
            la = ((lat.to_numpy() + 90.0) / 180.0 * (1 << lat_bits)).astype(np.int64)
            lo = ((lon.to_numpy() + 180.0) / 360.0 * (1 << lon_bits)).astype(np.int64)
            la = np.clip(la, 0, (1 << lat_bits) - 1)
            lo = np.clip(lo, 0, (1 << lon_bits) - 1)
            # interleave: even bit positions (from MSB) take lon, odd take lat
            code = np.zeros(len(la), dtype=np.int64)
            li, oi = lat_bits, lon_bits
            for b in range(nbits):
                if b % 2 == 0:
                    oi -= 1
                    bit = (lo >> oi) & 1
                else:
                    li -= 1
                    bit = (la >> li) & 1
                code = (code << 1) | bit
            b32 = np.frombuffer(b"0123456789bcdefghjkmnpqrstuvwxyz", dtype=np.uint8)
            chars = np.zeros((len(code), prec), dtype=np.uint8)
            c = code.copy()
            for i in range(prec - 1, -1, -1):
                chars[:, i] = b32[c & 31]
                c >>= 5
            return pd.Series([bytes(r).decode() for r in chars])

        key = gh(F.col(f"{f}.lat"), F.col(f"{f}.lon"))
        return (
            _apply_metric_subaggs(df.groupBy(key.alias("key")), sub)
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(size)
        )

    if kind == "multi_terms":
        # MultiTermsAggregationBuilder.java: buckets keyed by the TUPLE of
        # several fields; key_as_string joins the parts with "|"; ordered by
        # doc_count desc like terms. One groupBy on the composite key —
        # Catalyst still map-side combines, so scale = terms agg.
        fields = [t["field"] for t in body["terms"]]
        size = body.get("size", 10)
        grouped = _apply_metric_subaggs(df.groupBy(*[F.col(x) for x in fields]), sub)
        metric_names = [c for c in grouped.columns if c not in fields]
        return (
            grouped.withColumn(
                "key", F.concat_ws("|", *[F.col(x).cast("string") for x in fields])
            )
            # backticks: stats/percentiles sub-aggs emit dotted aliases
            .select("key", *[F.col(f"`{c}`") for c in metric_names])
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(size)
        )

    if kind == "time_series":
        # TimeSeriesAggregationBuilder.java (TSDB): one bucket per time
        # series — the _tsid, i.e. the tuple of time_series_dimension
        # fields. The reference reads dims off the index mapping; this
        # engine takes them explicitly (`dimensions: [...]`, same contract
        # as Engine.esql's TS dims). Buckets come back in _tsid order
        # (dims asc) with doc_count + metric sub-aggs; `key` mirrors the
        # reference's _tsid map rendered canonically as d1=v1,d2=v2.
        # One groupBy on the dim tuple — map-side combine, scale = terms.
        # (plans/fields.time_series_agg is the Column-level core of the same
        # operator; this branch is its ES-aggs-body spelling.)
        dims = body["dimensions"]
        size = body.get("size", 10000)
        grouped = _apply_metric_subaggs(df.groupBy(*[F.col(d) for d in dims]), sub)
        metric_names = [c for c in grouped.columns if c not in dims]
        key = F.concat_ws(
            ",", *[F.concat(F.lit(f"{d}="), F.col(d).cast("string")) for d in dims]
        )
        return (
            grouped.select(key.alias("key"), *[F.col(d) for d in dims],
                           *[F.col(f"`{c}`") for c in metric_names])
            .orderBy(*[F.asc(d) for d in dims])
            .limit(size)
        )

    if kind == "ip_prefix":
        # IpPrefixAggregationBuilder.java: bucket IPv4 addresses by their
        # /prefix_length network (v4 subset, numeric mask then re-format)
        f = body["field"]
        plen = int(body["prefix_length"])
        mask = (~((1 << (32 - plen)) - 1)) & 0xFFFFFFFF
        from ..sources.geoip import ip_to_long as ip_num_col

        net = ip_num_col(F.col(f)).bitwiseAND(F.lit(mask))
        df = df.where(net.isNotNull())  # malformed IPs bucket nowhere
        key = F.concat_ws(
            ".",
            F.shiftright(net, 24).bitwiseAND(F.lit(255)).cast("string"),
            F.shiftright(net, 16).bitwiseAND(F.lit(255)).cast("string"),
            F.shiftright(net, 8).bitwiseAND(F.lit(255)).cast("string"),
            net.bitwiseAND(F.lit(255)).cast("string"),
        )
        return _apply_metric_subaggs(df.groupBy(key.alias("key")), sub).orderBy("key")

    if kind == "string_stats":
        # StringStatsAggregationBuilder.java (analytics module): count /
        # min_length / max_length / avg_length over the values, plus the
        # Shannon entropy of the CHARACTER distribution across all values.
        # Two tiny aggregates cross-joined — the char histogram is a
        # groupBy(char) (bounded by the alphabet, so the shuffle is O(|Σ|)).
        f = body["field"]
        base = df.agg(
            F.count(f).alias("count"),
            F.min(F.length(f)).alias("min_length"),
            F.max(F.length(f)).alias("max_length"),
            F.avg(F.length(f)).alias("avg_length"),
        )
        chars = df.select(F.explode(F.split(F.col(f), "")).alias("ch")).where(
            F.col("ch") != ""
        )
        dist = chars.groupBy("ch").agg(F.count("*").cast("double").alias("n"))
        tot = chars.count()
        ent = dist.agg(
            (-F.sum((F.col("n") / float(tot)) * F.log2(F.col("n") / float(tot)))).alias(
                "entropy"
            )
        )
        return base.crossJoin(ent)

    if kind == "boxplot":
        # BoxplotAggregationBuilder.java (analytics module): min/max/q1/q2/q3
        # plus the 1.5·IQR whisker fences snapped to actual observations.
        # Quartiles are one exact-percentile pass (3 doubles to the driver),
        # the whiskers a second conditional aggregate — both full-scan
        # aggregates, no shuffle beyond the partial/final combine.
        f = body["field"]
        q = df.agg(
            F.expr(f"percentile({f}, 0.25)").alias("q1"),
            F.expr(f"percentile({f}, 0.5)").alias("q2"),
            F.expr(f"percentile({f}, 0.75)").alias("q3"),
        ).collect()[0]
        if q["q1"] is None:  # empty/all-null input: NULL stats, ES-style
            q = {"q1": None, "q2": None, "q3": None}
            lo = hi = None
        else:
            iqr = q["q3"] - q["q1"]
            lo, hi = q["q1"] - 1.5 * iqr, q["q3"] + 1.5 * iqr
        c = F.col(f)
        return df.agg(
            F.min(c).alias("min"),
            F.max(c).alias("max"),
            F.lit(q["q1"]).alias("q1"),
            F.lit(q["q2"]).alias("q2"),
            F.lit(q["q3"]).alias("q3"),
            F.min(F.when(c >= lo, c)).alias("lower"),
            F.max(F.when(c <= hi, c)).alias("upper"),
        )

    if kind == "matrix_stats":
        # MatrixStatsAggregationBuilder.java (aggs-matrix-stats module):
        # per-field moments + pairwise covariance/correlation. All raw
        # moments come from ONE aggregate pass; skewness/kurtosis derive
        # from E[x],E[x²],E[x³],E[x⁴] (population form), so the plan is a
        # single partial/final agg regardless of field count.
        fields = body["fields"]
        cols = []
        for x in fields:
            c = F.col(x).cast("double")
            cols += [
                F.count(c).alias(f"n_{x}"), F.avg(c).alias(f"m1_{x}"),
                F.avg(c * c).alias(f"m2_{x}"), F.avg(c * c * c).alias(f"m3_{x}"),
                F.avg(c * c * c * c).alias(f"m4_{x}"),
            ]
        for x in fields:
            for y in fields:
                cols += [
                    F.covar_pop(F.col(x).cast("double"), F.col(y).cast("double")).alias(f"cov_{x}_{y}"),
                    F.corr(F.col(x).cast("double"), F.col(y).cast("double")).alias(f"cor_{x}_{y}"),
                ]
        row = df.agg(*cols)
        pair_frames = []
        for x in fields:
            var = F.col(f"m2_{x}") - F.col(f"m1_{x}") * F.col(f"m1_{x}")
            skew = (
                F.col(f"m3_{x}") - 3 * F.col(f"m1_{x}") * F.col(f"m2_{x}")
                + 2 * F.col(f"m1_{x}") ** 3
            ) / var ** 1.5
            kurt = (
                F.col(f"m4_{x}") - 4 * F.col(f"m1_{x}") * F.col(f"m3_{x}")
                + 6 * F.col(f"m1_{x}") ** 2 * F.col(f"m2_{x}")
                - 3 * F.col(f"m1_{x}") ** 4
            ) / var ** 2
            for y in fields:
                pair_frames.append(row.select(
                    F.lit(x).alias("field_x"), F.lit(y).alias("field_y"),
                    F.col(f"n_{x}").alias("count"),
                    F.round(F.col(f"m1_{x}"), 4).alias("mean_x"),
                    F.round(var, 4).alias("variance_x"),
                    F.round(skew, 4).alias("skewness_x"),
                    F.round(kurt, 4).alias("kurtosis_x"),
                    F.round(F.col(f"cov_{x}_{y}"), 4).alias("covariance"),
                    F.round(F.col(f"cor_{x}_{y}"), 4).alias("correlation"),
                ))
        out = pair_frames[0]
        for fr in pair_frames[1:]:
            out = out.unionByName(fr)
        return out.orderBy("field_x", "field_y")

    if kind == "variable_width_histogram":
        # VariableWidthHistogramAggregationBuilder.java: ~N buckets whose
        # widths adapt to the data. The reference clusters shard-locally in
        # collection order (inherently approximate); here the deterministic
        # analog is equal-frequency (ntile) clustering over a total order —
        # key = bucket centroid, min/max = bounds. NOTE: ntile is a global
        # sort window; at 100 TB swap the tile assignment for
        # approx_percentile boundaries (same output contract, sketch-based).
        f = body["field"]
        n = int(body.get("buckets", 10))
        w = Window.orderBy(F.col(f).asc(), F.col(df.columns[0]).asc())
        tiled = df.withColumn("__t", F.ntile(n).over(w))
        return (
            tiled.groupBy("__t")
            .agg(
                F.round(F.avg(f), 4).alias("key"),
                F.min(f).alias("min"),
                F.max(f).alias("max"),
                F.count("*").alias("doc_count"),
            )
            .orderBy("__t")
            .drop("__t")
        )

    if kind == "top_hits":
        raise ValueError("top_hits must be nested under a bucket agg")

    if kind == "rare_terms":
        f = body["field"]
        mx = body.get("max_doc_count", 1)
        return (
            df.groupBy(F.col(f).alias("key")).agg(F.count("*").alias("doc_count"))
            .where(F.col("doc_count") <= mx)
            .orderBy("key")
        )

    if kind == "sampler":
        # best-scoring/first shard_size docs per partition, then sub-aggs —
        # here: global limit sample (deterministic by first column)
        sz = body.get("shard_size", 100)
        sampled = df.orderBy(df.columns[0]).limit(sz)
        return _apply_metric_subaggs(sampled.groupBy(), sub)

    if kind == "random_sampler":
        # x-pack RandomSamplerAggregationBuilder: probability-p document
        # sample, count-shaped results scaled back by 1/p. Deterministic
        # engine contract (the reference seeds a per-shard RNG; this engine
        # derives the coin from (seed, key field) so reruns and cluster
        # sizes agree): keep iff hash(key) % M < p*M — a pure filter, no
        # shuffle, whole-stage codegen. doc_count and sum/value_count
        # metrics are scaled by 1/p; means/percentiles pass through
        # unscaled (they are ratio estimators — reference behavior).
        p = float(body["probability"])
        seed = int(body.get("seed", 0))
        keyf = body.get("_key_field", df.columns[0])
        modulus = 1_000_000
        from pyspark.sql.types import IntegralType

        if isinstance(df.schema[keyf].dataType, IntegralType):
            # overflow-safe multiplicative mix expressible verbatim in ANSI
            # SQL (the oracle): (key % 1000003) * 7919 stays < 2^43
            h = F.pmod(
                F.pmod(F.col(keyf).cast("long"), F.lit(1000003)) * F.lit(7919)
                + F.lit(seed),
                F.lit(modulus),
            )
        else:
            h = F.pmod(F.xxhash64(F.col(keyf), F.lit(seed)), F.lit(modulus))
        sampled = df.where(h < F.lit(int(round(p * modulus))))
        out = _apply_metric_subaggs(sampled.groupBy(), sub)
        # scale count-shaped outputs by 1/p, inspecting each sub-agg's kind
        sel = []
        for c in out.columns:
            if c == "doc_count":
                sel.append(F.round(F.col(c) / p).cast("long").alias(c))
            elif c in sub and next(iter(sub[c])) == "value_count":
                sel.append(F.round(F.col(c) / p).cast("long").alias(c))
            elif c in sub and next(iter(sub[c])) == "sum":
                sel.append(F.round(F.col(c) / p, 4).alias(c))
            else:
                sel.append(F.col(c))
        return out.select(*sel)

    if kind == "diversified_sampler":
        # DiversifiedAggregationBuilder.java: like sampler, but at most
        # max_docs_per_value per distinct `field` value (de-biasing the
        # sample) — a per-value window rank then the shard_size cap
        f = body["field"]
        max_per = body.get("max_docs_per_value", 1)
        sz = body.get("shard_size", 100)
        w = Window.partitionBy(f).orderBy(df.columns[0])
        sampled = (
            df.withColumn("__dr", F.row_number().over(w))
            .where(F.col("__dr") <= max_per)
            .drop("__dr")
            .orderBy(df.columns[0])
            .limit(sz)
        )
        return _apply_metric_subaggs(sampled.groupBy(), sub)

    if kind == "adjacency_matrix":
        qs = body["filters"]
        names = list(qs)
        frames = []
        for i, a in enumerate(names):
            for b in names[i:]:
                key = a if a == b else f"{a}&{b}"
                both = _matching(df, {"bool": {"filter": [qs[a], qs[b]]}})
                fr = both.agg(F.count("*").alias("doc_count"))
                frames.append(fr.select(F.lit(key).alias("key"), "doc_count"))
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out.where(F.col("doc_count") > 0).orderBy("key")

    if kind == "scripted_metric":
        # ScriptedMetricAggregator.java contexts → Spark's partial/final
        # agg: map_script = per-row expression, combine_script = explicit
        # per-shard partial (aggregate over `states` within a partition),
        # reduce_script = final aggregate over the per-shard partials.
        # Without combine_script, Catalyst's own map-side combine stands in.
        # Painless-subset scripts (state maps, loops — anything a single
        # SQL expression can't express) run the real init/map/combine/
        # reduce lifecycle: one state per PARTITION (the per-shard analog),
        # combine on the executors, reduce over the per-partition partials
        # (bounded by partition count — the reference's shard count).
        from ..functions import painless as _P

        if any(_P.is_painless(body.get(s, ""))
               for s in ("init_script", "map_script",
                         "combine_script", "reduce_script")):
            return _scripted_metric_painless(df, name, body)
        mapped = df.withColumn("__state", F.expr(body["map_script"]))
        if "combine_script" in body:
            per_part = mapped.groupBy(F.spark_partition_id().alias("__pid")).agg(
                F.expr(re.sub(r"\bstates\b", "__state", body["combine_script"])).alias("__partial")
            )
            return per_part.agg(
                F.expr(re.sub(r"\bstates\b", "__partial", body["reduce_script"])).alias(name)
            )
        return mapped.agg(
            F.expr(re.sub(r"\bstates\b", "__state", body["reduce_script"])).alias(name)
        )

    if kind == "geo_line":
        return df.agg(_geo_line_col(body).alias(name))

    if kind == "t_test":
        # TTestAggregationBuilder.java (x-pack analytics): paired /
        # homoscedastic / heteroscedastic (Welch) two-sample t-test. The
        # per-side moments (n, mean, sample variance) are ONE distributed
        # aggregate pass; the t statistic and the two-sided p-value (via
        # the regularized incomplete beta, functions/stats.py) are
        # coordinator-side scalar math — the reference's shard-collect →
        # coordinator-reduce shape.
        from ..functions.stats import t_two_sided_p

        ttype = body.get("type", "heteroscedastic")
        a_spec, b_spec = body["a"], body["b"]
        spark = df.sparkSession

        if ttype == "paired":
            d = F.col(a_spec["field"]) - F.col(b_spec["field"])
            r = df.agg(
                F.count(d).alias("n"), F.avg(d).alias("m"), F.var_samp(d).alias("v")
            ).collect()[0]
            n = int(r["n"])
            if n < 2 or r["v"] in (None, 0.0):
                # degenerate sample: ES reports a null p-value
                return spark.createDataFrame([(None,)], f"`{name}` double")
            t = float(r["m"]) / math.sqrt(float(r["v"]) / n)
            dof = float(n - 1)
            na = nb = n
        else:
            def _moments(side):
                sdf = _matching(df, side["filter"]) if side.get("filter") else df
                c = F.col(side["field"])
                return sdf.agg(
                    F.count(c).alias("n"), F.avg(c).alias("m"), F.var_samp(c).alias("v")
                ).collect()[0]

            ra, rb = _moments(a_spec), _moments(b_spec)
            na, nb = int(ra["n"]), int(rb["n"])
            if na < 2 or nb < 2 or ra["v"] is None or rb["v"] is None:
                # a side with <2 observations has no variance: null p-value
                return spark.createDataFrame([(None,)], f"`{name}` double")
            ma, mb = float(ra["m"]), float(rb["m"])
            va, vb = float(ra["v"]), float(rb["v"])
            if ttype == "homoscedastic":
                sp2 = ((na - 1) * va + (nb - 1) * vb) / (na + nb - 2)
                t = (ma - mb) / math.sqrt(sp2 * (1.0 / na + 1.0 / nb))
                dof = float(na + nb - 2)
            else:  # heteroscedastic: Welch's t + Welch–Satterthwaite dof
                se2a, se2b = va / na, vb / nb
                t = (ma - mb) / math.sqrt(se2a + se2b)
                dof = (se2a + se2b) ** 2 / (
                    se2a**2 / (na - 1) + se2b**2 / (nb - 1)
                )
        p = t_two_sided_p(t, dof)
        return spark.createDataFrame(
            [(na, nb, float(t), float(dof), float(p))],
            "n_a long, n_b long, t_stat double, dof double, p_value double",
        )

    if kind in ("children", "parent"):
        # modules/parent-join Children/ParentAggregationBuilder: both doc
        # levels live in ONE frame (join field = doc type, parent pointer
        # column), the reference's same-shard parent/child contract.
        # ``children`` switches a parent-level context to the child docs,
        # inheriting parent attributes (null on child rows → coalesced
        # from the joined parent row) so bucket/metric sub-aggs can mix
        # levels; ``parent`` switches child context to the DISTINCT parent
        # docs that have a matching child.
        jf = body.get("join_field", "join_type")
        pf = body.get("parent_field", "parent_id")
        child_t = body["type"]
        key = df.columns[0]
        children = df.where(F.col(jf) == child_t)
        parents = df.where((F.col(jf) != child_t) | F.col(jf).isNull())
        if kind == "parent":
            scope = parents.join(
                children.select(F.col(pf).alias(key)).distinct(), key, "left_semi"
            )
        else:
            attrs = [c for c in df.columns if c not in (key, jf, pf)]
            p = parents.select(
                F.col(key).alias("__pk"),
                *[F.col(c).alias(f"__p_{c}") for c in attrs],
            )
            j = children.join(p, children[pf] == F.col("__pk"), "inner")
            scope = j.select(
                F.col(key), F.col(jf), F.col(pf),
                *[F.coalesce(F.col(c), F.col(f"__p_{c}")).alias(c) for c in attrs],
            )
        if sub:
            frames = [compile_agg(scope, sname, sspec) for sname, sspec in sub.items()]
            out = frames[0]
            for fr in frames[1:]:
                # combine sibling sub-aggs: bucketed frames share the
                # bucket key, global metrics are single-row (cross join)
                if "key" in out.columns and "key" in fr.columns:
                    out = out.join(fr, "key", "outer")
                elif "key" not in out.columns and "key" not in fr.columns:
                    out = out.crossJoin(fr)
                else:
                    raise ValueError(
                        f"{kind} agg: mixed bucket/metric sibling sub-aggs "
                        "are not combinable into one frame"
                    )
            return out
        return scope.agg(F.count("*").alias("doc_count"))

    if kind == "categorize_text":
        # CategorizeTextAggregationBuilder.java (semi-structured log
        # grouping). Documented-subset category key: the message's token
        # sequence with numeric-bearing tokens dropped (the reference's
        # ml-categorization dictionary weighting reduces to this on
        # machine-generated text where variable parts are numbers/ids).
        f = body["field"]
        size = body.get("size", 10)
        min_doc = body.get("min_doc_count", 1)
        toks = F.split(F.lower(F.col(f)), r"[^\p{L}\p{N}]+")
        toks = F.filter(toks, lambda t: (t != "") & ~t.rlike("[0-9]"))
        key = F.array_join(toks, " ")
        grouped = _apply_metric_subaggs(
            df.where(key != "").groupBy(key.alias("key")), sub
        )
        return (
            grouped.where(F.col("doc_count") >= min_doc)
            .orderBy(F.desc("doc_count"), F.asc("key"))
            .limit(size)
        )

    if kind == "frequent_item_sets":
        return _frequent_item_sets(df, body)

    if kind == "significant_terms":
        # fg = this frame (the query context), bg = background_df or fg;
        # background_filter (SignificantTermsAggregationBuilder) narrows the
        # background to a DSL-predicate subset
        f = body["field"]
        bg_df = body.get("_background_df")
        bg_df = bg_df if bg_df is not None else df
        if "background_filter" in body:
            bg_df = _matching(bg_df, body["background_filter"])
        fg_counts = df.groupBy(F.col(f).alias("key")).agg(F.count("*").cast("double").alias("fg_count"))
        bg_counts = bg_df.groupBy(F.col(f).alias("key")).agg(F.count("*").cast("double").alias("bg_count"))
        fg_tot = df.count()
        bg_tot = bg_df.count()
        size = body.get("size", 10)
        heuristic = next((h for h in _SIG_HEURISTICS if h in body), "jlh")
        inc_neg = True
        if heuristic in body and isinstance(body[heuristic], dict):
            inc_neg = body[heuristic].get("include_negatives", True)
        out = (
            fg_counts.join(bg_counts, "key")
            .withColumn("score", _sig_score(
                heuristic, F.col("fg_count"), fg_tot, F.col("bg_count"), bg_tot))
        )
        if not inc_neg:
            # drop terms rarer in the subset than in the rest of the
            # background (NXYSignificanceHeuristic includeNegatives=false)
            out = out.where(
                F.col("fg_count") / float(fg_tot)
                >= (F.col("bg_count") - F.col("fg_count")) / float(max(bg_tot - fg_tot, 1))
            )
        return (
            out
            .where(F.col("score") > 0)
            .select("key", F.col("fg_count").cast("long").alias("doc_count"),
                    F.col("bg_count").cast("long").alias("bg_count"), "score")
            .orderBy(F.desc("score"), F.asc("key"))
            .limit(size)
        )

    if kind == "composite":
        key_cols = []
        names = []
        for src in body["sources"]:
            (nm, s), = src.items()
            c, _ = _bucket_col(s)
            key_cols.append((c if hasattr(c, "alias") else F.col(c)).alias(nm))
            names.append(nm)
        grouped = _apply_metric_subaggs(df.groupBy(*key_cols), sub)
        if "after" in body:
            after = body["after"]
            pred = F.lit(False)
            for i in range(1, len(names) + 1):
                eq = F.lit(True)
                for j in range(i - 1):
                    eq = eq & (F.col(names[j]) == F.lit(after[names[j]]))
                pred = pred | (eq & (F.col(names[i - 1]) > F.lit(after[names[i - 1]])))
            grouped = grouped.where(pred)
        return grouped.orderBy(*[F.col(n).asc() for n in names]).limit(body.get("size", 10))

    if kind == "auto_date_histogram":
        f = body["field"]
        target = body.get("buckets", 10)
        lo, hi = df.agg(F.min(f), F.max(f)).collect()[0]
        # empty input (or all-null field): ES returns an empty buckets array
        span_s = max((hi - lo).total_seconds(), 1) if lo is not None else 1
        ladder = [("minute", 60), ("hour", 3600), ("day", 86400),
                  ("week", 604800), ("month", 2629800), ("year", 31557600)]
        unit = next((u for u, s in ladder if span_s / s <= target), "year")
        return (
            _apply_metric_subaggs(df.groupBy(F.date_trunc(unit, F.col(f)).alias("key")), sub)
            .withColumn("interval", F.lit(unit))
            .orderBy("key")
        )

    if kind == "nested":
        path = body["path"]
        parent_key = df.columns[0]
        ex = df.select("*", F.explode(path).alias("__child"))
        child_cols = ex.select("__child.*").columns
        # flat view: child struct fields promoted to top level (child scope
        # wins a name clash, as inside the reference's nested context),
        # parent columns retained for reverse_nested
        flat = ex.select(
            *[F.col(c) for c in df.columns if c not in child_cols],
            *[F.col(f"__child.{c}").alias(c) for c in child_cols],
        )

        def strip(fname: str) -> str:
            return fname.split(".", 1)[1] if fname.startswith(path + ".") else fname

        # bucket-with-reverse_nested shape: one child bucket agg whose
        # sub-aggs include reverse_nested {} (InternalReverseNested.java) —
        # parent-scope metrics computed over DISTINCT parents per bucket
        if sub and len(sub) == 1:
            (sname, sspec), = sub.items()
            (skind, sbody), = ((k, v) for k, v in sspec.items() if k != "aggs")
            ssub = sspec.get("aggs", {})
            rn = {n: s for n, s in ssub.items() if "reverse_nested" in s}
            if skind == "terms" and rn:
                child_sub = {n: s for n, s in ssub.items() if n not in rn}
                key_col = F.col(strip(sbody["field"])).alias("key")
                grouped = _apply_metric_subaggs(flat.groupBy(key_col), child_sub)
                keyed = flat.withColumn("key", F.col(strip(sbody["field"])))
                for rn_name, rn_spec in rn.items():
                    parents = keyed.dropDuplicates(["key", parent_key])
                    rn_cols = [F.count("*").alias(f"{rn_name}.doc_count")]
                    for mn, ms in (rn_spec.get("aggs") or {}).items():
                        rn_cols.extend(_metric_cols(mn, ms))
                    grouped = grouped.join(parents.groupBy("key").agg(*rn_cols), "key")
                size = sbody.get("size", 10)
                return grouped.orderBy(F.desc("doc_count"), F.asc("key")).limit(size)

        frames = [(sname, compile_agg(flat, sname, sspec))
                  for sname, sspec in (sub or {}).items()]
        # two sibling bucket sub-aggs both carry doc_count (and possibly
        # same-named metrics): namespace any column that appears in more
        # than one sibling frame as "<agg-name>.<col>" — the reference
        # namespaces every sub-agg's results, we only rename on collision
        # so the common single-sub case keeps its flat column names
        col_owners: dict[str, int] = {}
        for _, fr in frames:
            for c in fr.columns:
                if c != "key":
                    col_owners[c] = col_owners.get(c, 0) + 1
        renamed = []
        for sname, fr in frames:
            for c in fr.columns:
                if c != "key" and col_owners.get(c, 0) > 1:
                    fr = fr.withColumnRenamed(c, f"{sname}.{c}")
            renamed.append(fr)
        out = None
        for frame in renamed:
            if out is None:
                out = frame
            elif "key" in out.columns and "key" in frame.columns:
                # sibling bucket sub-aggs over the same nested scope combine
                # on the shared bucket key (outer: each sibling may bucket a
                # different key subset)
                out = out.join(frame, "key", "outer")
            else:
                # metric siblings are one-row frames — combine columns
                out = out.crossJoin(frame)
        return out if out is not None else flat.agg(F.count("*").alias("doc_count"))

    # ---- keyed bucket sources (terms/histogram/date_histogram/missing) ----
    key_col, (bkind, bbody) = _bucket_col(body_spec)

    # top_hits sub-agg: window top-k per bucket instead of groupBy metrics;
    # sibling METRIC sub-aggs still aggregate and join back on the bucket
    # key (the reference returns both in one response)
    if sub and any("top_hits" in s for s in sub.values()):
        (th_name, th_spec), = ((n, s) for n, s in sub.items() if "top_hits" in s)
        th = th_spec["top_hits"]
        size = th.get("size", 3)
        sort_spec = th.get("sort", [])
        order = []
        for s in sort_spec:
            (sf, sd), = s.items()
            d = sd.get("order", "asc") if isinstance(sd, dict) else sd
            order.append(F.col(sf).desc() if d == "desc" else F.col(sf).asc())
        order.append(F.col(df.columns[0]).asc())
        w = Window.partitionBy(key_col).orderBy(*order)
        ranked = (
            df.withColumn("key", key_col)
            .withColumn("_rank", F.row_number().over(w))
            .where(F.col("_rank") <= size)
        )
        siblings = {n: s for n, s in sub.items() if n != th_name}
        if siblings:
            metrics = _apply_metric_subaggs(df.groupBy(key_col.alias("key")), siblings)
            ranked = ranked.join(metrics, "key", "left")
        return ranked.orderBy("key", "_rank")

    grouped = _apply_metric_subaggs(df.groupBy(key_col.alias("key")), sub)

    if bkind == "terms":
        size = bbody.get("size", 10)
        # include/exclude (IncludeExclude.java): anchored regex, value
        # list, or {partition, num_partitions} term-space partitioning —
        # all applied to bucket KEYS before min_doc_count and size
        inc = bbody.get("include")
        if isinstance(inc, dict):
            grouped = grouped.where(
                F.pmod(
                    F.xxhash64(F.col("key").cast("string")),
                    F.lit(int(inc["num_partitions"])),
                )
                == int(inc["partition"])
            )
        elif isinstance(inc, list):
            grouped = grouped.where(F.col("key").isin(inc))
        elif inc is not None:
            grouped = grouped.where(F.col("key").rlike(f"^(?:{inc})$"))
        exc = bbody.get("exclude")
        if isinstance(exc, list):
            grouped = grouped.where(~F.col("key").isin(exc))
        elif exc is not None:
            grouped = grouped.where(~F.col("key").rlike(f"^(?:{exc})$"))
        order_spec = bbody.get("order", {"_count": "desc"})
        (ok, od), = order_spec.items()
        oc = F.col("doc_count") if ok == "_count" else (
            F.col("key") if ok == "_key" else F.col(f"`{ok}`"))
        oc = oc.desc() if od == "desc" else oc.asc()
        # min_doc_count prunes BEFORE the size window (the reference drops
        # sub-threshold buckets before applying size, TermsAggregator.java)
        if "min_doc_count" in bbody:
            grouped = grouped.where(F.col("doc_count") >= bbody["min_doc_count"])
        return grouped.orderBy(oc, F.col("key").asc()).limit(size)
    if bkind in ("histogram", "date_histogram") and bbody.get("min_doc_count") == 0:
        # min_doc_count: 0 (HistogramAggregator empty-bucket filling): emit
        # every bucket between the data's (or extended_bounds') min and max
        # with doc_count 0 where no docs landed. The bucket axis is one
        # sequence() frame (tiny) right-joined onto the grouped counts —
        # nothing about the data path changes.
        spark_ = grouped.sparkSession
        lo_hi = grouped.agg(F.min("key"), F.max("key")).collect()[0]
        lo, hi = lo_hi[0], lo_hi[1]
        eb = bbody.get("extended_bounds")
        if bkind == "histogram":
            interval = bbody["interval"]
            if eb:
                lo = min(lo, eb["min"]) if lo is not None else eb["min"]
                hi = max(hi, eb["max"]) if hi is not None else eb["max"]
            if lo is None:
                return grouped.orderBy("key")
            off = bbody.get("offset", 0)
            import math as _m

            lo_b = _m.floor((lo - off) / interval) * interval + off
            hi_b = _m.floor((hi - off) / interval) * interval + off
            axis = spark_.range(0, int((hi_b - lo_b) / interval) + 1).select(
                (F.col("id") * interval + lo_b).alias("key")
            )
        else:
            iv = bbody.get("calendar_interval") or bbody.get("fixed_interval", "1d")
            steps = {"1d": "interval 1 day", "day": "interval 1 day",
                     "1h": "interval 1 hour", "hour": "interval 1 hour",
                     "1w": "interval 7 day", "week": "interval 7 day",
                     "1M": "interval 1 month", "month": "interval 1 month",
                     "minute": "interval 1 minute", "1m": "interval 1 minute",
                     "1y": "interval 1 year", "year": "interval 1 year",
                     "1q": "interval 3 month", "quarter": "interval 3 month"}
            if iv not in steps:
                raise ValueError(
                    f"min_doc_count:0 fill: unsupported calendar_interval {iv!r}")
            step = steps[iv]
            # compare and round-trip ALL bounds as epoch seconds — the one
            # timezone-safe frame. Collected keys are naive datetimes in the
            # DRIVER-LOCAL zone (PySpark TimestampType.fromInternal), so
            # .timestamp() inverts them exactly; epoch-millis bounds are
            # already instants; ISO-string bounds are wall times in the
            # SPARK SESSION zone (the reference parses them in the agg's
            # time_zone). Embedding via timestamp_seconds() avoids the old
            # timestamp'...' literal, which re-parsed a driver-local wall
            # time in the session zone and shifted the fill range by the
            # offset on non-UTC sessions.
            import datetime as _dt
            from zoneinfo import ZoneInfo

            sess_tz = ZoneInfo(
                spark_.conf.get("spark.sql.session.timeZone") or "UTC")

            def _epoch(v):
                if isinstance(v, _dt.datetime):
                    return v.timestamp()  # naive driver-local → instant
                if isinstance(v, (int, float)):
                    return v / 1000.0  # epoch millis → instant
                # ISO string: 'Z' first (pre-3.11 fromisoformat rejects it);
                # an EXPLICIT offset is an instant already — only a naive
                # wall time is interpreted in the Spark session zone
                parsed = _dt.datetime.fromisoformat(
                    str(v).replace("Z", "+00:00"))
                if parsed.tzinfo is None:
                    parsed = parsed.replace(tzinfo=sess_tz)
                return parsed.timestamp()

            lo_e = _epoch(lo) if lo is not None else None
            hi_e = _epoch(hi) if hi is not None else None
            if eb:
                eb_lo, eb_hi = _epoch(eb["min"]), _epoch(eb["max"])
                lo_e = min(lo_e, eb_lo) if lo_e is not None else eb_lo
                hi_e = max(hi_e, eb_hi) if hi_e is not None else eb_hi
            if lo_e is None:
                return grouped.orderBy("key")
            axis = spark_.sql(
                f"SELECT explode(sequence(timestamp_seconds({lo_e!r}), "
                f"timestamp_seconds({hi_e!r}), {step})) AS key"
            )
        key_type = dict(grouped.dtypes)["key"]
        axis = axis.select(F.col("key").cast(key_type))
        filled = axis.join(grouped, "key", "left")
        fill_cols = [
            F.coalesce(F.col("doc_count"), F.lit(0)).alias("doc_count")
            if c == "doc_count" else F.col(f"`{c}`")
            for c in grouped.columns
        ]
        return filled.select(*fill_cols).orderBy("key")
    mdc = bbody.get("min_doc_count")
    if bkind in ("histogram", "date_histogram") and mdc:
        # HistogramAggregator drops buckets below min_doc_count (the ==0
        # empty-bucket-filling case is the branch above)
        grouped = grouped.where(F.col("doc_count") >= mdc)
    return grouped.orderBy("key")


def _scripted_metric_painless(df: DataFrame, name: str, body: dict) -> DataFrame:
    """scripted_metric with real Painless-subset scripts
    (``ScriptedMetricAggregator.java`` lifecycle): per-PARTITION state
    (the per-shard analog) initialized by init_script, mutated per row by
    map_script (``state`` + ``doc``), folded to one JSON-serializable
    partial per partition by combine_script, then reduce_script over
    ``states`` — a list bounded by the partition count, exactly the
    reference's shard-partials collect. Only the doc fields map_script
    references ship to the executors.

    Output shape: a Map result explodes to (key, <name>) rows sorted by
    key; a List to one <name> row per element; a scalar to one row."""
    import json

    from ..functions import painless as P

    init_src = body.get("init_script")
    map_src = body["map_script"]
    combine_src = body.get("combine_script")
    reduce_src = body.get("reduce_script")
    params = body.get("params") or {}

    fields, dynamic = P.referenced_doc_fields(map_src)
    cols = [c for c in df.columns if dynamic or c in fields] or [df.columns[0]]
    narrow = df.select(*[F.col(f"`{c}`") for c in cols])

    def _partials(batches):
        state: dict = {}
        if init_src:
            P.execute(P.compile_painless(init_src),
                      {"params": params, "state": state})
        prog = P.compile_painless(map_src)
        saw = False
        for pdf in batches:
            arrays = {c: pdf[c].to_numpy(dtype=object) for c in pdf.columns}
            for i in range(len(pdf)):
                saw = True
                row = {c: P._clean(arrays[c][i]) for c in pdf.columns}
                P.execute(prog, {"params": params, "state": state,
                                 "doc": P.DocMap(row)})
        if combine_src:
            partial = P.execute(P.compile_painless(combine_src),
                                {"params": params, "state": state})
        else:
            partial = state
        if saw or partial:
            import pandas as pd

            yield pd.DataFrame({"partial": [json.dumps(partial)]})

    part_df = narrow.mapInPandas(_partials, schema="partial string")
    # one row per non-empty partition — the reference collects exactly the
    # per-shard partials to the coordinator for reduce
    states = [json.loads(r["partial"]) for r in part_df.collect()]
    if reduce_src:
        result = P.execute(P.compile_painless(reduce_src),
                           {"params": params, "states": states})
    else:
        result = states
    spark = df.sparkSession
    if isinstance(result, dict):
        rows = sorted(result.items())
        vt = "double" if all(
            isinstance(v, (int, float)) and not isinstance(v, bool)
            for _, v in rows) else "string"
        if vt == "double":
            rows = [(k, float(v)) for k, v in rows]
        else:
            rows = [(k, P._jstr(v)) for k, v in rows]
        return spark.createDataFrame(rows, f"key string, `{name}` {vt}")
    if isinstance(result, list):
        return spark.createDataFrame([(float(v),) for v in result],
                                     f"`{name}` double")
    if isinstance(result, bool):
        return spark.createDataFrame([(result,)], f"`{name}` boolean")
    if isinstance(result, (int, float)):
        return spark.createDataFrame([(float(result),)], f"`{name}` double")
    return spark.createDataFrame([(P._jstr(result),)], f"`{name}` string")


def _frequent_item_sets(df: DataFrame, body: dict) -> DataFrame:
    """frequent_item_sets agg (``x-pack/plugin/ml/.../FrequentItemSets``,
    `FrequentItemSetsAggregationBuilder.java`): CLOSED frequent itemsets
    over per-document transactions. Distributed apriori: level-k candidate
    counting is a k-way self-join of the (frequent-1-item-pruned)
    transaction table — every join keyed on the doc id, so candidates only
    form within a document, never all-pairs across the corpus; level-k
    candidates are semi-join-pruned by the frequent (k-1)-sets (the apriori
    lemma). Closedness = anti-join against equal-count supersets (the
    post-threshold set frames are tiny → broadcast nested-loop is free).
    ``max_set_size`` (default 3) bounds the level loop — the reference's
    eclat miner is similarly depth-bounded in practice by support decay."""
    fields = [f["field"] if isinstance(f, dict) else f for f in body["fields"]]
    min_sup = float(body.get("minimum_support", 0.1))
    min_size = int(body.get("minimum_set_size", 1))
    size = int(body.get("size", 10))
    max_k = int(body.get("max_set_size", 3))
    key = df.columns[0]

    items = F.array(
        *[F.concat_ws("=", F.lit(f), F.col(f).cast("string")) for f in fields]
    )
    tx = (
        df.select(F.col(key).alias("__tid"), F.explode(items).alias("item"))
        .where(~F.col("item").rlike("=$"))  # null values produce "field="
        .distinct()
    )
    n_tx = df.count()
    thr = max(1, math.ceil(min_sup * n_tx))

    l1 = (
        tx.groupBy("item").agg(F.count("*").alias("doc_count"))
        .where(F.col("doc_count") >= thr)
    )
    tx1 = tx.join(l1.select("item"), "item", "left_semi")

    levels: list[DataFrame] = [
        l1.select(F.array("item").alias("items"), "doc_count", F.lit(1).alias("set_size"))
    ]
    # per-doc frequent-item sets as candidate base for level joins
    prev_occ = tx1.select("__tid", F.array("item").alias("items"))
    prev_sets = levels[0].select("items")
    for k in range(2, max_k + 1):
        grown = (
            prev_occ.alias("a")
            .join(tx1.alias("b"), "__tid")
            .where(F.element_at(F.col("a.items"), -1) < F.col("b.item"))
            .select(
                "__tid", F.concat(F.col("a.items"), F.array(F.col("b.item"))).alias("items")
            )
        )
        # apriori prune: the (k-1)-prefix-dropping subset must be frequent —
        # checking the suffix (k-1)-set (items[1:]) against the previous level
        grown = grown.join(
            prev_sets.select(F.col("items").alias("__sub")),
            F.slice(F.col("items"), 2, k - 1) == F.col("__sub"),
            "left_semi",
        ) if k > 2 else grown
        lk = (
            grown.groupBy("items").agg(F.count("*").alias("doc_count"))
            .where(F.col("doc_count") >= thr)
        )
        if lk.limit(1).count() == 0:
            break
        levels.append(lk.select("items", "doc_count", F.lit(k).alias("set_size")))
        prev_occ = grown.join(lk.select("items"), "items", "left_semi")
        prev_sets = lk.select("items")

    # closedness: drop any set having an equal-count strict superset one
    # level up (transitively sufficient level-by-level)
    closed = [levels[-1]]
    for k in range(len(levels) - 2, -1, -1):
        sup = levels[k + 1].select(
            F.col("items").alias("__sup_items"), F.col("doc_count").alias("__sup_dc")
        )
        kept = levels[k].alias("s").join(
            sup,
            (F.size(F.array_except(F.col("s.items"), F.col("__sup_items"))) == 0)
            & (F.col("s.doc_count") == F.col("__sup_dc")),
            "left_anti",
        )
        closed.append(kept)
    out = closed[0]
    for fr in closed[1:]:
        out = out.unionByName(fr)
    return (
        out.where(F.col("set_size") >= min_size)
        .select(
            F.array_join("items", ",").alias("key"),
            "set_size",
            "doc_count",
            (F.col("doc_count") / F.lit(float(n_tx))).alias("support"),
        )
        .orderBy(F.desc("doc_count"), F.asc("key"))
        .limit(size)
    )


def apply_cumulative_cardinality(
    df: DataFrame, parent_spec: dict, frame: DataFrame, name: str, body: dict
) -> DataFrame:
    """CumulativeCardinalityPipelineAggregationBuilder.java (x-pack
    analytics): per bucket, the number of DISTINCT values seen in this or
    any earlier bucket. The reference merges per-bucket HLL sketches
    cumulatively on the coordinator; the exact distributed equivalent is:
    each value contributes at its FIRST bucket (one groupBy over the raw
    rows), the first-appearance histogram is cumulative-summed over the
    coordinator-small bucket frame, then joined back onto the parent
    buckets. No per-bucket distinct scans — one extra shuffle total,
    independent of bucket count."""
    path = body["buckets_path"]
    card_spec = parent_spec.get("aggs", {}).get(path, {})
    vfield = card_spec["cardinality"]["field"]
    parent_wo = {k: v for k, v in parent_spec.items() if k != "aggs"}
    key_col, _ = _bucket_col(parent_wo)
    first = (
        df.where(F.col(vfield).isNotNull())
        .groupBy(vfield)
        .agg(F.min(key_col).alias("key"))
    )
    news = first.groupBy("key").agg(F.count("*").alias("__new"))
    w = Window.orderBy("key").rowsBetween(Window.unboundedPreceding, 0)
    return (
        frame.join(news, "key", "left")
        .fillna({"__new": 0})
        .withColumn(name, F.sum("__new").over(w))
        .drop("__new")
    )


def apply_pipeline(buckets: DataFrame, name: str, spec: dict) -> DataFrame:
    """Pipeline agg over a bucket frame (window functions; the reference
    computes these coordinator-side post-reduce)."""
    (kind, body), = spec.items()
    path = body.get("buckets_path")
    if isinstance(path, str):
        src = F.col("doc_count" if path in ("_count",) else f"`{path}`")
    elif kind in ("cumulative_sum", "derivative", "serial_diff", "moving_fn",
                  "moving_avg", "normalize", "moving_percentiles"):
        raise ValueError(
            f"{kind} needs a string buckets_path (got {path!r})")
    w = Window.orderBy("key")
    if kind == "cumulative_sum":
        return buckets.withColumn(
            name, F.sum(src).over(w.rowsBetween(Window.unboundedPreceding, 0))
        )
    if kind == "derivative":
        return buckets.withColumn(name, src - F.lag(src, 1).over(w))
    if kind == "serial_diff":
        lag = body.get("lag", 1)
        return buckets.withColumn(name, src - F.lag(src, lag).over(w))
    if kind in ("moving_fn", "moving_avg"):
        # moving_avg is the reference's deprecated precursor of moving_fn
        # (MovAvgPipelineAggregationBuilder.java → MovFnPipelineAggregator
        # .java:112): the window is [i - window + shift, i + shift) over the
        # GAP-COMPRESSED value sequence — shift=0 EXCLUDES the current
        # bucket (yaml 70_mov_fn_agg.yml pins bucket 0 = absent, bucket 1 =
        # fn([v0])); null-valued buckets get no output. The script is real
        # Painless with `values` bound (MovingFunctions statics ported in
        # functions/painless.py), so ewma/holt/holtWinters/custom bodies
        # all run.
        import pandas as pd
        from pyspark.sql.functions import pandas_udf as _pudf

        from ..functions import painless as P

        window = int(body.get("window", 5))
        shift = int(body.get("shift", 0))
        script = body.get("script", "MovingFunctions.unweightedAvg(values)")
        if "(" not in script:
            script = f"{script}(values)"  # legacy bare-name form
        params = dict(body.get("params") or {})
        # gap-compressed series: collect_list drops nulls, count-to-here
        # gives the current bucket's index within the filtered sequence
        full = F.collect_list(src.cast("double")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        idx = F.count(src).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1
        prog_src = script

        @_pudf("double")
        def _movfn(vals: pd.Series, i: pd.Series, cur: pd.Series) -> pd.Series:
            prog = P.compile_painless(prog_src)
            out = []
            for arr, ix, c in zip(vals, i, cur):
                if c is None or (isinstance(c, float) and c != c):
                    out.append(None)  # null bucket: no value, like the reference
                    continue
                arr = [float(x) for x in arr]
                ix = int(ix)
                fr = max(0, min(ix - window + shift, len(arr)))
                to = max(0, min(ix + shift, len(arr)))
                env = {"values": arr[fr:to], "params": params}
                res = P.execute(prog, env)
                # NaN (empty window / all-NaN) renders as an absent value,
                # like InternalSimpleValue's xcontent
                out.append(None if res is None or res != res else float(res))
            return pd.Series(out, dtype="float64")

        return buckets.withColumn(name, _movfn(full, idx, src.cast("double")))
    def _bind_params(script: str, paths: dict) -> str:
        # boundary-aware substitution: params.t must not eat params.t2
        # (plain substring replace corrupts shared-prefix variable names)
        def sub(m):
            var = m.group(1)
            if var not in paths:
                raise ValueError(f"buckets_path has no variable {var!r}")
            col = paths[var]
            return "`doc_count`" if col == "_count" else f"`{col}`"

        return re.sub(r"params\.(\w+)", sub, script)

    if kind == "bucket_script":
        # buckets_path: {var: col}; script: painless-ish arithmetic over vars
        return buckets.withColumn(
            name, F.expr(_bind_params(body["script"], body["buckets_path"])))
    if kind == "bucket_selector":
        return buckets.where(
            F.expr(_bind_params(body["script"], body["buckets_path"])))
    if kind == "normalize":
        # NormalizePipelineAggregationBuilder.java (analytics module): six
        # rescaling methods over the bucket frame — whole-frame window
        # aggregates (the frame is coordinator-small by construction)
        method = body["method"]
        wf = Window.partitionBy()
        mn, mx = F.min(src).over(wf), F.max(src).over(wf)
        mean, sm = F.avg(src).over(wf), F.sum(src).over(wf)
        std = F.stddev_pop(src).over(wf)
        exprs = {
            "rescale_0_1": (src - mn) / (mx - mn),
            "rescale_0_100": 100.0 * (src - mn) / (mx - mn),
            "percent_of_sum": 100.0 * src / sm,
            "mean": (src - mean) / (mx - mn),
            "z-score": (src - mean) / std,
            "softmax": F.exp(src) / F.sum(F.exp(src)).over(wf),
        }
        return buckets.withColumn(name, F.round(exprs[method], 6))

    if kind == "moving_percentiles":
        # MovingPercentilesPipelineAggregationBuilder.java: exact percentile
        # over a sliding window of trailing buckets (the reference slides a
        # merged t-digest; the frame is coordinator-small so exact is free)
        window = int(body.get("window", 5))
        shift = int(body.get("shift", 0))
        pcts = body.get("percents", [50.0])
        # MovingPercentilesPipelineAggregator.java:89 — same clamp as
        # moving_fn: [i - window + shift, i + shift), EXCLUDING the current
        # bucket at shift=0
        frame = w.rowsBetween(-window + shift, shift - 1)
        out = buckets
        colname = "doc_count" if path in ("_count",) else path
        for p in pcts:
            out = out.withColumn(
                f"{name}.{p}",
                F.expr(f"percentile(`{colname}`, {p / 100.0})").over(frame),
            )
        return out

    if kind == "inference":
        # InferencePipelineAggregationBuilder.java (x-pack ml): per-bucket
        # inference with a trained tree-ensemble model. buckets_path is a
        # {feature_name: bucket_column} map; the model comes from the
        # trained-model registry (model_id) or inline. The ensemble compiles
        # to one CASE-WHEN SQL projection over the bucket frame — JVM-side,
        # zero Python per bucket, same codegen path as the LTR rescorer.
        from ..operators.ltr import ensemble_sql, resolve_trained_model, safe_feature_model

        model = resolve_trained_model(body.get("model_id") or body["model"])
        model, feat_map = safe_feature_model(model)
        bp = body.get("buckets_path") or {}
        out = buckets
        for ph, feat in feat_map.items():
            colname = bp.get(feat, feat)
            if colname == "_count":
                colname = "doc_count"
            out = out.withColumn(ph, F.col(colname).cast("double"))
        out = out.withColumn(name, F.expr(ensemble_sql(model)))
        return out.drop(*feat_map.keys())

    if kind == "bucket_sort":
        order = []
        for s in body.get("sort", []):
            (sf, sd), = s.items()
            d = sd.get("order", "asc") if isinstance(sd, dict) else sd
            order.append(F.col(sf).desc() if d == "desc" else F.col(sf).asc())
        out = buckets.orderBy(*order) if order else buckets
        if "size" in body:
            out = out.limit(body["size"])
        return out
    raise ValueError(f"unsupported pipeline agg: {kind}")


_PIPELINE_KINDS = {
    "cumulative_sum", "derivative", "serial_diff", "moving_fn", "moving_avg",
    "bucket_script", "bucket_selector", "bucket_sort",
    "normalize", "moving_percentiles", "inference",
}

# sibling pipelines: aggregate ANOTHER agg's bucket frame into one row
# (the reference's `*_bucket` family, ``server/.../search/aggregations/
# pipeline/AvgBucketPipelineAggregationBuilder.java`` et al.) — pure
# coordinator-side post-reduce, so a plain agg over the (tiny) bucket frame
_SIBLING_KINDS = {
    "avg_bucket", "sum_bucket", "min_bucket", "max_bucket",
    "stats_bucket", "extended_stats_bucket", "percentiles_bucket",
    "change_point", "bucket_correlation", "bucket_count_ks_test",
}


def apply_sibling(frames: dict[str, DataFrame], name: str, spec: dict) -> DataFrame:
    """`*_bucket` sibling pipeline: buckets_path "agg>metric" (or "agg>_count")
    → one-row aggregate over that agg's bucket frame."""
    (kind, body), = spec.items()
    src_name, _, metric = body["buckets_path"].partition(">")
    frame = frames[src_name]
    col = F.col("doc_count" if metric in ("", "_count") else f"`{metric}`")
    if kind == "avg_bucket":
        return frame.agg(F.avg(col).alias(name))
    if kind == "sum_bucket":
        return frame.agg(F.sum(col).alias(name))
    if kind == "min_bucket":
        return frame.agg(F.min(col).alias(name))
    if kind == "max_bucket":
        return frame.agg(F.max(col).alias(name))
    if kind == "stats_bucket":
        return frame.agg(
            F.count(col).alias(f"{name}.count"), F.min(col).alias(f"{name}.min"),
            F.max(col).alias(f"{name}.max"), F.sum(col).alias(f"{name}.sum"),
            F.avg(col).alias(f"{name}.avg"),
        )
    if kind == "extended_stats_bucket":
        return frame.agg(
            F.count(col).alias(f"{name}.count"), F.avg(col).alias(f"{name}.avg"),
            F.var_pop(col).alias(f"{name}.variance"),
            F.stddev_pop(col).alias(f"{name}.std_deviation"),
        )
    if kind == "percentiles_bucket":
        pcts = body.get("percents", [1, 5, 25, 50, 75, 95, 99])
        c = "doc_count" if metric in ("", "_count") else metric
        return frame.agg(*[
            F.expr(f"percentile(`{c}`, {p / 100.0})").alias(f"{name}.{p}") for p in pcts
        ])
    if kind == "change_point":
        # x-pack ml ChangePointAggregationBuilder: detect THE change point
        # in a bucket series. Coordinator-side post-reduce over the (small)
        # bucket frame, like the reference.
        rows = frame.orderBy("key").select("key", col.alias("__v")).collect()
        t, idx, p = detect_change_point([float(r["__v"]) for r in rows])
        spark = frame.sparkSession
        schema = "type string, key string, p_value double"
        key = str(rows[idx]["key"]) if idx is not None else None
        return spark.createDataFrame([(t, key, p)], schema)
    if kind == "bucket_correlation":
        # x-pack ml BucketCorrelationAggregationBuilder +
        # CountCorrelationFunction.execute: approximate Pearson correlation
        # between the bucket _count series (a queried subset) and a stored
        # indicator {expectations, fractions?, doc_count}. Coordinator-side
        # post-reduce over the small bucket frame, like the reference.
        ind = body["function"]["count_correlation"]["indicator"]
        rows = frame.orderBy("key").select(col.alias("__v")).collect()
        corr = count_correlation(
            [float(v) for v in ind["expectations"]],
            ind.get("fractions"),
            float(ind["doc_count"]),
            [float(r["__v"]) for r in rows],
        )
        return frame.sparkSession.createDataFrame([(corr,)], f"`{name}` double")
    if kind == "bucket_count_ks_test":
        # x-pack ml BucketCountKSTestAggregator: KS test of the bucket
        # doc_count CDF against provided fractions (default uniform).
        # Deterministic subset: evaluated at the bucket CDF points (no
        # SamplingMethod resampling); one-sided p = Hodges eq 5.3 exactly
        # as the reference; two_sided p = asymptotic Kolmogorov series
        # instead of commons-math exactP (documented deviation).
        rows = frame.orderBy("key").select(col.alias("__v")).collect()
        counts = [float(r["__v"]) for r in rows]
        fractions = body.get("fractions")
        alts = body.get("alternatives", ["less", "greater", "two_sided"])
        res = ks_test_counts(counts, fractions, alts)
        return frame.sparkSession.createDataFrame(
            [tuple(res[a] for a in alts)],
            ", ".join(f"`{name}.{a}` double" for a in alts),
        )
    raise ValueError(f"unsupported sibling pipeline agg: {kind}")


def count_correlation(
    expectations: list[float],
    fractions: list[float] | None,
    doc_count: float,
    y: list[float],
) -> float:
    """``CountCorrelationFunction.execute`` (x-pack ml): the approximate
    Pearson correlation of indicator expectations x against subset counts y,
    treating each bucket's subset membership as a Bernoulli draw with
    success rate ``weight = Σy / doc_count``."""
    import math

    n = len(expectations)
    if n != len(y):
        raise ValueError(
            f"value lengths do not match; indicator [{n}] and buckets [{len(y)}]"
        )
    fr = fractions if fractions is not None else [1.0 / n] * n
    x_mean = sum(e * f for e, f in zip(expectations, fr))
    x_var = sum((e - x_mean) ** 2 * f for e, f in zip(expectations, fr))
    weight = sum(y) / doc_count
    if weight > 1.0:
        raise ValueError(
            f"doc_count of indicator [{doc_count}] must cover the subset total [{sum(y)}]"
        )
    y_mean = weight
    y_var = (1 - weight) * y_mean**2 + weight * (1 - y_mean) ** 2
    xy_cov = 0.0
    for e, f, ny in zip(expectations, fr, y):
        xy_cov += (
            -(doc_count * f - ny) * (e - x_mean) * y_mean
            + ny * (e - x_mean) * (1 - y_mean)
        )
    xy_cov /= doc_count
    denom = x_var * y_var
    return float("nan") if denom == 0 else xy_cov / math.sqrt(denom)


def ks_test_counts(
    counts: list[float],
    fractions: list[float] | None,
    alternatives: list[str],
) -> dict[str, float]:
    """``BucketCountKSTestAggregator.ksTest`` deterministic form: CDFs of
    counts vs fractions compared at the bucket points; LESS = max(fY−fX),
    GREATER = max(fX−fY), TWO_SIDED = max|fX−fY|; one-sided p from Hodges
    eq 5.3 with the reference's continuity term, two-sided p from the
    asymptotic Kolmogorov series."""
    import math

    n = len(counts)
    tot = sum(counts)
    if n == 0 or tot == 0:
        return {a: float("nan") for a in alternatives}
    fr = fractions if fractions is not None else [1.0 / n] * n
    ftot = sum(fr)
    fx, fy, cx, cy = [], [], 0.0, 0.0
    for c, f in zip(counts, fr):
        cx += c / tot
        cy += f / ftot
        fx.append(cx)
        fy.append(cy)
    z_const = math.sqrt(n * n / (2.0 * n))
    cont = (n + 2 * n) / math.sqrt(n * n * 2.0 * n)
    out: dict[str, float] = {}
    for alt in alternatives:
        if alt == "less":
            stat = max(max(b - a, 0.0) for a, b in zip(fx, fy))
        elif alt == "greater":
            stat = max(max(a - b, 0.0) for a, b in zip(fx, fy))
        elif alt == "two_sided":
            stat = max(abs(a - b) for a, b in zip(fx, fy))
        else:
            raise ValueError(f"unexpected alternative [{alt}]")
        z = z_const * stat
        if alt == "two_sided":
            # the alternating series only represents Q(z) for z > 0; the
            # z→0 limit is p = 1 (no deviation at all)
            p = 1.0 if z < 1e-9 else 2.0 * sum(
                (-1) ** (k - 1) * math.exp(-2.0 * k * k * z * z)
                for k in range(1, 101)
            )
        else:
            p = math.exp(-2.0 * z * z - 2.0 * z * cont / 3.0)
        out[alt] = min(1.0, max(p, 0.0))
    return out


def detect_change_point(values: list[float]) -> tuple[str, int | None, float]:
    """Change-point detector (documented subset of the reference's
    ChangePointDetector test battery): spike/dip = a single extreme outlier
    vs the REST's distribution (the rest's spread, not the whole series' —
    a big spike inflates global sd enough to hide itself); step_change =
    argmax standardized two-segment mean shift (CUSUM-style), with a zero
    pooled variance + differing means treated as a perfect step; stationary
    otherwise. Returns (type, index or None, p_value analog = two-tailed
    normal tail of the winning statistic)."""
    import numpy as np

    v = np.asarray(values, dtype=float)
    n_ = len(v)
    if n_ < 4 or np.std(v) == 0:
        return "stationary", None, 1.0
    med = np.median(v)
    i_ext = int(np.abs(v - med).argmax())
    rest = np.delete(v, i_ext)
    denom = rest.std(ddof=0)
    if denom == 0:
        denom = max(abs(float(rest.mean())) * 1e-9, 1e-12)
    z_ext = (v[i_ext] - rest.mean()) / denom
    if abs(z_ext) > 10:
        return ("spike" if z_ext > 0 else "dip"), i_ext, 0.0
    best_stat, best_i = 0.0, None
    for i in range(2, n_ - 1):
        a, b2 = v[:i], v[i:]
        shift = abs(float(a.mean() - b2.mean()))
        pooled = np.sqrt(a.var(ddof=0) / len(a) + b2.var(ddof=0) / len(b2))
        stat = (float("inf") if shift > 0 else 0.0) if pooled == 0 else shift / pooled
        if stat > best_stat:
            best_stat, best_i = stat, i
    if best_stat > 4.0:
        from math import erfc, sqrt

        return "step_change", best_i, round(erfc(best_stat / sqrt(2.0)), 8)
    return "stationary", None, 1.0


# Aggs whose body takes a value source — the kinds where ES accepts a
# ``script`` instead of (or transforming) ``field``
# (ValuesSourceAggregationBuilder.script; yaml 100_terms_agg.yml uses
# ``terms.script``). Pipeline kinds also carry "script" keys but those are
# bucket-level programs, not value sources.
_VALUE_SCRIPT_KINDS = frozenset({
    "avg", "sum", "min", "max", "value_count", "stats", "extended_stats",
    "cardinality", "percentiles", "percentile_ranks",
    "median_absolute_deviation", "terms", "rare_terms", "significant_terms",
    "histogram", "multi_terms", "missing", "string_stats", "boxplot",
})


def _resolve_value_scripts(df: DataFrame, aggs: dict) -> tuple[DataFrame, dict]:
    """Pre-pass: materialize each value script as a derived column and
    rewrite its agg body to ``field`` form. ``field`` + ``script`` binds
    ``_value`` to the field (the reference's value-script transform);
    Painless sources run in the interpreter, single SQL expressions stay
    JVM-side. Recurses through sub-``aggs`` (they share the input frame)."""
    import copy

    from ..functions import painless as P
    from . import dsl

    counter = [0]

    def walk(specs):
        nonlocal df
        for _name, spec in specs.items():
            for kind, body in list(spec.items()):
                if kind == "aggs" and isinstance(body, dict):
                    walk(body)
                    continue
                if (kind not in _VALUE_SCRIPT_KINDS
                        or not isinstance(body, dict) or "script" not in body):
                    continue
                src, params = dsl.script_source(body.pop("script"))
                if body.get("field"):
                    src = re.sub(r"\b_value\b",
                                 f"doc['{body.pop('field')}'].value", src)
                col = f"__vscript_{counter[0]}"
                counter[0] += 1
                if P.is_painless(src):
                    rt = dsl._infer_painless_ret(df, src, params)
                    df = df.withColumn(
                        col, P.script_column(df, src, params, ret_type=rt))
                else:
                    df = df.withColumn(
                        col, F.expr(dsl.expand_script(src, params)))
                body["field"] = col

    has_script = "script" in repr(aggs)  # cheap guard: zero cost when absent
    if not has_script:
        return df, aggs
    aggs = copy.deepcopy(aggs)
    walk(aggs)
    return df, aggs


def aggregate(df: DataFrame, aggs: dict, ctx=None) -> dict[str, DataFrame]:
    """Run an ES ``aggs`` body → {agg name: bucket/metric frame}. Pipeline
    sub-aggs nested under a bucket agg are applied to that bucket frame in
    declaration order; sibling `*_bucket` pipelines aggregate a previously
    declared agg's frame (the coordinator post-reduce step). ``ctx`` is the
    request's ``dsl.SearchContext``, which the query-bearing aggs ask for
    their docs (``_matching``)."""
    prev = getattr(_TLS, "ctx", None)
    _TLS.ctx = ctx
    try:
        return _aggregate(df, aggs)
    finally:
        _TLS.ctx = prev


def _aggregate(df: DataFrame, aggs: dict) -> dict[str, DataFrame]:
    df, aggs = _resolve_value_scripts(df, aggs)
    out: dict[str, DataFrame] = {}
    for name, spec in aggs.items():
        if next(iter(k for k in spec if k != "aggs")) in _SIBLING_KINDS:
            out[name] = apply_sibling(out, name, spec)
            continue
        sub = spec.get("aggs", {})
        pipes = {n: s for n, s in sub.items() if next(iter(s)) in _PIPELINE_KINDS}
        raw_pipes = {
            n: s for n, s in sub.items() if next(iter(s)) == "cumulative_cardinality"
        }
        plain_sub = {
            n: s for n, s in sub.items() if n not in pipes and n not in raw_pipes
        }
        spec2 = {k: v for k, v in spec.items() if k != "aggs"}
        if plain_sub:
            spec2["aggs"] = plain_sub
        frame = compile_agg(df, name, spec2)
        for pname, pspec in raw_pipes.items():
            frame = apply_cumulative_cardinality(
                df, {**spec2, "aggs": plain_sub}, frame, pname,
                pspec["cumulative_cardinality"],
            )
        for pname, pspec in pipes.items():
            frame = apply_pipeline(frame, pname, pspec)
        out[name] = frame
    return out


def terms_two_phase(
    df: DataFrame,
    field: str,
    shard_col: str,
    size: int = 10,
    shard_size: int | None = None,
) -> DataFrame:
    """The reference's DISTRIBUTED terms reduce, faithfully — including
    ``doc_count_error_upper_bound`` and ``sum_other_doc_count``
    (``AbstractInternalTerms.java:280-298`` reduce; ``TermsAggregator``'s
    shard-local top ``shard_size``): each shard reports only its local
    top-``shard_size`` terms, the coordinator sums per-term counts over
    REPORTING shards, and a bucket's error upper bound is the sum over
    non-reporting shards of the last (smallest) count that shard reported —
    0 for shards that returned their whole term list.

    The single-phase exact terms agg (compile_agg "terms") is what you
    normally want on Spark — one shuffle IS the exact global answer. This
    operator exists for parity with the reference's response contract
    (accuracy-vs-fan-in trade) and as the template for size-capped
    reduces over 10^4-shard indexes: per-shard tops via one window, the
    reduce via one groupBy, error bookkeeping as two tiny joins.

    ``shard_col``: an integer column assigning rows to shards
    (deterministic, e.g. ``pmod(xxhash64(routing), n_shards)``).
    Default ``shard_size`` = ``size * 1.5 + 10`` (the reference default).

    Returns (key, doc_count, doc_count_error_upper_bound) — top ``size``
    by (doc_count desc, key asc) — plus one ``__other__`` row carrying
    ``sum_other_doc_count`` in doc_count (error = 0 on it).
    """
    from pyspark.sql import Window

    ss = int(size * 1.5 + 10) if shard_size is None else int(shard_size)
    per_shard = df.groupBy(F.col(shard_col).alias("__s"), F.col(field).alias("key")).agg(
        F.count("*").alias("c")
    )
    w = Window.partitionBy("__s").orderBy(F.desc("c"), F.asc("key"))
    ranked = per_shard.withColumn("__r", F.row_number().over(w))
    reported = ranked.where(F.col("__r") <= ss)
    # shard error: 0 when the shard's whole term list fit, else the count
    # of the last bucket it reported (InternalTerms shard-level bound)
    shard_stats = ranked.groupBy("__s").agg(
        F.count("*").alias("__nterms"),
        F.min(F.when(F.col("__r") == ss, F.col("c"))).alias("__last_c"),
    )
    shard_err = shard_stats.select(
        "__s",
        F.when(F.col("__nterms") <= ss, F.lit(0))
        .otherwise(F.col("__last_c"))
        .cast("long")
        .alias("__err"),
    )
    total_err = shard_err.agg(F.sum("__err").alias("__tot")).first()["__tot"] or 0
    merged = (
        reported.join(shard_err, "__s")
        .groupBy("key")
        .agg(
            F.sum("c").alias("doc_count"),
            (F.lit(int(total_err)) - F.sum("__err")).alias(
                "doc_count_error_upper_bound"
            ),
        )
    )
    top = (
        merged.orderBy(F.desc("doc_count"), F.asc("key"))
        .limit(int(size))
        .select(
            F.col("key").cast("string").alias("key"),
            F.col("doc_count").cast("long").alias("doc_count"),
            F.col("doc_count_error_upper_bound").cast("long").alias(
                "doc_count_error_upper_bound"
            ),
        )
    )
    total_docs = df.count()
    top_sum = top.agg(F.sum("doc_count")).first()[0] or 0
    other = df.sparkSession.createDataFrame(
        [("__other__", int(total_docs - top_sum), 0)],
        "key string, doc_count long, doc_count_error_upper_bound long",
    )
    return top.unionByName(other)

"""Query DSL → DataFrame plan compiler (the ES-level query layer).

Re-expresses the reference's query AST (49 builders under
``server/src/main/java/org/elasticsearch/index/query/*QueryBuilder.java``)
as a compiler from the JSON DSL to Spark DataFrame plans. Two contexts,
exactly as in the reference:

- **filter context** (``bool.filter`` / ``must_not``,
  ``BoolQueryBuilder.java:47-65``): compiled to pure Column predicates —
  unscored, pushed into the scan by Catalyst;
- **query (scoring) context**: compiled to *score frames*
  ``DataFrame[key, _score]``; leaf ``match`` clauses produce per-doc BM25
  sums (global df/avgdl broadcast — the dfs-phase determinism of
  ``server/.../search/dfs/DfsPhase.java:31-81``), compound clauses combine
  frames (bool = join algebra, dis_max = greatest + tie_breaker,
  function_score = arithmetic over score + fields).

``parse`` covers the reference's query kinds (term-level, full-text,
compound, geo, joining, vector and specialized leaves); ``search(spark,
df, body, ...)`` runs the full query_then_fetch shape: score → top-k with
deterministic tie-break (score DESC, key ASC —
``SearchPhaseController.java:202-205``) → fetch source columns.

Text leaves (match, multi_match, combined_fields, common,
match_bool_prefix, more_like_this, query_string's text terms, the
phrase and intervals leaves) never tokenize on their own: they ask the
``SearchContext`` to analyze a string, score analyzed terms with BM25,
look up their df or expand a multi-term leaf. Over a raw frame the
context answers with an ``[a-z0-9]+`` token stream (a native Spark
expression) and one tokenize+tf+dl subtree per field, built once per
search and shared by every clause; term-level leaves are single Column
expressions (zero shuffles, full pushdown). Over an Engine index it
answers for the indexed ``text`` field with the index's analyzer, its
postings BM25 and its term dictionary, and match_phrase,
match_phrase_prefix and intervals become the index's positional match
sets; those leaves compose like any other leaf frame. They have no
filter-context predicate there; every filter-context consumer goes
through ``matching``, the one semi-join fallback.
"""

from __future__ import annotations

import functools
import math
import re
from collections import Counter
from dataclasses import dataclass, field, replace as _dc_replace

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import bm25

# search.allow_expensive_queries (SearchService.java:165
# ALLOW_EXPENSIVE_QUERIES, dynamic cluster scope): when false, query types
# the reference classes as expensive refuse to run. Gated here exactly
# where the reference gates them: StringFieldType.java:64,81,153,185,206
# (prefix/wildcard/regexp/fuzzy/range-on-text), ScriptQueryBuilder.java:129,
# ScriptScoreQueryBuilder. Cluster-wide dynamic state, toggled by
# Engine.put_cluster_settings.
ALLOW_EXPENSIVE_QUERIES = True


def _check_expensive(kind: str) -> None:
    if not ALLOW_EXPENSIVE_QUERIES:
        raise ValueError(
            f"[{kind}] queries cannot be executed when "
            "'search.allow_expensive_queries' is set to false."
        )


def term_lit_str(v) -> str | None:
    """Canonical string of a term-level literal, matching Spark's
    CAST(col AS STRING) for the column types term queries prune/compare
    on; None = not canonicalizable (non-integral float). Shared by the
    percolator's term extraction (operators/percolate.py) and the
    array-field compile path below so both agree on the same form."""
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, str):
        return v
    if isinstance(v, int):
        return str(v) if abs(v) < 2 ** 63 else None
    if isinstance(v, float):
        # beyond int64, bigint casts overflow to null — not canonicalizable
        return (str(int(v)) if v.is_integer() and abs(v) < 2 ** 63
                else None)
    return None


def _field_dtype(ctx, fld: str):
    """Resolved Spark DataType of a (possibly dotted) field, cached per
    SearchContext — term-level predicates consult types per clause, and
    an analysis round-trip per clause would dominate wide percolator
    chunks."""
    cache = getattr(ctx, "_ftype_cache", None)
    if cache is None:
        cache = {}
        try:
            ctx._ftype_cache = cache
        except Exception:
            pass
    if fld not in cache:
        try:
            cache[fld] = ctx.df.select(F.col(fld)).schema[0].dataType
        except Exception:
            cache[fld] = None
    return cache[fld]


def _array_elem_type(ctx, fld: str) -> str | None:
    """Element type name when ``fld`` is an array column of the search
    frame, else None (term-level queries switch to any-element
    semantics on multi-value fields, like ES array fields)."""
    dt = _field_dtype(ctx, fld)
    return (dt.elementType.simpleString()
            if dt is not None and dt.typeName() == "array" else None)


def _term_lit(v, elem_type: str):
    """Literal for an array-element comparison: non-string literals on a
    string-element array take the canonical term string (so the compile
    path matches the extraction term the pruned percolator surfaces);
    string literals on numeric elements try_cast (unparseable → null →
    no match, never an ANSI runtime error)."""
    if elem_type == "string" and not isinstance(v, str):
        s = term_lit_str(v)
        return F.lit(s if s is not None else str(v))
    if isinstance(v, str) and elem_type != "string":
        return F.lit(v).try_cast(elem_type)
    return F.lit(v).cast(elem_type)


# exact numeric form of a string value for integral term literals: a
# double cast rounds above 2**53 (9007199254740993 would equal
# "9007199254740992"); shared with the percolator's canonical num terms
EXACT_NUM = "decimal(38,18)"


def _scalar_term_eq(ctx, fld: str, c, v):
    """Type-mismatch-safe scalar term equality: numeric literal vs STRING
    column compares numerically via try_cast (ES long-field semantics;
    ANSI mode must not throw on non-numeric values) — exactly, through
    ``EXACT_NUM``, for integral literals — string literal vs numeric
    column try_casts the literal (unparseable → no match), same-type
    compares exactly."""
    base = _field_dtype(ctx, fld)
    dt = base.simpleString() if base is not None else None
    if dt is not None and fld in getattr(ctx, "kw_norm", {}):
        dt = "string"  # normalizer chains emit string expressions
    if dt == "string" and isinstance(v, bool):
        return c.try_cast("boolean") == F.lit(v)
    if dt == "string" and isinstance(v, (int, float)):
        s = term_lit_str(v)
        if s is not None:
            return c.try_cast(EXACT_NUM) == F.lit(s).cast(EXACT_NUM)
        return c.try_cast("double") == F.lit(float(v))
    if dt is not None and dt != "string" and isinstance(v, str):
        return c == F.lit(v).try_cast(dt)
    return c == F.lit(v)


@dataclass
class SearchContext:
    """Per-search shared state: the corpus frame and the one place that
    knows where a text field's terms and statistics come from — the
    analog of one Lucene IndexSearcher + shared TermStates per query.

    Every text node asks it, never tokenizes on its own: ``analyze`` a
    string, the ``bm25`` frame of analyzed terms, their ``doc_freqs`` and
    ``doc_count``, a ``multi_term`` expansion, and (match_phrase,
    match_phrase_prefix, intervals) the ``positional`` leaf. Over a raw
    frame these are the ``analyzer_regex`` token stream and its lazily
    built tf / dl / collection subtrees, shared by every clause. Over an
    Engine index, ``index`` answers them for ``text_col`` with the index's
    analyzer, postings BM25 and term dictionary, and the regex token
    stream raises ``NotImplementedError`` — so a text leaf there has no
    filter-context predicate and ``matching`` takes the semi-join."""

    df: DataFrame
    key: str
    text_col: str = "text"
    analyzer_regex: str = "[a-z0-9]+"
    # shingle > 1 = a search_as_you_type shingle subfield view over
    # text_col (SearchAsYouTypeFieldMapper.java's _2gram/_3gram): tokens
    # become space-joined n-grams of the base token stream
    shingle: int = 1
    # keyword normalizers (KeywordFieldMapper `normalizer` param +
    # AnalysisRegistry normalizer chains): field → filter list. Term-level
    # queries on a mapped field normalize BOTH sides at query time — the
    # stored column via the Column chain, literals/patterns via the mirrored
    # Python chain (functions/analysis.normalize_col / normalize_str).
    kw_norm: dict = field(default_factory=dict)
    # set by Engine over an index: the index's text field, answering the
    # methods below for the ``text_col`` view (api.py ``_IndexText``)
    index: object | None = field(default=None, repr=False)
    _tf: DataFrame | None = field(default=None, repr=False)
    _dl: DataFrame | None = field(default=None, repr=False)
    _coll: DataFrame | None = field(default=None, repr=False)

    def kw_pair(self, fld: str, col, s: str):
        """(stored column, query literal) with the field's keyword
        normalizer applied to both sides — identity when unmapped."""
        filters = self.kw_norm.get(fld)
        if not filters or not isinstance(s, str):
            return col, s
        from ..functions.analysis import normalize_col, normalize_str

        return normalize_col(col, filters), normalize_str(s, filters)

    def for_field(self, fld: str) -> "SearchContext":
        """A view of this context over ``fld`` instead of the default text
        column (a node scoped to its own field); ``title._2gram`` names
        the shingle subfield of ``title``. Only the index's own field keeps
        the index, which has no shingle subfields."""
        m = re.fullmatch(r"(.*)\._(\d+)gram", fld)
        base, sh = (m.group(1), int(m.group(2))) if m else (fld, 1)
        if (base, sh) == (self.text_col, self.shingle):
            return self
        if self.index is not None and base == self.text_col:
            raise ValueError(f"the index of field {base!r} has no shingle subfield {fld!r}")
        return _dc_replace(self, text_col=base, shingle=sh, index=None,
                           _tf=None, _dl=None, _coll=None)

    def blend(self, flds: list, kind: str) -> list["SearchContext"]:
        """The views of ``flds`` that ``kind`` scores as one field
        (combined_fields, cross_fields): they must share one analyzer, so
        the index's field blends with no other."""
        views = [self.for_field(f) for f in flds]
        for f, v in zip(flds, views):
            if len(views) > 1 and v.index is not None:
                raise ValueError(
                    f"{kind} cannot blend field {f!r}, analyzed by the index, with "
                    f"{[g for g in flds if g != f]}: its fields must share one analyzer")
        return views

    def combined(self, flds: list) -> "SearchContext":
        """combined_fields' one virtual field over ``flds``: their token
        streams concatenated, so term freqs and doc lengths merge before
        scoring. The index's field is a combination of itself alone."""
        views = self.blend(flds, "combined_fields")
        if views[0].index is not None:
            return views[0]
        # coalesce each field's token array: concat is NULL-poisoning, and a
        # missing field must read as EMPTY (the reference treats absent
        # fields as contributing no tokens, not as nulling the document)
        toks = F.concat(*[F.coalesce(v.toks_col(), F.expr("array()")) for v in views])
        return SearchContext(self.df.withColumn("__combined_text", F.array_join(toks, " ")),
                             self.key, text_col="__combined_text",
                             analyzer_regex=self.analyzer_regex)

    def toks_sql(self) -> str:
        """The raw frame's token stream as SQL text (for expressions that
        must embed it inside higher-order lambdas textually)."""
        if self.index is not None:
            raise NotImplementedError(f"the index analyzes {self.text_col!r}: no regex token stream")
        b = f"regexp_extract_all(lower({self.text_col}), '{self.analyzer_regex}', 0)"
        if self.shingle <= 1:
            return b
        n = self.shingle
        return (
            f"CASE WHEN size({b}) < {n} THEN array() "
            f"ELSE transform(sequence(1, size({b}) - {n - 1}), "
            f"i -> concat_ws(' ', slice({b}, i, {n}))) END"
        )

    def toks_col(self) -> Column:
        return F.expr(self.toks_sql())

    def tf(self) -> DataFrame:
        if self._tf is None:
            self._tf = (
                self.df.select(F.col(self.key).alias("__key"), F.explode(self.toks_col()).alias("term"))
                .groupBy("__key", "term")
                .agg(F.count("*").alias("tf"))
            )
        return self._tf

    def dl(self) -> DataFrame:
        if self._dl is None:
            self._dl = self.df.select(
                F.col(self.key).alias("__key"), F.size(self.toks_col()).cast("long").alias("dl")
            ).withColumn("qdl", F.expr(bm25.sql_quantized_dl_expr("dl")).cast("double"))
        return self._dl

    def coll(self) -> DataFrame:
        if self._coll is None:
            self._coll = self.dl().agg(
                F.count("*").cast("double").alias("n_docs"), F.avg("dl").alias("avgdl")
            )
        return self._coll

    def analyze(self, text: str) -> list[str]:
        """``text``'s tokens, the way the field's docs were tokenized."""
        if self.index is not None:
            return self.index.analyze(text)
        toks = re.findall(self.analyzer_regex, text.lower())
        if self.shingle > 1:
            n = self.shingle
            return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
        return toks

    def bm25(self, terms: list[str], need: int = 1, boost: float = 1.0) -> DataFrame:
        """``__key, _score, _matched``: per doc holding at least ``need`` of
        the analyzed ``terms``, its BM25 sum × ``boost`` and how many terms
        it holds."""
        if self.index is not None:
            return self.index.bm25(terms, need, boost)
        return blended_bm25([self], terms, need, boost)

    def doc_freqs(self, terms: list[str]) -> dict[str, int]:
        """term → df of the ``terms`` the field holds (zero-df terms are
        absent)."""
        if self.index is not None:
            return self.index.doc_freqs(terms)
        if not terms:
            return {}
        q = self.tf().where(F.col("term").isin(terms)).groupBy("term").count()
        return {r["term"]: int(r["count"]) for r in q.collect()}

    def doc_count(self) -> int:
        """The N of BM25's idf."""
        if self.index is not None:
            return self.index.doc_count()
        return int(self.coll().first()["n_docs"])

    def multi_term_pred(self, kind: str, value: str, fuzziness: int = 2) -> Column:
        """Whether a raw doc holds a token that ``kind`` matches: ``prefix``
        (starts with ``value``) or ``fuzzy`` (within ``fuzziness`` edits)."""
        test = {
            "prefix": lambda t: t.startswith(value),
            "fuzzy": lambda t: F.levenshtein(t, F.lit(value)) <= fuzziness,
        }[kind]
        return F.exists(self.toks_col(), test)

    def multi_term(self, kind: str, value: str, boost: float = 1.0,
                   fuzziness: int = 2) -> DataFrame:
        """``__key, _score``: the docs holding a term ``kind`` expands
        ``value`` to, at constant ``boost``. The index expands over its
        term dictionary (every prefix term; the 50 closest fuzzy terms,
        like the reference's rewrites); a raw frame tests every token."""
        if self.index is not None:
            return self.index.multi_term(kind, value, boost, fuzziness)
        return self.df.where(self.multi_term_pred(kind, value, fuzziness)).select(
            F.col(self.key).alias("__key"), F.lit(float(boost)).alias("_score"))

    def positional(self, q: dict, boost: float = 1.0) -> DataFrame | None:
        """The index's score frame (× ``boost``) for the positional leaf
        ``q`` (match_phrase, match_phrase_prefix, intervals), or None over
        a raw frame, where those nodes test the token stream instead."""
        return None if self.index is None else self.index.positional(q, boost)

    def no_hits(self) -> DataFrame:
        """An empty score frame."""
        return self.df.limit(0).select(F.col(self.key).alias("__key"), F.lit(0.0).alias("_score"))


def blended_bm25(views: list[SearchContext], terms: list[str], need: int = 1,
                 boost: float = 1.0) -> DataFrame:
    """``SearchContext.bm25`` over raw field ``views`` of one frame scored
    as one field (cross_fields' BlendedTermQuery): a term's df is its max
    across the views, each view scores with its own length norm, and the
    term takes its best view's score; a doc's score is the sum over its
    terms × ``boost``. Over one view, plain BM25."""
    hits = [v.tf().where(F.col("term").isin(terms)) for v in views]
    dfs = functools.reduce(DataFrame.unionByName, [
        h.groupBy("term").agg(F.count("*").cast("double").alias("df")) for h in hits])
    if len(views) > 1:
        dfs = dfs.groupBy("term").agg(F.max("df").alias("df"))
    scored = functools.reduce(DataFrame.unionByName, [
        h.join(F.broadcast(dfs), "term")
        .join(v.dl().select("__key", "qdl"), "__key")
        .crossJoin(F.broadcast(v.coll()))
        for h, v in zip(hits, views)
    ]).withColumn("s", F.expr(bm25.sql_score_expr("tf", "df", "qdl", "n_docs", "avgdl")))
    if len(views) > 1:
        scored = scored.groupBy("__key", "term").agg(F.max("s").alias("s"))
    return (
        scored.groupBy("__key")
        .agg((F.sum("s") * boost).alias("_score"), F.count("*").cast("int").alias("_matched"))
        .where(F.col("_matched") >= need)
    )


class Node:
    """Compiled query node. ``predicate`` is the filter-context form (None
    if the node is scoring-only); ``frame`` is the query-context form."""

    def predicate(self, ctx: SearchContext) -> Column:
        raise NotImplementedError(f"{type(self).__name__} cannot run in filter context")

    def filter_keys(self, ctx: SearchContext) -> DataFrame:
        """DataFrame[__key] of docs passing this node as a filter — the
        semi-join form of the filter context (used by bool.filter/must_not
        for nodes whose predicate needs its own plan, e.g. nested)."""
        return matching(self, ctx).select(F.col(ctx.key).alias("__key"))

    def frame(self, ctx: SearchContext) -> DataFrame:
        """DataFrame[__key, _score]; default = constant_score(predicate)."""
        return (
            ctx.df.where(self.predicate(ctx))
            .select(F.col(ctx.key).alias("__key"))
            .withColumn("_score", F.lit(self.boost if hasattr(self, "boost") else 1.0))
        )


def matching(node: Node, ctx: SearchContext, rows: DataFrame | None = None) -> DataFrame:
    """The ``rows`` (default ``ctx.df``; any frame with ``ctx.key`` and the
    columns ``node`` reads) that ``node`` matches: its filter-context
    predicate, or a semi-join on its frame's keys when it has none
    (scoring-only nodes, and the text leaves an index answers). Never a
    literal list of matched keys, whose size would be unbounded."""
    rows = ctx.df if rows is None else rows
    try:
        return rows.where(node.predicate(ctx))
    except NotImplementedError:
        keys = node.frame(ctx).select(F.col("__key").alias(ctx.key))
        return rows.join(keys, ctx.key, "left_semi")


@dataclass
class MatchAll(Node):
    boost: float = 1.0

    def predicate(self, ctx):  # MatchAllQueryBuilder.java
        return F.lit(True)


@dataclass
class MatchNone(Node):
    def predicate(self, ctx):  # MatchNoneQueryBuilder.java
        return F.lit(False)


@dataclass
class Leaf(Node):
    """Filterable leaf over a typed column."""

    fld: str
    boost: float = 1.0


@dataclass
class TermQ(Leaf):
    value: object = None
    case_insensitive: bool = False  # the 7.10+ flag on term-level queries

    def predicate(self, ctx):  # TermQueryBuilder.java
        # array-typed fields: a term matches if ANY element equals it
        # (ES multi-value field semantics) — and the pruned percolate
        # path's raw-term extraction agrees with this shape
        et = _array_elem_type(ctx, self.fld)
        if et is not None:
            if self.case_insensitive and isinstance(self.value, str):
                v = self.value.lower()
                return F.exists(F.col(self.fld),
                                lambda x: F.lower(x) == F.lit(v))
            return F.array_contains(F.col(self.fld),
                                    _term_lit(self.value, et))
        c, v = ctx.kw_pair(self.fld, F.col(self.fld), self.value)
        if self.case_insensitive and isinstance(v, str):
            return F.lower(c) == F.lit(v.lower())
        return _scalar_term_eq(ctx, self.fld, c, v)


@dataclass
class TermsQ(Leaf):
    values: list = field(default_factory=list)

    def predicate(self, ctx):  # TermsQueryBuilder.java
        if self.fld in ctx.kw_norm:
            from ..functions.analysis import normalize_col, normalize_str

            filters = ctx.kw_norm[self.fld]
            return normalize_col(F.col(self.fld), filters).isin(
                [normalize_str(v, filters) if isinstance(v, str) else v
                 for v in self.values]
            )
        et = _array_elem_type(ctx, self.fld)
        if et is not None:  # multi-value field: any-element-in semantics
            return F.arrays_overlap(
                F.col(self.fld),
                F.array(*[_term_lit(v, et) for v in self.values]))
        base = _field_dtype(ctx, self.fld)
        dt = base.simpleString() if base is not None else None
        homogeneous = (
            dt is None
            or (dt == "string" and all(isinstance(v, str)
                                       for v in self.values))
            or (dt != "string" and not any(isinstance(v, str)
                                           for v in self.values)))
        if homogeneous:
            return F.col(self.fld).isin(self.values)
        # mixed literal/column types: per-value try_cast equality (ANSI
        # mode must not throw on unparseable values)
        pred = F.lit(False)
        for v in self.values:
            pred = pred | _scalar_term_eq(ctx, self.fld, F.col(self.fld), v)
        return pred


@dataclass
class TermsSetQ(Leaf):
    values: list = field(default_factory=list)
    min_match: int = 1

    def predicate(self, ctx):  # TermsSetQueryBuilder.java — field is array
        et = _array_elem_type(ctx, self.fld)
        arr = F.array(*[_term_lit(v, et) if et else F.lit(v)
                        for v in self.values])
        return F.size(F.array_intersect(F.col(self.fld), arr)) >= self.min_match


@dataclass
class RangeQ(Leaf):
    gte: object = None
    gt: object = None
    lte: object = None
    lt: object = None

    def predicate(self, ctx):  # RangeQueryBuilder.java
        c, p = F.col(self.fld), F.lit(True)
        if self.gte is not None:
            p = p & (c >= self.gte)
        if self.gt is not None:
            p = p & (c > self.gt)
        if self.lte is not None:
            p = p & (c <= self.lte)
        if self.lt is not None:
            p = p & (c < self.lt)
        return p


@dataclass
class ExistsQ(Leaf):
    def predicate(self, ctx):  # ExistsQueryBuilder.java
        return F.col(self.fld).isNotNull()


@dataclass
class IdsQ(Node):
    values: list = field(default_factory=list)
    boost: float = 1.0

    def predicate(self, ctx):  # IdsQueryBuilder.java
        return F.col(ctx.key).isin(self.values)


@dataclass
class PrefixQ(Leaf):
    value: str = ""
    case_insensitive: bool = False

    def predicate(self, ctx):  # PrefixQueryBuilder.java
        _check_expensive("prefix")
        c, v = ctx.kw_pair(self.fld, F.col(self.fld), self.value)
        if self.case_insensitive:
            return F.lower(c).startswith(v.lower())
        return c.startswith(v)


@dataclass
class WildcardQ(Leaf):
    value: str = ""
    case_insensitive: bool = False

    def predicate(self, ctx):  # WildcardQueryBuilder.java: * → %, ? → _
        _check_expensive("wildcard")
        c, pat = ctx.kw_pair(
            self.fld, F.col(self.fld), self.value.replace("*", "%").replace("?", "_")
        )
        if self.case_insensitive:
            return F.lower(c).like(pat.lower())
        return c.like(pat)


@dataclass
class RegexpQ(Leaf):
    value: str = ""
    case_insensitive: bool = False

    def predicate(self, ctx):  # RegexpQueryBuilder.java (anchored, like Lucene)
        _check_expensive("regexp")
        rx = f"^(?:{self.value})$"
        if self.case_insensitive:
            rx = "(?i)" + rx
        return F.col(self.fld).rlike(rx)


@dataclass
class FuzzyTokenQ(Node):
    """query_string fuzzy over an ANALYZED text field: any token of the
    stream within edit distance (QueryStringQueryParser expands fuzzy terms
    against the field's tokens, not the raw value)."""

    fld: str
    value: str = ""
    fuzziness: int = 2
    boost: float = 1.0

    def predicate(self, ctx):
        return ctx.for_field(self.fld).multi_term_pred("fuzzy", self.value.lower(), self.fuzziness)

    def frame(self, ctx):
        return ctx.for_field(self.fld).multi_term(
            "fuzzy", self.value.lower(), self.boost, fuzziness=self.fuzziness)


@dataclass
class FuzzyQ(Leaf):
    value: str = ""
    fuzziness: int = 2
    prefix_length: int = 0
    transpositions: bool = True  # accepted for parity; levenshtein ≥ OSA

    def predicate(self, ctx):  # FuzzyQueryBuilder.java
        _check_expensive("fuzzy")
        pred = F.levenshtein(F.col(self.fld), F.lit(self.value)) <= self.fuzziness
        if self.prefix_length > 0:
            # FuzzyQuery prefixLength: candidates must share the initial
            # prefix verbatim — the cheap guard the reference uses to prune
            # the automaton expansion
            pred = pred & (
                F.substring(F.col(self.fld), 1, self.prefix_length)
                == self.value[: self.prefix_length]
            )
        return pred


def resolve_msm(msm, n: int) -> int:
    """minimum_should_match spec → required clause count out of ``n``
    (``Queries.calculateMinShouldMatch``): int (negative = n-|v|),
    "75%" (truncating), "-25%" (n minus trunc), conditional "k<spec"
    chains (applies only when n > k; multiple conditions space-separated,
    the highest matching k wins)."""
    if msm is None:
        return 1
    if isinstance(msm, int):
        return msm if msm >= 0 else max(0, n + msm)
    s = str(msm).strip()
    if "<" in s:
        best = n  # n <= every k: all clauses required (reference contract)
        best_k = -1
        for part in s.split():
            k_s, _, spec = part.partition("<")
            k = int(k_s)
            if n > k and k > best_k:
                best_k, best = k, resolve_msm(spec, n)
        return best
    if s.endswith("%"):
        pct = int(s[:-1])
        if pct < 0:
            return n - (n * -pct) // 100
        return (n * pct) // 100
    v = int(s)
    return v if v >= 0 else max(0, n + v)


def resolve_fuzziness(fuzziness, term: str) -> int:
    """A ``fuzziness`` value → max edits for ``term`` (``Fuzziness.java``):
    ``AUTO`` allows 0/1/2 edits for terms of length 1-2 / 3-5 / >5
    (``AUTO:low,high`` moves those bounds, edits = 0 below ``low``, 1 below
    ``high``, else 2); ints and numeric strings pass through."""
    s = str(fuzziness).strip()
    if s.upper().startswith("AUTO"):
        low, high = 3, 6
        if ":" in s:
            low, high = (int(x) for x in s.split(":", 1)[1].split(","))
        n = len(term)
        return 0 if n < low else 1 if n < high else 2
    return int(float(s))


@dataclass
class MatchQ(Node):
    """match (MatchQueryBuilder.java): analyze → per-term BM25, OR/AND."""

    fld: str
    query: str = ""
    operator: str = "or"
    minimum_should_match: int | str = 1
    boost: float = 1.0

    def _need(self, n: int) -> int:
        return n if self.operator == "and" else resolve_msm(self.minimum_should_match, n)

    def frame(self, ctx):
        ctx = ctx.for_field(self.fld)  # match scopes to ITS field, not the default
        # no terms: zero_terms_query none (MatchQueryParser.java:133)
        terms = list(dict.fromkeys(ctx.analyze(self.query)))
        return ctx.bm25(terms, self._need(len(terms)), self.boost).select("__key", "_score")

    def predicate(self, ctx):
        # match in filter context: containment of required terms
        ctx = ctx.for_field(self.fld)
        toks = ctx.toks_col()
        terms = list(dict.fromkeys(ctx.analyze(self.query)))
        if not terms:
            # zero_terms_query: none — nothing matches (frame() agrees)
            return F.lit(False)
        per = [F.array_contains(toks, t).cast("int") for t in terms]
        return sum(per[1:], per[0]) >= self._need(len(terms))


@dataclass
class CommonTermsQ(Node):
    """common terms query (ref server/src/main/java/org/elasticsearch/index/
    query/CommonTermsQueryBuilder.java — deprecated in 8.x but in-tree):
    analyzed terms are split by document frequency at ``cutoff_frequency``
    (absolute df if >= 1, else a fraction of doc_count). Low-frequency terms
    SELECT (low_freq_operator / minimum_should_match); high-frequency terms
    only add score to docs the low-freq clause already selected — unless NO
    term is low-frequency, in which case the high-freq clause selects.

    The split reads the context's df of the analyzed terms; terms the field
    does not hold take no part (nor count toward an ``and`` operator)."""

    fld: str
    query: str = ""
    cutoff_frequency: float = 0.01
    low_freq_operator: str = "or"
    high_freq_operator: str = "or"
    low_msm: int = 1
    high_msm: int = 1
    boost: float = 1.0

    def frame(self, ctx):
        ctx = ctx.for_field(self.fld)
        dfs = ctx.doc_freqs(list(dict.fromkeys(ctx.analyze(self.query))))
        if not dfs:
            return ctx.no_hits()
        cutoff = self.cutoff_frequency
        if cutoff < 1.0:
            cutoff *= ctx.doc_count()
        low = [t for t in dfs if dfs[t] < cutoff]
        high = [t for t in dfs if dfs[t] >= cutoff]
        if not low:
            need = len(high) if self.high_freq_operator == "and" else self.high_msm
            return ctx.bm25(high, need, self.boost).select("__key", "_score")
        need = len(low) if self.low_freq_operator == "and" else self.low_msm
        out = ctx.bm25(low, need, self.boost).select("__key", "_score")
        if not high:
            return out
        extra = ctx.bm25(high, 1, self.boost).select("__key", F.col("_score").alias("_hs"))
        return out.join(extra, "__key", "left").select(
            "__key", (F.col("_score") + F.coalesce("_hs", F.lit(0.0))).alias("_score"))


@dataclass
class MatchPhraseQ(Node):
    """match_phrase (MatchPhraseQueryBuilder.java): adjacent positions via
    token-stream containment; constant score 1·boost (v1: no phrase freq).

    slop > 0: ordered greedy position chain over the token stream — the
    terms must appear in order with total span ≤ (k−1) + slop (the
    no-transposition subset of Lucene's sloppy phrase; index-backed search
    routes through operators/phrase.py which handles the full edit-slop)."""

    fld: str
    query: str = ""
    boost: float = 1.0
    slop: int = 0

    def frame(self, ctx):
        fr = ctx.for_field(self.fld).positional(
            {"match_phrase": {self.fld: {"query": self.query, "slop": self.slop}}}, self.boost)
        return super().frame(ctx) if fr is None else fr

    def predicate(self, ctx):
        ctx = ctx.for_field(self.fld)
        T = ctx.toks_sql()
        terms = ctx.analyze(self.query)
        if not terms:
            return F.lit(False)
        if self.slop <= 0:
            needle = " " + " ".join(terms) + " "
            stream = F.concat(F.lit(" "), F.array_join(ctx.toks_col(), " "), F.lit(" "))
            return stream.contains(needle)

        def pos(t: str) -> str:
            tt = t.replace("'", "''")
            return (f"filter(transform({T}, (x, i) -> IF(x = '{tt}', i, -1)),"
                    f" p -> p >= 0)")

        if len(terms) == 1:
            return F.expr(f"size({pos(terms[0])}) > 0")
        # greedy chain: from each start s of t1, take the minimal strictly-
        # increasing position of each following term; nulls (no such
        # position) propagate to a false final comparison
        chain = "s"
        for t in terms[1:]:
            chain = f"array_min(filter({pos(t)}, x -> x > {chain}))"
        span_cap = len(terms) - 1 + self.slop
        return F.expr(
            f"coalesce(exists({pos(terms[0])}, s -> {chain} - s <= {span_cap}),"
            f" false)")


@dataclass
class MatchPhrasePrefixQ(Node):
    """match_phrase_prefix (MatchPhrasePrefixQueryBuilder.java): the fixed
    terms must be position-adjacent and the LAST analyzed token matches as
    a PREFIX of the following token (the autocomplete-on-phrase query).
    Positional semantics over the token stream (not bool_prefix)."""

    fld: str
    query: str = ""
    boost: float = 1.0

    def frame(self, ctx):
        fr = ctx.for_field(self.fld).positional(
            {"match_phrase_prefix": {self.fld: {"query": self.query}}}, self.boost)
        return super().frame(ctx) if fr is None else fr

    def predicate(self, ctx):
        ctx = ctx.for_field(self.fld)
        stream = F.concat(F.lit(" "), F.array_join(ctx.toks_col(), " "), F.lit(" "))
        terms = ctx.analyze(self.query)
        if not terms:
            return F.lit(False)
        *fixed, prefix = terms
        pat = " " + "".join(re.escape(t) + " " for t in fixed) + re.escape(prefix) + "[^ ]*"
        return stream.rlike(pat)


@dataclass
class IntervalsQ(Node):
    """intervals (IntervalQueryBuilder.java): positional rules over the
    index's text postings (operators/intervals.py). Only an Engine index
    answers it — a raw frame has no positions to evaluate."""

    fld: str
    source: dict = field(default_factory=dict)

    def frame(self, ctx):
        fr = ctx.for_field(self.fld).positional({"intervals": {self.fld: self.source}})
        if fr is None:
            raise ValueError(f"intervals needs the positional index of an Engine index "
                             f"(field {self.fld!r})")
        return fr


@dataclass
class MultiMatchQ(Node):
    """multi_match (MultiMatchQueryBuilder.java): best_fields = dis_max of
    per-field matches, most_fields = sum, cross_fields = term-centric
    blended scoring (BlendedTermQuery: per term the document frequency is
    blended to the MAX across fields, each field scores with its own
    length norm against the blended idf, and the term takes its best
    field's score — then terms sum)."""

    flds: list = field(default_factory=list)
    query: str = ""
    mm_type: str = "best_fields"
    tie_breaker: float = 0.0
    operator: str = "or"
    boost: float = 1.0

    def _cross_fields_frame(self, ctx):
        # over more than one field: ``blend`` admits no index field
        views = ctx.blend(self.flds, "cross_fields")
        terms = list(dict.fromkeys(views[0].analyze(self.query)))
        need = len(terms) if self.operator == "and" else 1
        return blended_bm25(views, terms, need, self.boost).select("__key", "_score")

    def frame(self, ctx):
        if self.mm_type == "cross_fields" and len(self.flds) > 1:
            return self._cross_fields_frame(ctx)
        # phrase / phrase_prefix / bool_prefix delegate to the per-field
        # node family (MultiMatchQueryBuilder.java type switch); phrase
        # kinds combine best-field (dis_max), bool_prefix combines by sum
        # (the search_as_you_type query shape over field + its shingle
        # subfields, `title._2gram` / `title._3gram`). cross_fields over
        # one field is that field's match.
        node_cls = {
            "phrase": MatchPhraseQ,
            "phrase_prefix": MatchPhrasePrefixQ,
            "bool_prefix": MatchBoolPrefixQ,
        }.get(self.mm_type)
        frames = [
            node_cls(f_, self.query, boost=self.boost).frame(ctx) if node_cls
            else MatchQ(f_, self.query, operator=self.operator, boost=self.boost).frame(ctx)
            for f_ in self.flds
        ]
        if self.mm_type in ("most_fields", "bool_prefix"):
            return _sum_frames(frames, min_should=1).select(
                "__key", F.col("_s_should").alias("_score")
            )
        return _dismax_frames(frames, self.tie_breaker)


_EARTH_RADIUS_M = 6371008.8


def _haversine_m(lat_col: Column, lon_col: Column, lat: float, lon: float) -> Column:
    lat1, lon1 = math.radians(lat), math.radians(lon)
    lat2 = F.radians(lat_col)
    lon2 = F.radians(lon_col)
    a = (
        F.pow(F.sin((lat2 - lat1) / 2), 2)
        + math.cos(lat1) * F.cos(lat2) * F.pow(F.sin((lon2 - lon1) / 2), 2)
    )
    return 2 * _EARTH_RADIUS_M * F.asin(F.sqrt(a))


def _parse_distance_m(s: str | float) -> float:
    if isinstance(s, (int, float)):
        return float(s)
    units = {"mm": 0.001, "cm": 0.01, "m": 1.0, "km": 1000.0, "mi": 1609.344, "ft": 0.3048}
    for u in sorted(units, key=len, reverse=True):
        if s.endswith(u):
            return float(s[: -len(u)]) * units[u]
    return float(s)


@dataclass
class GeoDistanceQ(Node):
    """geo_distance (GeoDistanceQueryBuilder.java): docs within `distance`
    of the origin — haversine over a struct<lat,lon> geo_point column."""

    fld: str
    lat: float = 0.0
    lon: float = 0.0
    distance_m: float = 0.0

    def predicate(self, ctx):
        return (
            _haversine_m(F.col(f"{self.fld}.lat"), F.col(f"{self.fld}.lon"), self.lat, self.lon)
            <= self.distance_m
        )


@dataclass
class GeoBoundingBoxQ(Node):
    """geo_bounding_box (GeoBoundingBoxQueryBuilder.java)."""

    fld: str
    top: float = 90.0
    left: float = -180.0
    bottom: float = -90.0
    right: float = 180.0

    def predicate(self, ctx):
        lat = F.col(f"{self.fld}.lat")
        lon = F.col(f"{self.fld}.lon")
        p = (lat <= self.top) & (lat >= self.bottom)
        if self.left <= self.right:
            return p & (lon >= self.left) & (lon <= self.right)
        return p & ((lon >= self.left) | (lon <= self.right))  # dateline wrap


@dataclass
class GeoPolygonQ(Node):
    """geo_polygon (GeoPolygonQueryBuilder.java): point-in-polygon by ray
    casting — the polygon is a query-time literal, so the crossing test
    unrolls to a pure Column expression (one term per edge, JVM codegen)."""

    fld: str
    points: list = field(default_factory=list)  # [(lat, lon), ...]

    def predicate(self, ctx):
        y = F.col(f"{self.fld}.lat")
        x = F.col(f"{self.fld}.lon")
        n = len(self.points)
        crossings = F.lit(0)
        for i in range(n):
            yi, xi = float(self.points[i][0]), float(self.points[i][1])
            yj, xj = float(self.points[(i + 1) % n][0]), float(self.points[(i + 1) % n][1])
            if yi == yj:
                continue  # horizontal edge never crosses a horizontal ray
            cond = ((F.lit(yi) > y) != (F.lit(yj) > y)) & (
                x < (xj - xi) * (y - yi) / (yj - yi) + xi
            )
            crossings = crossings + F.when(cond, 1).otherwise(0)
        return F.pmod(crossings, F.lit(2)) == 1


@dataclass
class GeoShapeQ(Node):
    """geo_shape (GeoShapeQueryBuilder.java). Storage dispatch at predicate
    time: a string field = STORED GeoJSON shapes (geo_shape field type —
    full relation set via plans/fields.shape_relate_col, bbox-prefiltered);
    a struct field = geo_point, where the query geometry reduces to the
    point predicates (envelope → bbox, polygon → ray cast, circle →
    distance)."""

    fld: str
    spec: dict = field(default_factory=dict)

    def _point_node(self):
        spec2 = self.spec
        if spec2.get("relation", "intersects") not in ("intersects", "within"):
            raise ValueError("geo_shape over points supports intersects/within")
        shp = spec2["shape"]
        stype = shp["type"].lower()
        if stype == "envelope":
            (l1, t1), (r1, b1) = shp["coordinates"]
            return GeoBoundingBoxQ(self.fld, top=t1, left=l1, bottom=b1, right=r1)
        if stype == "polygon":
            ring = shp["coordinates"][0]
            return GeoPolygonQ(self.fld, points=[(lat, lon) for lon, lat in ring])
        if stype == "circle":
            lon, lat = shp["coordinates"]
            return GeoDistanceQ(
                self.fld, lat=float(lat), lon=float(lon),
                distance_m=_parse_distance_m(shp["radius"]),
            )
        raise ValueError(f"unsupported geo_shape geometry: {stype}")

    def predicate(self, ctx):
        dt = dict(ctx.df.dtypes).get(self.fld, "")
        if dt == "string":
            from .fields import shape_relate_col

            return shape_relate_col(
                ctx.df, self.fld, self.spec["shape"],
                self.spec.get("relation", "intersects"))
        return self._point_node().predicate(ctx)


@dataclass
class SparseVectorQ(Node):
    """sparse_vector query (x-pack ``SparseVectorQueryBuilder.java`` / the
    ELSER weighted-tokens query): score = Σ_t query_weight(t) · stored_weight
    (t, doc). Over a raw frame's text field the stored weight is the
    field's term frequency (the rank_features analog the tables here
    support); over a map<string,float> column it reads the stored weights
    directly. An index's text field stores no per-term weights (the
    reference accepts sparse_vector fields only), so it is an error there.
    Per-doc work is a handful of JVM higher-order-function lambdas over the
    token array — whole-stage-codegen, no shuffle until the final top-k."""

    fld: str
    query_vector: dict = field(default_factory=dict)
    boost: float = 1.0

    def frame(self, ctx):
        from pyspark.sql.types import MapType

        is_map = isinstance(ctx.df.schema[self.fld].dataType, MapType) \
            if self.fld in ctx.df.columns else False
        s = None
        if is_map:
            m = F.col(self.fld)
            for t, w in self.query_vector.items():
                c = F.coalesce(m.getItem(t), F.lit(0.0)) * F.lit(float(w))
                s = c if s is None else s + c
        else:
            view = ctx.for_field(self.fld)
            if view.index is not None:
                raise ValueError(f"sparse_vector needs stored term weights: field {self.fld!r} "
                                 "is analyzed by the index (use a map<string,float> field)")
            toks = view.toks_col()

            def _eq(term):
                # single-arg lambda (a two-arg lambda would be bound to
                # pyspark's (element, index) filter form)
                return lambda x: x == term

            for t, w in self.query_vector.items():
                c = F.size(F.filter(toks, _eq(t))).cast("double") * F.lit(float(w))
                s = c if s is None else s + c
        if s is None:
            return ctx.no_hits()
        return (
            ctx.df.select(
                F.col(ctx.key).alias("__key"), (s * self.boost).alias("_score")
            )
            .where(F.col("_score") > 0)
        )

    def predicate(self, ctx):
        raise NotImplementedError


@dataclass
class RankFeatureQ(Node):
    """rank_feature (RankFeatureQueryBuilder.java): score a numeric feature
    column via saturation (default), log, or sigmoid — additive relevance
    signals."""

    fld: str
    saturation_pivot: float | None = None
    log_scaling: float | None = None
    sigmoid_pivot: float | None = None
    sigmoid_exp: float | None = None
    boost: float = 1.0

    def frame(self, ctx):
        x = F.col(self.fld).cast("double")
        if self.log_scaling is not None:
            s = F.log(F.lit(self.log_scaling) + x)
        elif self.sigmoid_pivot is not None:
            e = self.sigmoid_exp or 1.0
            s = F.pow(x, e) / (F.pow(x, e) + F.lit(float(self.sigmoid_pivot) ** e))
        else:
            pivot = self.saturation_pivot or 1.0
            s = x / (x + F.lit(float(pivot)))
        return (
            ctx.df.where(x > 0)
            .select(F.col(ctx.key).alias("__key"), (s * self.boost).alias("_score"))
        )


@dataclass
class MatchBoolPrefixQ(Node):
    """match_bool_prefix (MatchBoolPrefixQueryBuilder.java): all terms as
    bool-should term matches, last term as prefix (constant-score 1)."""

    fld: str
    query: str = ""
    boost: float = 1.0

    def frame(self, ctx):
        ctx = ctx.for_field(self.fld)
        terms = ctx.analyze(self.query)
        if not terms:
            return ctx.no_hits()
        *full, last = terms
        frames = []
        if full:
            frames.append(ctx.bm25(list(dict.fromkeys(full)), 1, self.boost).select("__key", "_score"))
        frames.append(ctx.multi_term("prefix", last, self.boost))
        return _sum_frames(frames, min_should=1).select("__key", F.col("_s_should").alias("_score"))


@dataclass
class CombinedFieldsQ(Node):
    """combined_fields (CombinedFieldsQueryBuilder.java): term-centric
    BM25F — term freqs and doc lengths merged across fields BEFORE scoring
    (one virtual combined field), unlike multi_match's per-field scores.
    The fields must share one analyzer: over an index, its text field is
    combined with no other."""

    flds: list = field(default_factory=list)
    query: str = ""
    operator: str = "or"
    boost: float = 1.0

    def frame(self, ctx):
        view = ctx.combined(self.flds)
        return MatchQ(view.text_col, self.query, operator=self.operator,
                      boost=self.boost).frame(view)


@dataclass
class DistanceFeatureQ(Node):
    """distance_feature (DistanceFeatureQueryBuilder.java):
    score = boost * pivot / (pivot + |field - origin|)."""

    fld: str
    origin: float = 0.0
    pivot: float = 1.0
    boost: float = 1.0

    def frame(self, ctx):
        dist = F.abs(F.col(self.fld).cast("double") - float(self.origin))
        return (
            ctx.df.where(F.col(self.fld).isNotNull())
            .select(
                F.col(ctx.key).alias("__key"),
                (self.boost * self.pivot / (self.pivot + dist)).alias("_score"),
            )
        )


@dataclass
class SemanticQ(Node):
    """semantic query (x-pack ``SemanticQueryBuilder`` over a
    ``semantic_text`` field): score = cosine(embed(query), doc embedding).
    ``fld`` names the embedding column directly (pre-embedded corpus) —
    for a semantic_text field embedded at ingest via
    ``functions.inference.embed_column`` that is ``{field}__embedding``;
    with ``query`` text, the vector comes from the inference registry
    (deterministic hash embedder unless a model is registered under
    ``inference_id``); ``query_vector`` bypasses inference."""

    fld: str
    query: str | None = None
    query_vector: list | None = None
    inference_id: str = ""
    boost: float = 1.0

    def frame(self, ctx):
        qv_list = self.query_vector
        if qv_list is None:
            from ..functions.inference import embed_text

            qv_list = embed_text(self.query or "", self.inference_id)
        vcol = F.col(self.fld).cast("array<double>")
        qv = F.array(*[F.lit(float(x)) for x in qv_list])
        dot = F.aggregate(
            F.zip_with(vcol, qv, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        nrm = F.sqrt(
            F.aggregate(vcol, F.lit(0.0), lambda acc, x: acc + x * x)
        ) * F.sqrt(F.aggregate(qv, F.lit(0.0), lambda acc, x: acc + x * x))
        return ctx.df.where(F.col(self.fld).isNotNull()).select(
            F.col(ctx.key).alias("__key"),
            (F.lit(self.boost) * dot / nrm).alias("_score"),
        )


@dataclass
class KnnQ(Node):
    """knn QUERY (``server/.../search/vectors/KnnVectorQueryBuilder.java``,
    ES 8.4+ query-context kNN — composable inside bool/should unlike the
    top-level search-body ``knn``): exact cosine top-k as a scored frame.
    ``filter`` applies BEFORE the top-k (the reference's pre-filter
    contract, so the query always yields k survivors of the filter);
    ``similarity`` floors the admitted cosine; scores scale by boost."""

    fld: str
    query_vector: list
    k: int = 10
    filter: "Node | None" = None
    similarity: float | None = None
    boost: float = 1.0

    def frame(self, ctx):
        df_ = ctx.df if self.filter is None else matching(self.filter, ctx)
        vcol = F.col(self.fld).cast("array<double>")
        qv = F.array(*[F.lit(float(x)) for x in self.query_vector])
        dot = F.aggregate(
            F.zip_with(vcol, qv, lambda a, b: a * b), F.lit(0.0),
            lambda acc, x: acc + x,
        )
        nrm = F.sqrt(
            F.aggregate(vcol, F.lit(0.0), lambda acc, x: acc + x * x)
        ) * F.sqrt(F.aggregate(qv, F.lit(0.0), lambda acc, x: acc + x * x))
        out = (
            df_.where(F.col(self.fld).isNotNull())
            .select(F.col(ctx.key).alias("__key"), (dot / nrm).alias("__cos"))
            .orderBy(F.desc("__cos"), F.asc("__key"))
            .limit(int(self.k))
        )
        if self.similarity is not None:
            out = out.where(F.col("__cos") >= float(self.similarity))
        return out.select(
            "__key", (F.lit(self.boost) * F.col("__cos")).alias("_score")
        )


@dataclass
class MoreLikeThisQ(Node):
    """more_like_this (MoreLikeThisQueryBuilder.java): extract the top
    tf-idf terms from the liked docs, run them as a disjunction, exclude
    the liked docs (include=false default)."""

    like_ids: list = field(default_factory=list)
    max_query_terms: int = 25
    min_doc_freq: int = 1
    boost: float = 1.0

    def frame(self, ctx):
        liked = ctx.df.where(F.col(ctx.key).isin(self.like_ids)).select(ctx.text_col).collect()
        ltf = Counter(t for (text,) in liked if text for t in ctx.analyze(text))
        dfs = ctx.doc_freqs(list(ltf))
        if not dfs:
            return ctx.no_hits()
        n_docs = ctx.doc_count()
        tfidf = {t: ltf[t] * math.log(n_docs / (df + 1.0))
                 for t, df in dfs.items() if df >= self.min_doc_freq}
        top_terms = sorted(tfidf, key=lambda t: (-tfidf[t], t))[: self.max_query_terms]
        fr = ctx.bm25(top_terms, 1, self.boost).select("__key", "_score")
        return fr.where(~F.col("__key").isin(self.like_ids))


_VEC_FN_RE = None


_RUNTIME_TYPES = {
    "keyword": "string", "long": "long", "double": "double",
    "date": "timestamp", "boolean": "boolean", "ip": "string",
}


def _infer_painless_ret(df, src: str, params: dict | None) -> str:
    """Infer a Painless script field's Spark return type from one trial
    execution against the frame's first row (bounded: limit(1))."""
    from ..functions import painless as P

    rows = df.limit(1).collect()
    if not rows:
        return "string"
    row = {k: P._clean(v) for k, v in rows[0].asDict(recursive=True).items()}
    try:
        v = P.execute(P.compile_painless(src),
                      {"params": dict(params or {}), "doc": P.DocMap(row),
                       "_score": 0.0})
    except Exception:  # noqa: BLE001 — inference only; execution re-raises per row
        return "string"
    if isinstance(v, bool):
        return "boolean"
    if isinstance(v, int):
        return "long"
    if isinstance(v, float):
        return "double"
    if isinstance(v, list):
        if v and all(isinstance(x, (int, float)) and not isinstance(x, bool) for x in v):
            return "array<double>"
        return "array<string>"
    return "string"


def lookup_field(
    df: DataFrame,
    target: DataFrame,
    name: str,
    input_field: str,
    target_key: str,
    fetch_fields: list[str],
) -> DataFrame:
    """Runtime field ``type: lookup`` core (LookupRuntimeFieldType.java,
    search/390_lookup_fields.yml): enrich each row of ``df`` with an
    array-of-structs column ``name`` built from the ``fetch_fields`` of
    every ``target`` row whose ``target_key`` equals the row's
    ``input_field`` value; NULL when nothing matches. The reference issues
    a per-hit fetch round to the lookup index — the lookup index is a
    small dimension by construction, so this is a broadcast hash join: no
    per-row round-trips, no shuffle of the hits side, scale-free in the
    number of hits."""
    have = [f for f in fetch_fields if f in target.columns]
    right = (
        target.select(F.col(target_key).alias("__lk_key"),
                      F.struct(*[F.col(f) for f in have]).alias("__lk_val"))
        .groupBy("__lk_key")
        .agg(F.collect_list("__lk_val").alias(name))
    )
    left_key = F.col(input_field) if input_field in df.columns \
        else F.lit(None).cast("string")
    return (
        df.withColumn("__lk_in", left_key)
        .join(F.broadcast(right), F.col("__lk_in") == F.col("__lk_key"), "left")
        .drop("__lk_in", "__lk_key")
    )


def runtime_field_expr(spec: dict | str) -> Column:
    """Compile one runtime-field spec (RuntimeField.java) to a Column.
    SQL-expressible scripts have the ``emit(expr)`` wrapper stripped and
    run JVM-side; Painless-subset scripts (statements, loops, doc values)
    run in the interpreter with a real ``emit()`` collector. Either way
    the value casts to the declared runtime type."""
    import re as _re

    script = spec.get("script", {}) if isinstance(spec, dict) else spec
    if isinstance(script, dict) and "source" not in script and "id" not in script:
        src, params = "null", None
    else:
        src, params = script_source(script)
    t = spec.get("type", "keyword") if isinstance(spec, dict) else "keyword"
    rt = _RUNTIME_TYPES.get(t, "string")

    from ..functions import painless as P

    m = _re.fullmatch(r"\s*emit\((.*)\)\s*;?\s*", src, _re.S)
    if m is not None and not P.is_painless(m.group(1)):
        # single-emit SQL expression — JVM fast path
        return F.expr(expand_script(m.group(1), params)).cast(rt)
    if P.is_painless(src):
        return P.script_column(None, src, params, ret_type=rt,
                               runtime_emit=True)
    if m is not None:
        src = m.group(1)
    return F.expr(expand_script(src, params)).cast(rt)


# Stored scripts (PutStoredScriptAction / GetStoredScriptAction —
# ``S/action/admin/cluster/storedscripts/``): cluster-state script registry,
# referenced from any script spec by ``{"script": {"id": ..., "params":
# {...}}}``. Engine.put_script persists + registers here; resolution is
# driver-side compile time, like the reference's ScriptService lookup.
STORED_SCRIPTS: dict[str, dict] = {}


def script_source(spec) -> tuple[str, dict | None]:
    """Normalize any ES script spec — inline string, ``{"source": ...,
    "params": ...}``, or stored ``{"id": ...}`` — to (source, params).
    Unknown ids raise KeyError (the reference 404s)."""
    if not isinstance(spec, dict):
        return str(spec), None
    if "id" in spec and "source" not in spec:
        stored = STORED_SCRIPTS[spec["id"]]
        params = {**(stored.get("params") or {}), **(spec.get("params") or {})}
        return stored["source"], params or None
    return spec["source"], spec.get("params")


def expand_script(src: str, params: dict | None) -> str:
    """Painless-analog preprocessing: the dense_vector script functions
    (``cosineSimilarity`` / ``dotProduct`` / ``l1norm`` / ``l2norm`` over
    ``params.<name>`` and a vector field — the reference's
    ``ScoreScriptUtils`` in the vectors module) compile to JVM-side
    higher-order-function expressions; remaining scalar ``params.X``
    references fold in as literals."""
    import re

    global _VEC_FN_RE
    if _VEC_FN_RE is None:
        _VEC_FN_RE = re.compile(
            r"(cosineSimilarity|dotProduct|l1norm|l2norm)"
            r"\(\s*params\.(\w+)\s*,\s*'([\w.]+)'\s*\)"
        )
    params = params or {}

    def repl(m):
        fn, pname, fld = m.groups()
        vec = params[pname]
        arr = "array(" + ", ".join(repr(float(x)) for x in vec) + ")"
        vf = f"cast({fld} as array<double>)"
        dot = f"aggregate(zip_with({arr}, {vf}, (x, y) -> x * y), 0D, (acc, x) -> acc + x)"
        if fn == "dotProduct":
            return f"({dot})"
        if fn == "cosineSimilarity":
            na = f"sqrt(aggregate({arr}, 0D, (acc, x) -> acc + x * x))"
            nb = f"sqrt(aggregate({vf}, 0D, (acc, x) -> acc + x * x))"
            return f"(({dot}) / ({na} * {nb}))"
        if fn == "l2norm":
            return (
                f"sqrt(aggregate(zip_with({arr}, {vf}, (x, y) -> (x - y) * (x - y)),"
                " 0D, (acc, x) -> acc + x))"
            )
        return (
            f"aggregate(zip_with({arr}, {vf}, (x, y) -> abs(x - y)),"
            " 0D, (acc, x) -> acc + x)"
        )

    out = _VEC_FN_RE.sub(repl, src)
    return re.sub(
        r"params\.(\w+)",
        lambda m: repr(params[m.group(1)]) if m.group(1) in params else m.group(0),
        out,
    )


def script_col(df, src: str, params: dict | None,
               ret_type: str = "double", score_col=None) -> Column:
    """Two-tier script compilation (the reference's ScriptService picks a
    compiled context the same way): scripts using Painless-only constructs
    (statements, loops, doc[...], Java statics — functions/painless.py's
    ``is_painless``) run in the Painless-subset interpreter via an
    Arrow-batched pandas UDF; everything else stays on the JVM-side
    SQL-expression fast path (whole-stage codegen)."""
    from ..functions import painless as P

    if P.is_painless(src):
        return P.script_column(df, src, params, ret_type=ret_type,
                               score_col=score_col)
    return F.expr(expand_script(src, params))


@dataclass
class ScriptQ(Node):
    """script query (ScriptQueryBuilder.java): per-doc boolean predicate —
    a Spark SQL expression on the fast path, the Painless-subset
    interpreter (functions/painless.py) when the script needs statements /
    doc-values access."""

    source: str = ""
    params: dict | None = None

    def predicate(self, ctx):
        _check_expensive("script")
        return script_col(ctx.df, self.source, self.params,
                          ret_type="boolean").cast("boolean")


@dataclass
class NestedQ(Node):
    """nested (NestedQueryBuilder.java): query sub-documents in an
    array<struct> column; join back to parents with score_mode. The
    reference's hidden-doc block join is unnecessary — explode + groupBy is
    co-partitioned by construction."""

    path: str = ""
    query: Node = None
    score_mode: str = "avg"

    def filter_keys(self, ctx):
        # filter context: any child matches → distinct parent keys
        child = ctx.df.select(F.col(ctx.key).alias("__key"), F.explode(self.path).alias("__c"))
        flat = child.select("__key", F.col("__c.*"))
        sub = SearchContext(flat, "__key", text_col=ctx.text_col)
        return flat.where(self.query.predicate(sub)).select("__key").distinct()

    def frame(self, ctx):
        child = ctx.df.select(F.col(ctx.key).alias("__pkey"), F.explode(self.path).alias("__c"))
        flat = child.select("__pkey", F.col("__c.*"))
        sub = SearchContext(flat, "__pkey", text_col=ctx.text_col)
        child_scores = self.query.frame(sub)  # __key == __pkey values
        agg = {
            "avg": F.avg("_score"), "max": F.max("_score"), "sum": F.sum("_score"),
            "min": F.min("_score"), "none": F.lit(0.0),
        }[self.score_mode]
        return (
            child_scores.groupBy("__key")
            .agg(agg.alias("_score"))
        )

    def inner_hits_frame(self, ctx, size: int = 3):
        """inner_hits (``S/search/fetch/subphase/InnerHitsPhase.java``): the
        MATCHING nested sub-docs per parent, top-``size`` by child order —
        a window over the exploded child frame, no extra multi-search."""
        from pyspark.sql import Window

        child = ctx.df.select(
            F.col(ctx.key).alias("__key"),
            F.posexplode(self.path).alias("__offset", "__c"),
        )
        flat = child.select("__key", "__offset", F.col("__c.*"))
        sub = SearchContext(flat, "__key", text_col=ctx.text_col)
        matched = flat.where(self.query.predicate(sub))
        w = Window.partitionBy("__key").orderBy(F.asc("__offset"))
        return (
            matched.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= size)
            .drop("__r")
            .orderBy("__key", "__offset")
        )


@dataclass
class HasChildQ(Node):
    """has_child (``modules/parent-join`` HasChildQueryBuilder): parents
    whose children (same-index rows with ``join_field`` = child type and
    ``parent_field`` pointing at the parent key) match the inner query.
    A self-join keyed on the parent id — co-partitioned on one shuffle key,
    the Spark analog of the reference's same-shard parent/child contract.
    score_mode none/sum/avg/max/min aggregates child scores per parent;
    min_children/max_children bound the matching-child count."""

    child_type: str = ""
    query: Node = None
    join_field: str = "join_type"
    parent_field: str = "parent_id"
    score_mode: str = "none"
    min_children: int = 1
    max_children: int | None = None

    def _child_hits(self, ctx):
        import dataclasses as _dc

        df = _join_normalized(ctx.df, self.join_field, self.parent_field)
        # dataclasses.replace keeps kw_norm/analyzer_regex/shingle (a plain
        # re-construction silently dropped normalizer-mapped term matching);
        # the lazy stat caches reset with the new frame
        ctx = _dc.replace(ctx, df=df, _tf=None, _dl=None, _coll=None)
        children = ctx.df.where(F.col(self.join_field) == self.child_type)
        # the inner query evaluates against the FULL frame (all join types
        # share the index — a nested has_child over grand_children must see
        # the grandchild rows), then the child-type filter restricts
        sub = _dc.replace(ctx, df=children, _tf=None, _dl=None, _coll=None)
        try:
            hits = children.where(self.query.predicate(sub)).select(
                F.col(self.parent_field).alias("__key"), F.lit(1.0).alias("_cs")
            )
        except NotImplementedError:
            fr = self.query.frame(ctx)
            hits = (
                children.select(F.col(ctx.key).alias("__ck"), self.parent_field)
                .join(fr.withColumnRenamed("__key", "__ck"), "__ck")
                .select(F.col(self.parent_field).alias("__key"), F.col("_score").alias("_cs"))
            )
        return hits

    def frame(self, ctx):
        agg = {
            "none": F.lit(0.0), "sum": F.sum("_cs"), "avg": F.avg("_cs"),
            "max": F.max("_cs"), "min": F.min("_cs"),
        }[self.score_mode]
        out = (
            self._child_hits(ctx)
            .groupBy("__key")
            .agg(agg.alias("_score"), F.count("*").alias("__nc"))
            .where(F.col("__nc") >= self.min_children)
        )
        if self.max_children is not None:
            out = out.where(F.col("__nc") <= self.max_children)
        return out.drop("__nc")


def _join_normalized(df: DataFrame, join_field: str,
                     parent_field: str) -> DataFrame:
    """Accept the reference's join FIELD shape
    (ParentJoinFieldMapper: ``join_field: {name, parent}`` — map or
    struct, 20_parent_join.yml) by deriving the engine's flat
    join_type/parent_id columns when they're absent."""
    if join_field in df.columns or "join_field" not in df.columns:
        return df
    jf = F.col("join_field")
    return (df.withColumn(join_field, jf["name"])
              .withColumn(parent_field, jf["parent"]))


@dataclass
class HasParentQ(Node):
    """has_parent (HasParentQueryBuilder): children whose PARENT row
    matches the inner query; with score=True the parent's score propagates
    to every child."""

    parent_type: str = ""
    query: Node = None
    join_field: str = "join_type"
    parent_field: str = "parent_id"
    score: bool = False

    def frame(self, ctx):
        import dataclasses as _dc

        df = _join_normalized(ctx.df, self.join_field, self.parent_field)
        ctx = _dc.replace(ctx, df=df, _tf=None, _dl=None, _coll=None)
        parents = ctx.df.where(F.col(self.join_field) == self.parent_type)
        sub = _dc.replace(ctx, df=parents, _tf=None, _dl=None, _coll=None)
        try:
            phits = parents.where(self.query.predicate(sub)).select(
                F.col(ctx.key).alias("__pk"), F.lit(1.0).alias("_ps")
            )
        except NotImplementedError:
            # inner query over the FULL frame (join types share the index),
            # restricted to parent-type rows by semi-join
            phits = self.query.frame(ctx).select(
                F.col("__key").alias("__pk"), F.col("_score").alias("_ps")
            ).join(parents.select(F.col(ctx.key).alias("__pk")), "__pk",
                   "left_semi")
        children = ctx.df.where(F.col(self.parent_field).isNotNull())
        out = children.select(
            F.col(ctx.key).alias("__key"), F.col(self.parent_field).alias("__pk")
        ).join(phits, "__pk")
        sc = F.col("_ps") if self.score else F.lit(0.0)
        return out.select("__key", sc.alias("_score"))


@dataclass
class BoolQ(Node):
    """bool (BoolQueryBuilder.java:47-65): must=AND scored, filter=AND
    unscored, should=OR scored (minimum_should_match), must_not=NOT."""

    must: list = field(default_factory=list)
    filter: list = field(default_factory=list)
    should: list = field(default_factory=list)
    must_not: list = field(default_factory=list)
    minimum_should_match: int | str | None = None
    boost: float = 1.0

    def _msm(self) -> int:
        if self.minimum_should_match is not None:
            return resolve_msm(self.minimum_should_match, len(self.should))
        # default: 1 if there are no must/filter clauses, else 0
        return 0 if (self.must or self.filter) else 1

    def predicate(self, ctx):
        p = F.lit(True)
        for c in self.must + self.filter:
            p = p & c.predicate(ctx)
        for c in self.must_not:
            p = p & ~F.coalesce(c.predicate(ctx), F.lit(False))
        if self.should:
            per = [F.coalesce(c.predicate(ctx), F.lit(False)).cast("int") for c in self.should]
            p = p & (sum(per[1:], per[0]) >= max(self._msm(), 0 if not self._msm() else 1))
        return p

    def frame(self, ctx):
        must_frames = [c.frame(ctx) for c in self.must]
        should_frames = [c.frame(ctx) for c in self.should]
        msm = self._msm()

        if must_frames:
            out = must_frames[0]
            for fr in must_frames[1:]:  # conjunction: inner join, scores add
                out = out.join(fr.withColumnRenamed("_score", "_s2"), "__key").withColumn(
                    "_score", F.col("_score") + F.col("_s2")
                ).drop("_s2")
            if should_frames:  # should alongside must: optional, scores add
                sf = _sum_frames(should_frames, min_should=msm if msm > 0 else 0)
                if msm > 0:
                    out = out.join(sf, "__key").withColumn(
                        "_score", F.col("_score") + F.col("_s_should")
                    ).drop("_s_should", "_n_should")
                else:
                    out = out.join(sf, "__key", "left").withColumn(
                        "_score", F.col("_score") + F.coalesce(F.col("_s_should"), F.lit(0.0))
                    ).drop("_s_should", "_n_should")
        elif should_frames:
            sf = _sum_frames(should_frames, min_should=max(msm, 1))
            out = sf.select("__key", F.col("_s_should").alias("_score"))
        else:  # filter/must_not only: constant score (BoolQueryBuilder pure-filter)
            out = ctx.df.select(F.col(ctx.key).alias("__key")).withColumn("_score", F.lit(0.0))

        for c in self.filter:  # unscored, cacheable context (semi-join form)
            out = out.join(c.filter_keys(ctx), "__key", "left_semi")
        for c in self.must_not:
            out = out.join(c.filter_keys(ctx), "__key", "left_anti")
        return out.withColumn("_score", F.col("_score") * self.boost)


def _sum_frames(frames: list[DataFrame], min_should: int) -> DataFrame:
    """OR-combine score frames: union → groupBy sum + clause count."""
    u = frames[0]
    for fr in frames[1:]:
        u = u.unionByName(fr)
    out = u.groupBy("__key").agg(
        F.sum("_score").alias("_s_should"), F.count("*").cast("int").alias("_n_should")
    )
    if min_should > 1:
        out = out.where(F.col("_n_should") >= min_should)
    return out


def _dismax_frames(frames: list[DataFrame], tie_breaker: float) -> DataFrame:
    """dis_max (DisMaxQueryBuilder.java): max + tie_breaker * (sum - max)."""
    u = frames[0]
    for fr in frames[1:]:
        u = u.unionByName(fr)
    return (
        u.groupBy("__key")
        .agg(F.max("_score").alias("_mx"), F.sum("_score").alias("_sm"))
        .select(
            "__key",
            (F.col("_mx") + tie_breaker * (F.col("_sm") - F.col("_mx"))).alias("_score"),
        )
    )


@dataclass
class DisMaxQ(Node):
    queries: list = field(default_factory=list)
    tie_breaker: float = 0.0
    boost: float = 1.0

    def frame(self, ctx):
        return _dismax_frames([q.frame(ctx) for q in self.queries], self.tie_breaker).withColumn(
            "_score", F.col("_score") * self.boost
        )

    def predicate(self, ctx):
        per = [F.coalesce(q.predicate(ctx), F.lit(False)) for q in self.queries]
        p = per[0]
        for x in per[1:]:
            p = p | x
        return p


@dataclass
class PinnedQ(Node):
    """pinned query (``x-pack/plugin/search-business-rules/.../
    PinnedQueryBuilder.java``): the listed ids rank first, in list order,
    above every organic hit. The reference scores pin i as
    MAX_ORGANIC_SCORE + (n - i); here organic scores are capped below the
    pin floor the same way (pins descend from PIN_BASE, organic is left
    untouched — BM25 scores are far below the base)."""

    ids: list = field(default_factory=list)
    organic: Node = None

    PIN_BASE = 1.0e12  # far above any BM25/function score

    def frame(self, ctx):
        organic = self.organic.frame(ctx)
        id_col = F.col(ctx.key)
        pin_rank = F.array_position(
            F.lit([str(i) for i in self.ids]), id_col.cast("string")
        )
        pinned = (
            ctx.df.where(pin_rank > 0)
            .select(
                id_col.alias("__key"),
                (F.lit(self.PIN_BASE) + F.lit(float(len(self.ids))) - pin_rank.cast("double")).alias("_score"),
            )
        )
        rest = organic.join(
            pinned.select("__key"), "__key", "left_anti"
        ).where(F.col("_score") < self.PIN_BASE)
        return pinned.unionByName(rest)

    def predicate(self, ctx):
        id_col = F.col(ctx.key)
        return id_col.cast("string").isin([str(i) for i in self.ids]) | F.coalesce(
            self.organic.predicate(ctx), F.lit(False)
        )


@dataclass
class ConstantScoreQ(Node):
    filter_q: Node = None
    boost: float = 1.0

    def predicate(self, ctx):  # ConstantScoreQueryBuilder.java
        return self.filter_q.predicate(ctx)

    def frame(self, ctx):
        return self.filter_q.filter_keys(ctx).withColumn("_score", F.lit(float(self.boost)))


@dataclass
class BoostingQ(Node):
    """boosting (BoostingQueryBuilder.java): positive score demoted by
    negative_boost where the negative query matches."""

    positive: Node = None
    negative: Node = None
    negative_boost: float = 0.5

    def frame(self, ctx):
        pos = self.positive.frame(ctx)
        neg_keys = self.negative.filter_keys(ctx).withColumn("_neg", F.lit(True))
        return (
            pos.join(neg_keys, "__key", "left")
            .withColumn(
                "_score",
                F.when(F.col("_neg"), F.col("_score") * self.negative_boost).otherwise(
                    F.col("_score")
                ),
            )
            .drop("_neg")
        )


@dataclass
class FunctionScoreQ(Node):
    """function_score (functionscore/FunctionScoreQueryBuilder.java):
    functions = list of {filter?, weight? | field_value_factor? | gauss/exp/
    linear decay?}; score_mode sum/multiply/max/min, boost_mode multiply/sum/
    replace."""

    query: Node = None
    functions: list = field(default_factory=list)
    score_mode: str = "multiply"
    boost_mode: str = "multiply"
    boost: float = 1.0      # top-level query boost (multiplies the result)
    min_score: float = None  # drop docs scoring below (FunctionScoreQuery)

    def _fn_col(self, ctx: SearchContext, spec: dict, joined: DataFrame, flag: str) -> Column:
        if "weight" in spec and set(spec) <= {"weight", "filter"}:
            v = F.lit(float(spec["weight"]))
        elif "field_value_factor" in spec:
            fv = spec["field_value_factor"]
            c = F.col(fv["field"]).cast("double") * fv.get("factor", 1.0)
            mod = fv.get("modifier", "none")
            mods = {
                "none": c, "log1p": F.log(c + 1.0), "log2p": F.log(c + 2.0),
                "sqrt": F.sqrt(c), "square": c * c, "reciprocal": 1.0 / c,
                "ln1p": F.log(c + 1.0),
            }
            v = F.coalesce(mods[mod], F.lit(fv.get("missing", 1.0)))
        elif any(k in spec for k in ("gauss", "exp", "linear")):
            kind = next(k for k in ("gauss", "exp", "linear") if k in spec)
            (fld_name, params), = spec[kind].items()
            origin = float(params["origin"])
            scale = float(params["scale"])
            decay = float(params.get("decay", 0.5))
            dist = F.abs(F.col(fld_name).cast("double") - origin)
            offset = float(params.get("offset", 0.0))
            d = F.greatest(dist - offset, F.lit(0.0))
            if kind == "gauss":
                sigma2 = scale * scale / (-2.0 * math.log(decay))
                v = F.exp(-(d * d) / (2.0 * sigma2))
            elif kind == "exp":
                lam = math.log(decay) / scale
                v = F.exp(lam * d)
            else:
                s = scale / (1.0 - decay)
                v = F.greatest((s - d) / s, F.lit(0.0))
        elif "random_score" in spec:
            # RandomScoreFunctionBuilder.java: deterministic per-doc
            # pseudo-random in [0,1) from hash(seed, doc key) — same
            # reproducibility contract as ES's seeded random_score
            rs = spec["random_score"] or {}
            seed = int(rs.get("seed", 0))
            fld_c = F.col(rs.get("field", ctx.key))
            h = F.xxhash64(F.lit(seed), fld_c)
            v = F.pmod(h, F.lit(1 << 31)).cast("double") / float(1 << 31)
        elif "script_score" in spec:
            # ScriptScoreFunctionBuilder.java: over doc fields + `_score`
            # (the query score column); Painless-subset scripts route to
            # the interpreter, SQL expressions stay JVM-side
            _check_expensive("script_score")
            src, sparams = script_source(spec["script_score"]["script"])
            v = script_col(joined, src, sparams, ret_type="double",
                           score_col=F.col("_score")).cast("double")
        else:
            raise ValueError(f"unsupported function_score function: {spec}")
        if "weight" in spec and not set(spec) <= {"weight", "filter"}:
            v = v * float(spec["weight"])
        if "filter" in spec:
            v = F.when(F.col(flag), v)  # a doc failing the filter gets null
        return v

    @staticmethod
    def _with_filter_flag(joined: DataFrame, node: Node, ctx: SearchContext,
                          flag: str) -> DataFrame:
        """``joined`` plus ``flag``: the doc passes the filter ``node`` —
        its predicate, or membership in its keys when it has none (a
        scoring-only node, or a text leaf an index answers)."""
        try:
            return joined.withColumn(flag, node.predicate(ctx))
        except NotImplementedError:
            keys = node.filter_keys(ctx).dropDuplicates(["__key"]).withColumn(flag, F.lit(True))
            return joined.join(keys, "__key", "left")

    def frame(self, ctx):
        base = (self.query or MatchAll()).frame(ctx)
        if not self.functions:
            # zero functions still applies the query-level boost and
            # min_score (FunctionScoreQuery wraps regardless)
            if self.boost != 1.0:
                base = base.withColumn(
                    "_score", F.col("_score") * F.lit(float(self.boost)))
            if self.min_score is not None:
                base = base.where(F.col("_score") >= float(self.min_score))
            return base
        joined = base.join(ctx.df.withColumn("__key", F.col(ctx.key)), "__key")
        flags = [f"__fsf{i}" for i in range(len(self.functions))]
        for s, flag in zip(self.functions, flags):
            if "filter" in s:
                joined = self._with_filter_flag(joined, parse(s["filter"]), ctx, flag)
        cols = [self._fn_col(ctx, s, joined, flag) for s, flag in zip(self.functions, flags)]
        if self.score_mode == "sum":
            fn = sum([F.coalesce(c, F.lit(0.0)) for c in cols[1:]], F.coalesce(cols[0], F.lit(0.0)))
        elif self.score_mode == "max":
            fn = F.greatest(*cols) if len(cols) > 1 else cols[0]
        elif self.score_mode == "min":
            fn = F.least(*cols) if len(cols) > 1 else cols[0]
        else:  # multiply — every factor null-coalesces (a doc failing one
            # function's filter keeps the OTHER functions' product; the
            # first factor was previously un-coalesced and poisoned it)
            fn = F.coalesce(cols[0], F.lit(1.0))
            for c in cols[1:]:
                fn = fn * F.coalesce(c, F.lit(1.0))
        fn = F.coalesce(fn, F.lit(1.0))
        score = F.col("_score")
        if self.boost_mode == "sum":
            new = score + fn
        elif self.boost_mode == "replace":
            new = fn
        else:
            new = score * fn
        if self.boost != 1.0:
            new = new * F.lit(float(self.boost))
        out = joined.select("__key", new.alias("_score"))
        if self.min_score is not None:
            out = out.where(F.col("_score") >= float(self.min_score))
        return out


def parse_query_string(
    s: str, default_field: str = "text", default_operator: str = "or"
) -> Node:
    """Lucene query-string syntax subset (QueryStringQueryParser.java):
    AND/OR/NOT, parentheses, field:value, field:(grouped clauses),
    "quoted phrases" (with "…"~N proximity), wildcard* / wild?card,
    fuzzy~ / fuzzy~N, term^boost, /regexp/ (full-match, Lucene
    semantics), +required / -prohibited prefixes (− = NOT; + is the
    plain clause in this OR-default subset), [lo TO hi] ranges.
    Default operator OR."""
    import re as _re

    toks = _re.findall(
        r'\(|\)|\[|\]|"[^"]*"|/(?:[^/\\]|\\.)*/|AND|OR|NOT|[^\s()\[\]"]+', s)
    if default_operator.lower() == "and":
        # Lucene inserts the default operator between adjacent clauses at
        # parse time; -prohibited clauses join the AND chain too (parse_and
        # folds them into must_not, so `a -b c` = a AND c AND NOT b)
        merged: list[str] = []
        for t in toks:
            if (merged
                    and t not in (")", "]", "AND", "OR", "TO")
                    and not _re.match(r"^[~^]", t)
                    and merged[-1] not in ("(", "[", "AND", "OR", "NOT", "TO",
                                           "-", "+")
                    and not merged[-1].endswith(":")):
                merged.append("AND")
            merged.append(t)
        toks = merged
    pos = 0
    dfield = [default_field]

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        if pos >= len(toks):
            raise ValueError("unexpected end of query string")
        t = toks[pos]
        pos += 1
        return t

    def parse_or() -> Node:
        shoulds: list[Node] = []
        must_nots: list[Node] = []

        def absorb() -> None:
            node = parse_and()
            # a bare -prohibited clause at this level is a boolean-level
            # exclusion (Lucene occur semantics: `a -b` = a AND NOT b,
            # and `a OR -b` likewise keeps b as MUST_NOT), not an OR branch
            if _sqs_is_neg(node):
                must_nots.extend(node.must_not)
            else:
                shoulds.append(node)

        absorb()
        while True:
            if peek() == "OR":
                take()
                absorb()
            elif peek() not in (None, ")", "]"):
                absorb()  # implicit default operator (OR)
            else:
                break
        if not must_nots:
            return shoulds[0] if len(shoulds) == 1 else BoolQ(
                should=shoulds, minimum_should_match=1)
        if not shoulds:
            return BoolQ(must=[MatchAll()], must_not=must_nots)
        base = (shoulds[0] if len(shoulds) == 1
                else BoolQ(should=shoulds, minimum_should_match=1))
        return BoolQ(must=[base], must_not=must_nots)

    def parse_and() -> Node:
        left = [parse_unary()]
        while peek() == "AND":
            take()
            left.append(parse_unary())
        if len(left) == 1:
            return left[0]
        # fold pure negations into must_not so `a AND -b` (and the
        # default_operator=and chain `a -b c`) become must + must_not
        negs = [m for n in left if _sqs_is_neg(n) for m in n.must_not]
        poss = [n for n in left if not _sqs_is_neg(n)]
        if not negs:
            return BoolQ(must=left)
        return BoolQ(must=poss if poss else [MatchAll()], must_not=negs)

    def parse_unary() -> Node:
        if peek() == "NOT":
            take()
            inner = parse_unary()
            return BoolQ(must=[MatchAll()], must_not=[inner])
        t = peek()
        if t == "-":
            # standalone '-' before a group or quoted phrase: -(a b), -"x y"
            take()
            inner = parse_unary()
            return BoolQ(must=[MatchAll()], must_not=[inner])
        if t == "+":
            take()
            return parse_unary()
        if t and t not in ("(", ")", "[", "]") and not t.startswith('"'):
            if t.startswith("-") and len(t) > 1:
                toks[pos] = t[1:]
                inner = parse_unary()
                return BoolQ(must=[MatchAll()], must_not=[inner])
            if t.startswith("+") and len(t) > 1:
                toks[pos] = t[1:]
        return parse_clause()

    def _suffixes(t: str) -> tuple[str, float | None, int | None]:
        """Strip trailing ^boost and ~fuzz (either order) off a bare token."""
        boost, fuzz = None, None
        changed = True
        while changed:
            changed = False
            m = _re.search(r"\^(\d+(?:\.\d+)?)$", t)
            if m and boost is None:
                boost, t, changed = float(m.group(1)), t[: m.start()], True
            m = _re.search(r"~(\d*)$", t)
            if m and fuzz is None and len(t) > m.start() > 0:
                fuzz = int(m.group(1)) if m.group(1) else 2
                t, changed = t[: m.start()], True
        return t, boost, fuzz

    def parse_clause() -> Node:
        t = take()
        if t == "(":
            inner = parse_or()
            assert take() == ")", "unbalanced parens"
            return inner
        fld = dfield[0]
        if ":" in t and not t.startswith('"') and not t.startswith("/"):
            fld, _, t = t.partition(":")
            if t == "" and peek() == "[":
                t = take()  # field:[lo TO hi] — bracket was its own token
            elif t == "" and peek() == "(":
                # field:(grouped clauses) — the group parses with this
                # field as its default
                take()
                dfield.insert(0, fld)
                try:
                    inner = parse_or()
                finally:
                    dfield.pop(0)
                assert take() == ")", "unbalanced parens"
                return inner
            elif t == "" and peek() not in (None, ")", "]"):
                t = take()  # field:"phrase" etc. split by the tokenizer
        if t == "[":  # [lo TO hi]
            lo = take()
            assert take() == "TO"
            hi = take()
            assert take() == "]"

            def num(x):
                try:
                    return float(x)
                except ValueError:
                    return x

            return RangeQ(fld, gte=None if lo == "*" else num(lo), lte=None if hi == "*" else num(hi))
        if t.startswith('"'):
            # "a b"~N proximity / ^boost arrive as the FOLLOWING token
            slop, boost = 0, 1.0
            nxt = peek()
            if nxt and _re.fullmatch(r"(~\d+)?(\^\d+(?:\.\d+)?)?", nxt) and (
                    "~" in nxt or "^" in nxt):
                take()
                sm = _re.search(r"~(\d+)", nxt)
                bm = _re.search(r"\^(\d+(?:\.\d+)?)", nxt)
                slop = int(sm.group(1)) if sm else 0
                boost = float(bm.group(1)) if bm else 1.0
            return MatchPhraseQ(fld, query=t.strip('"'), slop=slop, boost=boost)
        if t.startswith("/") and t.endswith("/") and len(t) >= 2:
            return RegexpQ(fld, value=t[1:-1])
        t, boost, fuzz = _suffixes(t)
        b = 1.0 if boost is None else boost
        if fuzz is not None:
            if fld == default_field:
                return FuzzyTokenQ(fld, value=t, fuzziness=fuzz, boost=b)
            return FuzzyQ(fld, value=t, fuzziness=fuzz, boost=b)
        if t.endswith("*") and "*" not in t[:-1] and "?" not in t:
            if fld == default_field:
                return MatchBoolPrefixQ(fld, query=t[:-1], boost=b)
            return PrefixQ(fld, value=t[:-1], boost=b)
        if "*" in t or "?" in t:
            return WildcardQ(fld, value=t, boost=b)
        if fld != default_field:
            return TermQ(fld, value=t, boost=b)
        return MatchQ(fld, query=t, boost=b)

    node = parse_or()
    assert pos == len(toks), f"trailing input at {toks[pos:]}"
    return node


def parse_simple_query_string(
    s: str, default_field: str = "text", default_operator: str = "or"
) -> Node:
    """simple_query_string (SimpleQueryStringQueryBuilder.java / Lucene
    SimpleQueryParser): the lenient end-user dialect — `+` AND, `|` OR,
    `-` prohibited, "quoted phrase" (with "…"~N slop), trailing-* prefix,
    fuzzy~N, ( ) grouping. No field: syntax (that's query_string's); AND
    binds tighter than OR; whitespace applies the default operator."""
    import re as _re

    toks = _re.findall(r'"[^"]*"(?:~\d+)?|\(|\)|\||\+|-|[^\s()|+]+', s)
    pos = 0

    def peek():
        return toks[pos] if pos < len(toks) else None

    def take():
        nonlocal pos
        if pos >= len(toks):
            raise ValueError("unexpected end of query string")
        t = toks[pos]
        pos += 1
        return t

    and_implicit = default_operator.lower() == "and"

    def parse_or() -> Node:
        shoulds = [parse_and()]
        while True:
            if peek() == "|":
                take()
                shoulds.append(parse_and())
            elif peek() not in (None, ")") and not and_implicit:
                shoulds.append(parse_and())
            else:
                break
        negs = [m for n in shoulds if _sqs_is_neg(n) for m in n.must_not]
        poss = [n for n in shoulds if not _sqs_is_neg(n)]
        if negs:
            base = (poss[0] if len(poss) == 1 else BoolQ(
                should=poss, minimum_should_match=1)) if poss else MatchAll()
            return BoolQ(must=[base], must_not=negs)
        return poss[0] if len(poss) == 1 else BoolQ(
            should=poss, minimum_should_match=1)

    def parse_and() -> Node:
        musts = [parse_unary()]
        while True:
            if peek() == "+":
                take()
                musts.append(parse_unary())
            elif peek() not in (None, ")", "|") and and_implicit:
                musts.append(parse_unary())
            else:
                break
        pos_nodes = [n for n in musts if not _sqs_is_neg(n)]
        neg_nodes = [m for n in musts if _sqs_is_neg(n) for m in n.must_not]
        if not neg_nodes:
            return musts[0] if len(musts) == 1 else BoolQ(must=musts)
        base = pos_nodes if pos_nodes else [MatchAll()]
        return BoolQ(must=base, must_not=neg_nodes)

    def parse_unary() -> Node:
        if peek() == "-":
            take()
            return BoolQ(must=[MatchAll()], must_not=[parse_clause()])
        return parse_clause()

    def parse_clause() -> Node:
        t = take()
        if t == "(":
            inner = parse_or()
            assert take() == ")", "unbalanced parens"
            return inner
        if t.startswith('"'):
            m = _re.fullmatch(r'"([^"]*)"(?:~(\d+))?', t)
            if m is None:
                # unterminated quote: SQS is lenient — treat as literal text
                return MatchQ(default_field, query=t.strip('"'))
            return MatchPhraseQ(default_field, query=m.group(1),
                                slop=int(m.group(2) or 0))
        fm = _re.search(r"~(\d*)$", t)
        if fm and fm.start() > 0:
            fuzz = int(fm.group(1)) if fm.group(1) else 2
            return FuzzyTokenQ(default_field, value=t[: fm.start()], fuzziness=fuzz)
        if t.endswith("*") and len(t) > 1:
            return MatchBoolPrefixQ(default_field, query=t[:-1])
        return MatchQ(default_field, query=t)

    node = parse_or()
    assert pos == len(toks), f"trailing input at {toks[pos:]}"
    return node


def _sqs_is_neg(n: Node) -> bool:
    """Pure-negation detector shared by the query_string and
    simple_query_string parsers' occur folding."""
    return (isinstance(n, BoolQ) and bool(n.must_not) and not n.should
            and len(n.must) == 1 and isinstance(n.must[0], MatchAll))


def parse(q: dict) -> Node:
    """JSON DSL dict → AST (the RestSearchAction / SearchSourceBuilder parse
    step, ``server/.../rest/action/search/RestSearchAction.java:57``)."""
    (kind, body), = q.items()
    if kind == "match_all":
        return MatchAll(boost=body.get("boost", 1.0) if isinstance(body, dict) else 1.0)
    if kind == "match_none":
        return MatchNone()
    if kind == "term":
        (fld, spec), = body.items()
        v = spec["value"] if isinstance(spec, dict) else spec
        return TermQ(
            fld, value=v,
            boost=spec.get("boost", 1.0) if isinstance(spec, dict) else 1.0,
            case_insensitive=bool(spec.get("case_insensitive", False)) if isinstance(spec, dict) else False,
        )
    if kind == "terms":
        (fld, vals), = ((k, v) for k, v in body.items() if k != "boost")
        return TermsQ(fld, values=list(vals), boost=body.get("boost", 1.0))
    if kind == "knn":
        flt = body.get("filter")
        fnode = None
        if flt:
            fl = flt if isinstance(flt, list) else [flt]
            fnode = parse({"bool": {"filter": fl}})
        return KnnQ(
            body["field"],
            query_vector=list(body["query_vector"]),
            k=int(body.get("k", body.get("num_candidates", 10))),
            filter=fnode,
            similarity=body.get("similarity"),
            boost=body.get("boost", 1.0),
        )
    if kind == "semantic":
        return SemanticQ(
            body["field"],
            query=body.get("query"),
            query_vector=body.get("query_vector"),
            inference_id=body.get("inference_id", ""),
            boost=body.get("boost", 1.0),
        )
    if kind == "terms_set":
        (fld, spec), = body.items()
        return TermsSetQ(fld, values=spec["terms"], min_match=spec.get("minimum_should_match_field_value", 1))
    if kind == "range":
        (fld, spec), = body.items()
        return RangeQ(fld, gte=spec.get("gte"), gt=spec.get("gt"), lte=spec.get("lte"), lt=spec.get("lt"))
    if kind == "exists":
        return ExistsQ(body["field"])
    if kind == "ids":
        return IdsQ(values=body["values"])
    if kind == "prefix":
        (fld, spec), = body.items()
        ci = bool(spec.get("case_insensitive", False)) if isinstance(spec, dict) else False
        return PrefixQ(fld, value=spec["value"] if isinstance(spec, dict) else spec,
                       case_insensitive=ci)
    if kind == "wildcard":
        (fld, spec), = body.items()
        ci = bool(spec.get("case_insensitive", False)) if isinstance(spec, dict) else False
        return WildcardQ(fld, value=spec["value"] if isinstance(spec, dict) else spec,
                         case_insensitive=ci)
    if kind == "regexp":
        (fld, spec), = body.items()
        ci = bool(spec.get("case_insensitive", False)) if isinstance(spec, dict) else False
        return RegexpQ(fld, value=spec["value"] if isinstance(spec, dict) else spec,
                       case_insensitive=ci)
    if kind == "fuzzy":
        (fld, spec), = body.items()
        return FuzzyQ(
            fld, value=spec["value"],
            fuzziness=resolve_fuzziness(spec.get("fuzziness", 2), str(spec["value"])),
            prefix_length=int(spec.get("prefix_length", 0)),
            transpositions=bool(spec.get("transpositions", True)),
        )
    if kind == "match":
        (fld, spec), = body.items()
        if isinstance(spec, str):
            return MatchQ(fld, query=spec)
        return MatchQ(
            fld, query=spec["query"], operator=spec.get("operator", "or"),
            minimum_should_match=spec.get("minimum_should_match", 1),
            boost=spec.get("boost", 1.0),
        )
    if kind == "common":
        (fld, spec), = body.items()
        msm = spec.get("minimum_should_match", 1)
        low_msm = int(msm["low_freq"]) if isinstance(msm, dict) else int(msm)
        high_msm = int(msm.get("high_freq", 1)) if isinstance(msm, dict) else 1
        return CommonTermsQ(
            fld, query=spec["query"],
            cutoff_frequency=float(spec.get("cutoff_frequency", 0.01)),
            low_freq_operator=spec.get("low_freq_operator", "or"),
            high_freq_operator=spec.get("high_freq_operator", "or"),
            low_msm=low_msm, high_msm=high_msm,
            boost=spec.get("boost", 1.0),
        )
    if kind == "match_phrase":
        (fld, spec), = body.items()
        if isinstance(spec, dict):
            return MatchPhraseQ(fld, query=spec["query"],
                                slop=int(spec.get("slop", 0)),
                                boost=float(spec.get("boost", 1.0)))
        return MatchPhraseQ(fld, query=spec)
    if kind == "match_phrase_prefix":
        (fld, spec), = body.items()
        return MatchPhrasePrefixQ(fld, query=spec["query"] if isinstance(spec, dict) else spec)
    if kind == "intervals":
        (fld, src), = body.items()
        return IntervalsQ(fld, source=src)
    if kind == "multi_match":
        return MultiMatchQ(
            flds=body["fields"], query=body["query"],
            mm_type=body.get("type", "best_fields"),
            tie_breaker=body.get("tie_breaker", 0.0),
            operator=body.get("operator", "or"),
            boost=body.get("boost", 1.0),
        )
    if kind == "bool":
        def lst(x):
            v = body.get(x, [])
            return [parse(c) for c in (v if isinstance(v, list) else [v])]

        return BoolQ(
            must=lst("must"), filter=lst("filter"), should=lst("should"),
            must_not=lst("must_not"),
            minimum_should_match=body.get("minimum_should_match"),
            boost=body.get("boost", 1.0),
        )
    if kind == "dis_max":
        return DisMaxQ(
            queries=[parse(c) for c in body["queries"]],
            tie_breaker=body.get("tie_breaker", 0.0),
        )
    if kind == "constant_score":
        return ConstantScoreQ(filter_q=parse(body["filter"]), boost=body.get("boost", 1.0))
    if kind == "pinned":
        return PinnedQ(ids=list(body.get("ids", [])), organic=parse(body["organic"]))
    if kind == "boosting":
        return BoostingQ(
            positive=parse(body["positive"]), negative=parse(body["negative"]),
            negative_boost=body.get("negative_boost", 0.5),
        )
    if kind == "function_score":
        fs_fns = body.get("functions", [])
        if not fs_fns:
            # single-function shorthand: the function spec sits directly in
            # the body (FunctionScoreQueryBuilder's other constructor)
            fs_fns = [{k: v for k, v in body.items()
                       if k in ("weight", "field_value_factor", "script_score",
                                "random_score", "gauss", "exp", "linear")}]
            fs_fns = [f for f in fs_fns if f]
        return FunctionScoreQ(
            query=parse(body["query"]) if "query" in body else None,
            functions=fs_fns,
            score_mode=body.get("score_mode", "multiply"),
            boost_mode=body.get("boost_mode", "multiply"),
            boost=float(body.get("boost", 1.0)),
            min_score=body.get("min_score"),
        )
    if kind == "script_score":
        # ScriptScoreQueryBuilder — the first-class script_score QUERY
        # (since 7.0; 110_script_score_boost.yml): score = script(doc,
        # _score of inner query) * boost, replacing the inner score
        _check_expensive("script_score")
        return FunctionScoreQ(
            query=parse(body["query"]),
            functions=[{"script_score": {"script": body["script"]}}],
            boost_mode="replace",
            boost=float(body.get("boost", 1.0)),
            min_score=body.get("min_score"),
        )
    if kind == "match_bool_prefix":
        (fld, spec), = body.items()
        return MatchBoolPrefixQ(fld, query=spec["query"] if isinstance(spec, dict) else spec)
    if kind == "combined_fields":
        return CombinedFieldsQ(
            flds=body["fields"], query=body["query"], operator=body.get("operator", "or")
        )
    if kind == "distance_feature":
        return DistanceFeatureQ(
            body["field"], origin=float(body["origin"]), pivot=float(body["pivot"]),
            boost=body.get("boost", 1.0),
        )
    if kind == "more_like_this":
        like = body.get("like", [])
        ids = [x["_id"] if isinstance(x, dict) else x for x in (like if isinstance(like, list) else [like])]
        return MoreLikeThisQ(
            like_ids=ids, max_query_terms=body.get("max_query_terms", 25),
            min_doc_freq=body.get("min_doc_freq", 1),
        )
    if kind == "script":
        src, params = script_source(body.get("script", body))
        return ScriptQ(source=src, params=params)
    if kind == "wrapper":
        import base64
        import json as _json

        raw = body["query"]
        try:
            decoded = base64.b64decode(raw).decode()
        except Exception:  # noqa: BLE001 — plain JSON accepted too
            decoded = raw
        return parse(_json.loads(decoded))
    if kind == "nested":
        return NestedQ(
            path=body["path"], query=parse(body["query"]),
            score_mode=body.get("score_mode", "avg"),
        )
    if kind == "has_child":
        return HasChildQ(
            child_type=body["type"], query=parse(body["query"]),
            join_field=body.get("join_field", "join_type"),
            parent_field=body.get("parent_field", "parent_id"),
            score_mode=body.get("score_mode", "none"),
            min_children=int(body.get("min_children", 1)),
            max_children=body.get("max_children"),
        )
    if kind == "has_parent":
        return HasParentQ(
            parent_type=body["parent_type"], query=parse(body["query"]),
            join_field=body.get("join_field", "join_type"),
            parent_field=body.get("parent_field", "parent_id"),
            score=bool(body.get("score", False)),
        )
    if kind == "geo_distance":
        (fld, origin), = ((k, v) for k, v in body.items() if k != "distance")
        return GeoDistanceQ(
            fld, lat=float(origin["lat"]), lon=float(origin["lon"]),
            distance_m=_parse_distance_m(body["distance"]),
        )
    if kind == "geo_bounding_box":
        (fld, box), = body.items()
        return GeoBoundingBoxQ(
            fld, top=box["top_left"]["lat"], left=box["top_left"]["lon"],
            bottom=box["bottom_right"]["lat"], right=box["bottom_right"]["lon"],
        )
    if kind == "geo_polygon":
        (fld, spec2), = body.items()
        pts = [
            (p["lat"], p["lon"]) if isinstance(p, dict) else tuple(p)
            for p in spec2["points"]
        ]
        return GeoPolygonQ(fld, points=pts)
    if kind == "geo_shape":
        # GeoShapeQueryBuilder: dispatches at predicate time on the FIELD's
        # storage — a string column holds stored GeoJSON shapes (the
        # geo_shape field type, full intersects/disjoint/within/contains
        # via plans/fields.shape_relate_col with a bbox prefilter); a
        # struct lat/lon column is a point field, where the query geometry
        # reduces to the corresponding point predicate.
        (fld, spec2), = body.items()
        return GeoShapeQ(fld, spec=spec2)
    if kind == "sparse_vector":
        return SparseVectorQ(
            body["field"],
            query_vector=dict(body.get("query_vector") or {}),
            boost=body.get("boost", 1.0),
        )
    if kind == "rank_feature":
        fld = body["field"]
        sat = body.get("saturation") or {}
        logb = body.get("log") or {}
        sig = body.get("sigmoid") or {}
        return RankFeatureQ(
            fld,
            saturation_pivot=sat.get("pivot"),
            log_scaling=logb.get("scaling_factor"),
            sigmoid_pivot=sig.get("pivot"),
            sigmoid_exp=sig.get("exponent"),
            boost=body.get("boost", 1.0),
        )
    if kind == "query_string":
        return parse_query_string(body["query"], body.get("default_field", "text"),
                                  body.get("default_operator", "or"))
    if kind == "simple_query_string":
        return parse_simple_query_string(
            body["query"], body.get("default_field", "text"),
            body.get("default_operator", "or"))
    raise ValueError(f"unsupported query kind: {kind}")


# rerank scorers for text_similarity_reranker, keyed by inference_id —
# (doc_text_column, inference_text) → score Column. Production drop-in: a
# Pandas-UDF scorer wrapping a served model. The default stands in for the
# model with a deterministic lexical containment score.
RERANK_SCORERS: dict[str, "object"] = {}


def register_rerank_scorer(inference_id: str, scorer) -> None:
    RERANK_SCORERS[inference_id] = scorer


def lexical_overlap_scorer(doc_col: Column, inference_text: str) -> Column:
    """Default rerank scorer: |query_tokens ∩ doc_tokens| / |query_tokens|
    — monotone in term containment, bounded [0,1], pure JVM expressions."""
    qtoks = sorted({t for t in re.split(r"[^a-z0-9]+", inference_text.lower()) if t})
    if not qtoks:
        return F.lit(0.0)
    doc_toks = F.split(F.lower(F.coalesce(doc_col, F.lit(""))), r"[^a-z0-9]+")
    hits = F.size(F.array_intersect(doc_toks, F.array(*[F.lit(t) for t in qtoks])))
    return hits.cast("double") / F.lit(float(len(qtoks)))


def _flatten_sort(sort_spec) -> list:
    """ES sort normalization shared by every consumer: a bare string/object
    becomes a one-element list, and each key of a multi-key sort object is
    its own sort entry (FieldSortBuilder parses them independently)."""
    if isinstance(sort_spec, (str, dict)):
        sort_spec = [sort_spec]
    out = []
    for s in sort_spec:
        if isinstance(s, dict) and len(s) > 1:
            out.extend({k: v} for k, v in s.items())
        else:
            out.append(s)
    return out


def _sort_cols(sort_spec, key: str) -> list[Column]:
    """ES sort list → Spark order columns (FieldSortBuilder semantics:
    missing last by default, deterministic key tie-break appended).
    Also `_geo_distance` (GeoDistanceSortBuilder.java: haversine to an
    origin over a struct<lat,lon> column) and `_script`
    (ScriptSortBuilder.java: SQL-expression sort key)."""
    sort_spec = _flatten_sort(sort_spec)
    order = []
    for s in sort_spec:
        if s == "_score":
            order.append(F.desc("_score"))
            continue
        (sf, sd), = s.items() if isinstance(s, dict) else ((s, "asc"),)
        d = sd.get("order", "asc") if isinstance(sd, dict) else sd
        if sf == "_geo_distance":
            (fld, origin), = ((k, v) for k, v in sd.items() if k not in ("order", "unit"))
            c = _haversine_m(
                F.col(f"{fld}.lat"), F.col(f"{fld}.lon"),
                float(origin["lat"]), float(origin["lon"]),
            )
        elif sf == "_script":
            # ScriptSortBuilder declares its result type ("number"/"string")
            src, sparams = script_source(sd["script"] if isinstance(sd, dict) else sd)
            stype = sd.get("type", "number") if isinstance(sd, dict) else "number"
            c = script_col(None, src, sparams,
                           ret_type="double" if stype == "number" else "string")
        elif sf == "_shard_doc":
            # PIT tiebreaker sort (ShardDocSortField): any consistent
            # total order works for paging — the doc key is one and is
            # always present in the hit frame
            c = F.col(key)
        else:
            c = F.col("_score") if sf == "_score" else F.col(sf)
        order.append(c.desc_nulls_last() if d == "desc" else c.asc_nulls_last())
    order.append(F.asc(key))
    return order


def _strip_names(x):
    """Deep copy with every ``_name`` key removed (no recording)."""
    if isinstance(x, list):
        return [_strip_names(v) for v in x]
    if isinstance(x, dict):
        return {k: _strip_names(v) for k, v in x.items() if k != "_name"}
    return x


# compound query kinds whose bodies hold nested QUERY dicts (and where)
_NAMED_RECURSE = {
    "bool": ("must", "should", "filter", "must_not"),
    "dis_max": ("queries",),
    "boosting": ("positive", "negative"),
    "constant_score": ("filter",),
    "function_score": ("query",),
    "script_score": ("query",),
    "nested": ("query",),
    "has_child": ("query",),
    "has_parent": ("query",),
}


def _collect_named(q, named: list):
    """Deep-copy one QUERY node, stripping every ``_name`` and recording
    (name, query-without-names) pairs. ``_name`` may sit directly in the
    query body (bool/match_all style) or one level down in the field spec
    ({"term": {"f": {"value": v, "_name": n}}})."""
    if not isinstance(q, dict) or len(q) != 1:
        return _strip_names(q)
    (kind, body), = q.items()
    if not isinstance(body, dict):
        return {kind: body}
    nm = body.get("_name")
    if nm is None:
        for v in body.values():
            if isinstance(v, dict) and "_name" in v:
                nm = v["_name"]
                break
    if kind in _NAMED_RECURSE:
        new_body = {}
        for k, v in body.items():
            if k == "_name":
                continue
            if k in _NAMED_RECURSE[kind]:
                new_body[k] = (
                    [_collect_named(c, named) for c in v]
                    if isinstance(v, list)
                    else _collect_named(v, named)
                )
            else:
                new_body[k] = _strip_names(v)
        clean = {kind: new_body}
    else:
        clean = {kind: _strip_names(body)}
    if nm is not None:
        named.append((nm, clean))
    return clean


def search(
    spark: SparkSession,
    df: DataFrame,
    body: dict,
    key: str = "doc_id",
    text_col: str = "text",
    kw_norm: dict | None = None,
    *,
    index: object | None = None,
) -> DataFrame:
    """Run a DSL search body over an arbitrary corpus frame — the
    query_then_fetch lifecycle. Supported body keys: query, size, from,
    sort (field sorts, FieldSortBuilder), search_after (keyset pagination,
    SearchAfterBuilder.java:97), rescore (top-window re-rank,
    QueryRescorer.java:66), _source (column projection).

    ``index`` is the Engine's ``SearchContext.index`` when ``df`` is an
    index's docs view; over a raw frame it stays None."""
    # runtime fields (RuntimeField.java / `runtime_mappings`): query-time
    # computed columns — SQL-expression Painless analog, visible to the
    # query, sort, and _source of THIS search only
    for rname, rspec in (body.get("runtime_mappings") or {}).items():
        if isinstance(rspec, dict) and rspec.get("type") == "lookup":
            continue  # enriched by the engine layer (broadcast join against
            # the target index — Engine._apply_lookup_field); a null shadow
            # column here would mask the joined values
        df = df.withColumn(rname, runtime_field_expr(rspec))

    # sliced scroll/search (SliceBuilder.java): slice i of m partitions the
    # corpus by hash(id) — the m slices are disjoint and exhaustive, so m
    # parallel consumers each drain 1/m of the result set
    if "slice" in body:
        sl = body["slice"]
        df = df.where(
            F.pmod(
                F.xxhash64(F.col(sl.get("field", key)).cast("string")),
                F.lit(int(sl["max"])),
            )
            == int(sl["id"])
        )

    # post_filter (SearchSourceBuilder.postQueryBuilder): narrows the HITS
    # only, after scoring and before pagination — aggregations (computed
    # by the caller from the base frame) AND scoring stats (df/avgdl from
    # the full corpus) are unaffected, exactly the reference's faceted-
    # navigation semantics. Applied to the fetched frame below.
    pf_node = parse(body["post_filter"]) if "post_filter" in body else None

    # named queries (AbstractQueryBuilder.queryName / `_name`): strip the
    # names from the tree, remember each named subquery, and after fetch
    # tag every hit with `matched_queries` — the names whose subquery
    # matches that doc (SearchHit.matchedQueries semantics)
    named: list[tuple[str, dict]] = []
    if "query" in body:
        body = dict(body)
        body["query"] = _collect_named(body["query"], named)

    ctx = SearchContext(df, key, text_col=text_col, kw_norm=kw_norm or {},
                        index=index)
    size = int(body.get("size", 10))
    from_ = int(body.get("from", 0))

    # knn (SearchSourceBuilder.knnSearch, ES 8.x top-level knn): exact
    # cosine top-k over a vector column (JVM zip_with/aggregate — the
    # brute-force scorer; the ANN path lives in operators/similarity.py).
    # With a `query` present, scores ADD (the reference's hybrid combine).
    def _knn_frame(kn: dict) -> DataFrame:
        vcol = F.col(kn["field"]).cast("array<double>")
        qv = F.array(*[F.lit(float(x)) for x in kn["query_vector"]])
        dot = F.aggregate(
            F.zip_with(vcol, qv, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
        )
        nrm = F.sqrt(F.aggregate(vcol, F.lit(0.0), lambda acc, x: acc + x * x)) * F.sqrt(
            F.aggregate(qv, F.lit(0.0), lambda acc, x: acc + x * x)
        )
        k_knn = int(kn.get("k", size))
        base_knn = df
        if "filter" in kn:
            # KnnSearchBuilder filter: PRE-filter — candidates are scored
            # only among docs passing the filter (not post-filtered top-k).
            # ES accepts a LIST of filters here (implicit AND).
            kf = kn["filter"]
            fnode = parse({"bool": {"filter": kf}} if isinstance(kf, list) else kf)
            base_knn = matching(fnode, ctx)
        out_knn = (
            base_knn.select(F.col(key).alias("__key"), (dot / nrm).alias("_score"))
            .orderBy(F.desc("_score"), F.asc("__key"))
            .limit(k_knn)
        )
        if "similarity" in kn:
            # KnnSearchBuilder similarity: minimum cosine a candidate must
            # reach to count as a hit (post-top-k cut, per the reference)
            out_knn = out_knn.where(F.col("_score") >= float(kn["similarity"]))
        return out_knn

    # retriever: {rrf: ...} (x-pack rank-rrf RRFRankBuilder.java / the ES 8.x
    # retriever tree): run each sub-retriever to its own ranked (key, score)
    # frame — all coordinator-small top-k results — and fuse by reciprocal
    # rank. The fused frame re-enters the normal fetch path below.
    retr_fr = None
    rmode = None
    if "retriever" in body:
        (rmode, rspec), = body["retriever"].items()
        # rescorer retriever (x-pack RescorerRetrieverBuilder.java): a rescore
        # stage stacked on an inner retriever — desugar to the plain search
        # shape (inner retriever/query + body-level rescore list) and fall
        # through to the normal paths. text_similarity_reranker (x-pack
        # TextSimilarityRankRetrieverBuilder.java) desugars the same way:
        # inner retriever unwraps, the rerank step is applied over the top
        # rank_window_size after fetch (see the __ts_rerank block below).
        while rmode in ("rescorer", "text_similarity_reranker"):
            body = dict(body)
            if rmode == "text_similarity_reranker":
                body["__ts_rerank"] = rspec
            else:
                rs = rspec["rescore"]
                body["rescore"] = (list(rs) if isinstance(rs, list) else [rs]) + (
                    body.get("rescore", []) if isinstance(body.get("rescore"), list)
                    else [body["rescore"]] if "rescore" in body else []
                )
            (ik, ib), = rspec["retriever"].items()
            if ik == "standard":
                body.pop("retriever")
                body["query"] = ib["query"]
            elif ik == "knn":
                body.pop("retriever")
                body["knn"] = ib
            else:
                body["retriever"] = rspec["retriever"]
            if "retriever" not in body:
                rmode = None
                break
            (rmode, rspec), = body["retriever"].items()
    if rmode is not None and "retriever" in body:
        from ..operators.rank import linear_fuse, rrf_fuse

        frames, weights = [], []
        for r in rspec.get("retrievers", []):
            if rmode == "linear" and "retriever" in r:
                # linear retriever wraps entries as {retriever: {...}, weight}
                weights.append(float(r.get("weight", 1.0)))
                (rk, rbody), = r["retriever"].items()
            else:
                weights.append(float(r.get("weight", 1.0)) if isinstance(r, dict) and "weight" in r else 1.0)
                (rk, rbody), = ((k2, v2) for k2, v2 in r.items() if k2 != "weight")
            if rk == "standard":
                frames.append(parse(rbody["query"]).frame(ctx).select("__key", "_score"))
            elif rk == "knn":
                frames.append(_knn_frame(rbody).select("__key", "_score"))
            else:
                raise ValueError(f"unsupported retriever: {rk}")
        if rmode == "rrf":
            fused = rrf_fuse(
                frames, id_col="__key", score_col="_score",
                rank_constant=int(rspec.get("rank_constant", 60)),
                rank_window_size=int(rspec.get("rank_window_size", 100)),
                k=size + from_,
            )
            retr_fr = fused.select("__key", F.col("rrf_score").alias("_score"))
        elif rmode == "linear":
            fused = linear_fuse(
                frames, id_col="__key", score_col="_score", weights=weights,
                normalizer=rspec.get("normalizer", "minmax"),
                rank_window_size=int(rspec.get("rank_window_size", 100)),
                k=size + from_,
            )
            retr_fr = fused.select("__key", F.col("linear_score").alias("_score"))
        else:
            raise ValueError(f"unsupported retriever mode: {rmode}")

    knn_fr = None
    if retr_fr is None and "knn" in body:
        knn_fr = _knn_frame(body["knn"])

    if retr_fr is not None:
        fr = retr_fr
    elif "query" in body or knn_fr is None:
        node = parse(body.get("query", {"match_all": {}}))
        fr = node.frame(ctx)
        if knn_fr is not None:
            fr = (
                fr.withColumnRenamed("_score", "_qs")
                .join(knn_fr.withColumnRenamed("_score", "_ks"), "__key", "full")
                .select(
                    "__key",
                    (F.coalesce(F.col("_qs"), F.lit(0.0)) + F.coalesce(F.col("_ks"), F.lit(0.0))).alias("_score"),
                )
            )
    else:
        fr = knn_fr

    fetched = fr.withColumnRenamed("__key", key).join(df, key)
    if pf_node is not None:
        fetched = matching(pf_node, ctx, fetched)

    if named:
        flags = []
        for i, (nm, subq) in enumerate(named):
            keys = parse(subq).filter_keys(ctx).withColumnRenamed("__key", key)
            flag = f"__mq_{i}"
            fetched = fetched.join(
                keys.withColumn(flag, F.lit(True)).dropDuplicates([key]), key, "left"
            )
            flags.append((nm, flag))
        fetched = fetched.withColumn(
            "matched_queries",
            F.filter(
                F.array(*[
                    F.when(F.col(fl), F.lit(nm)).otherwise(F.lit(None))
                    for nm, fl in flags
                ]),
                lambda x: x.isNotNull(),
            ),
        ).drop(*[fl for _, fl in flags])

    # rescore: combine primary score with a secondary query over the top
    # window only (narrower, costlier query — the reference's use case).
    # QueryRescorer.combine: the re-sorted WINDOW block stays FIRST (a hit
    # outside the window is never promoted above it, whatever its score),
    # the tail keeps its original order with score scaled by query_weight.
    if "rescore" in body:
        stages = body["rescore"]
        if isinstance(stages, dict):
            stages = [stages]
        srt = body.get("sort")
        if srt not in (None, ["_score"], "_score",
                       [{"_score": {"order": "desc"}}], [{"_score": "desc"}]):
            # the reference rejects rescore with any non-score sort
            raise ValueError("rescore cannot be combined with an explicit sort")
        fetched = fetched.withColumn(
            "__cur", F.row_number().over(Window.orderBy(F.desc("_score"), F.asc(key)))
        )
        for rs in stages:  # sequential windows, each over the previous ORDER
            window = int(rs.get("window_size", 10))
            rq = rs["query"]
            qw = float(rq.get("query_weight", 1.0))
            rqw = float(rq.get("rescore_query_weight", 1.0))
            sec = parse(rq["rescore_query"]).frame(ctx)
            sec = sec.withColumnRenamed("__key", key).withColumnRenamed("_score", "_rescore")
            in_w = F.col("__cur") <= window
            fetched = (
                fetched.join(sec, key, "left")
                .withColumn(
                    "_score",
                    F.when(
                        in_w,
                        qw * F.col("_score")
                        + rqw * F.coalesce(F.col("_rescore"), F.lit(0.0)),
                    ).otherwise(qw * F.col("_score")),
                )
                .drop("_rescore")
            )
            fetched = fetched.withColumn(
                "__cur",
                F.row_number().over(Window.orderBy(
                    F.when(in_w, F.lit(0)).otherwise(F.lit(1)).asc(),
                    F.when(in_w, F.col("_score")).otherwise(F.lit(None)).desc_nulls_last(),
                    F.when(~in_w, F.col("__cur")).otherwise(F.lit(None)).asc_nulls_first(),
                    F.asc(key),
                )),
            )

    # text_similarity_reranker retriever (x-pack
    # TextSimilarityRankRetrieverBuilder.java): rescore the top
    # rank_window_size hits by the similarity of `inference_text` to
    # `field`. The reference calls an inference endpoint; no model serves
    # in this environment, so the scorer is PLUGGABLE by inference_id
    # (register_rerank_scorer) with a deterministic lexical-overlap default
    # — documented stand-in, same retriever shape and window semantics.
    if "__ts_rerank" in body:
        rr = body["__ts_rerank"]
        window = int(rr.get("rank_window_size", 10))
        fld = rr.get("field", text_col)
        scorer = RERANK_SCORERS.get(rr.get("inference_id", ""), lexical_overlap_scorer)
        top_w = fetched.orderBy(F.desc("_score"), F.asc(key)).limit(window)
        fetched = top_w.withColumn(
            "_score", scorer(F.col(fld), rr["inference_text"])
        )

    # terminate_after (SearchSourceBuilder.terminateAfter): stop collecting
    # after N docs PER SHARD — per-partition head with early stop, zero
    # shuffle (each task stops reading its Arrow batches once satisfied)
    if "terminate_after" in body:
        n_term = int(body["terminate_after"])
        schema = fetched.schema

        def _head_fn(batches):
            left = n_term
            for pdf in batches:
                if left <= 0:
                    break
                take = pdf.head(left)
                left -= len(take)
                yield take

        fetched = fetched.mapInPandas(_head_fn, schema)

    # field collapse (CollapseBuilder.java): keep the best hit per collapse
    # key — window rank over the sort order within each group
    if "collapse" in body:
        cfield = body["collapse"]["field"]
        from pyspark.sql import Window as _W

        c_order = _sort_cols(body.get("sort", [{"_score": {"order": "desc"}}]), key)
        w = _W.partitionBy(cfield).orderBy(*c_order)
        fetched = (
            fetched.withColumn("__crank", F.row_number().over(w))
            .where(F.col("__crank") == 1)
            .drop("__crank")
        )

    sort_spec = _flatten_sort(body.get("sort", [{"_score": {"order": "desc"}}]))
    order = _sort_cols(sort_spec, key)
    if "rescore" in body:
        # the rescorer's window-first order IS the result order
        order = [F.col("__cur").asc()]

    # search_after: keyset pagination — strictly-after predicate on the
    # sort tuple (lexicographic comparison chain)
    if "search_after" in body:
        vals = body["search_after"]
        cols = []
        descs = []
        for s in sort_spec:
            (sf, sd), = s.items() if isinstance(s, dict) else ((s, "asc"),)
            d = sd.get("order", "asc") if isinstance(sd, dict) else sd
            if sf == "_score":
                cols.append(F.col("_score"))
            elif sf == "_shard_doc":
                cols.append(F.col(key))  # PIT tiebreaker = the doc key order
            else:
                cols.append(F.col(sf))
            descs.append(d == "desc")
        cols.append(F.col(key))
        descs.append(False)
        pred = F.lit(False)
        for i in range(len(vals), 0, -1):
            eq = F.lit(True)
            for j in range(i - 1):
                eq = eq & (cols[j] == F.lit(vals[j]))
            strict = (cols[i - 1] < F.lit(vals[i - 1])) if descs[i - 1] else (cols[i - 1] > F.lit(vals[i - 1]))
            pred = pred | (eq & strict)
        fetched = fetched.where(pred)

    # min_score (SearchSourceBuilder.minScore / MinScorePhase): drop hits
    # scoring below the floor BEFORE pagination — a pushed-down predicate
    if "min_score" in body:
        fetched = fetched.where(F.col("_score") >= float(body["min_score"]))

    # from/size pagination stays IN-PLAN (no driver collect): ordered
    # offset+limit compiles to a single coordinator-side window — the
    # from+size ≤ 10k ES window bound keeps it tiny
    out = fetched.orderBy(*order)
    if from_:
        out = out.offset(from_)
    out = out.limit(size)
    if "__cur" in out.columns:
        out = out.drop("__cur")
    # script_fields (SearchSourceBuilder.scriptField / ScriptFieldsPhase):
    # per-hit computed fields — fetch-phase withColumns over the (already
    # top-k-small) result frame, sharing the Painless-analog script expansion
    for sf_name, sf_spec in (body.get("script_fields") or {}).items():
        src, params = script_source(
            sf_spec.get("script", sf_spec) if isinstance(sf_spec, dict) else sf_spec
        )
        from ..functions import painless as P

        if P.is_painless(src):
            # Painless-path script fields infer the return type from one
            # trial execution (the frame here is already top-k small)
            rt = _infer_painless_ret(out, src, params)
            out = out.withColumn(
                sf_name, P.script_column(out, src, params, ret_type=rt))
        else:
            out = out.withColumn(sf_name, F.expr(expand_script(src, params)))

    if "_source" in body and body["_source"] is not True:
        # FetchSourceContext.java: list form = includes (a bare string is a
        # one-pattern list); dict form = includes/excludes with * wildcards;
        # false = metadata only; true = full source (handled above as the
        # no-op it is). Column pruning here reaches the parquet scan
        # (ReadSchema).
        src = body["_source"]
        if isinstance(src, str):
            src = [src]

        def _match(col: str, pats: list[str]) -> bool:
            return any(
                re.fullmatch(re.escape(p).replace(r"\*", ".*"), col) for p in pats
            )

        script_cols = list(body.get("script_fields") or {})
        # the hit ENVELOPE always survives _source filtering — the reference
        # filters the _source document, not hit metadata
        envelope = [key, "url", "_score", "_index", "_ccs_key",
                    "matched_queries", "highlight", "_rank"] + script_cols
        if src is False:
            keep = envelope
        elif isinstance(src, dict):
            inc = src.get("includes") or ["*"]
            exc = src.get("excludes") or []
            keep = envelope + [
                c for c in df.columns
                if _match(c, inc) and not _match(c, exc)
            ]
        else:
            keep = envelope + [
                c for c in df.columns if _match(c, list(src))
            ]
        out = out.select(*dict.fromkeys(k for k in keep if k in out.columns))
    return out

"""Percolator: reverse search (alerting) — which STORED queries match each
incoming document.

The reference keeps queries indexed in a percolator field; at index time it
EXTRACTS each query's terms into hidden fields (``modules/percolator/src/main/
java/org/elasticsearch/percolator/QueryAnalyzer.java:445`` via
``PercolatorFieldMapper.java:444``) and at percolate time pre-filters the
stored queries with a covering candidate query built from the incoming
document's terms (``PercolateQuery.java`` candidateQuery) — only candidates
are run against the per-doc MemoryIndex, and extractions flagged *verified*
skip even that (``verified_candidate_queries`` semantics).

This module implements BOTH shapes Spark-first:

- **small stored-query sets** (alerting rules): queries are compiled ONCE on
  the driver into predicate Columns and evaluated as chunked wide projections
  over the documents frame — one scan per chunk, zero shuffle, every
  predicate JVM-side whole-stage-codegen. Also the only streaming-legal
  shape (pure projection, no aggregation).
- **large stored-query sets** (``prune=True`` / auto for DataFrame input):
  the QueryAnalyzer analog. Stored queries are term-extracted DISTRIBUTED
  (mapInPandas over the queries frame — never driver-collected wholesale)
  into a ``(query_id, field, term, verified)`` table; candidate (doc, query)
  pairs come from ONE join of the documents' analyzed tokens against that
  table; *verified* extractions (term/terms/pure-OR match…) pass through as
  matches with no evaluation at all; only the unverified candidates (bounded
  by actual term collisions, independent of stored-query count) plus the
  un-analyzable remainder are compiled and evaluated. Driver memory is
  O(candidate queries), not O(stored queries); the doc frame is scanned
  once for tokens plus once per 200 compiled candidates (vs Q/200 passes
  before).

At 100 TB: the candidate join is docs-tokens (big, one pass, no shuffle with
the broadcast qterms side) → shuffle only over the collision pairs.
"""

from __future__ import annotations

import functools
import json
import operator
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..plans import dsl

# introspection for tests/bench: stats of the LAST COMPLETED pruned
# percolate call — concurrent percolates (async-search pool) each replace
# it atomically under _PRUNE_LOCK, so a reader sees one call's stats,
# whole, though which call wins is scheduling order
PRUNE_STATS: dict = {}
_PRUNE_LOCK = __import__("threading").Lock()

# broadcast the extracted-terms table only under this row count —
# extraction terms are O(stored queries × terms/query), and at ~10M
# stored queries the broadcast would exceed sensible driver/executor
# limits; above it the candidate join falls back to a shuffle join
BROADCAST_QTERMS_MAX = 1_000_000

# column types whose CAST(x AS STRING) does not round-trip the DSL literal
# (timestamp formats, binary, decimal trailing zeros): term extractions on
# these fields are demoted to evaluate-against-all-docs
_UNPRUNABLE_TYPE = re.compile(r"^(timestamp|date|binary|decimal)")

# string literals on a typed column compare through try_cast in the compile
# path ("1e3" hits 1000.0, "yes" hits true), but the doc side surfaces only
# CAST-to-STRING and canonical integer forms; a literal spelled any other
# way is demoted to full evaluation. Integer digits are capped below each
# type's exact range (float32 7 digits, double 15)
_CANON_LITERAL = {
    "boolean": r"^(true|false)$",
    "float": r"^(0|-?[1-9][0-9]{0,5})$",
    "double": r"^(0|-?[1-9][0-9]{0,14})$",
}
_CANON_INTEGER = r"^(0|-?[1-9][0-9]{0,17})$"  # tinyint … bigint


# --------------------------------------------------------------------------
# QueryAnalyzer analog: extract the necessary-condition term disjunction
# --------------------------------------------------------------------------

@dataclass(frozen=True)
class Extraction:
    """Necessary-condition disjunction: a doc matching the query MUST
    contain at least one ``(field, term, kind)`` from ``terms`` — kind
    ``"raw"`` for STRING-literal term-level equality (byte equality with
    the doc's raw value), ``"num"`` for NON-string term literals (the
    literal's canonical integer/bool string vs the doc value's canonical
    form — term 3 must hit double 3.0 and scalar-string "3.0", which
    compare equal through Spark's numeric casts, but string literal "3"
    must NOT), ``"tok"`` for match-family containment (an analyzed
    token). The candidate join matches kinds, so a term query for ``en``
    can NEVER collide with the analyzed token ``en`` inside ``en-US``,
    and numeric aliasing never leaks into string equality. ``verified`` =
    the converse also holds (any extraction term present ⟹ the query
    matches), so candidate pairs are matches with no evaluation —
    QueryAnalyzer.Result.verified."""

    terms: tuple  # ((field, term, kind), ...)
    verified: bool


def _lit_kind(v) -> str:
    """Extraction kind of a term-level literal: string literals compare
    by byte equality (``raw``), everything else through the canonical
    numeric/bool form (``num``)."""
    return "raw" if isinstance(v, str) else "num"


_NOTHING = Extraction((), True)  # clause can match no document


def _term_str(v) -> str | None:
    """Canonical string of a term-level literal; None = not
    canonicalizable (non-integral float …) → caller goes unanalyzable.
    Shared with the compile path (plans/dsl.term_lit_str) so pruned
    candidates and compiled predicates agree on the same form."""
    return dsl.term_lit_str(v)


def _union(subs: list[Extraction | None]) -> Extraction | None:
    """Disjunction of clauses: any unanalyzable branch poisons the whole."""
    if any(s is None for s in subs):
        return None
    terms: list = []
    for s in subs:
        terms.extend(s.terms)
    return Extraction(tuple(dict.fromkeys(terms)), all(s.verified for s in subs))


def _best(pool: list[Extraction]) -> Extraction:
    """Conjunction clause selection (QueryAnalyzer.selectBestResult): the
    fewest-terms clause wins (a matches-nothing clause short-circuits);
    ties prefer longer minimum terms (rarer, better pruning)."""
    for r in pool:
        if not r.terms:
            return _NOTHING
    return min(pool, key=lambda r: (len(r.terms), -min(len(t[1]) for t in r.terms)))


def extract(node, analyze, key: str) -> Extraction | None:
    """QueryAnalyzer.analyze analog over the parsed DSL AST. ``analyze`` is
    the text-analysis function (query-side tokens for match-family leaves);
    ``key`` names the doc-key column (``ids`` queries extract onto it).
    Returns None when no sound extraction exists (range/wildcard/script/
    match_all/fuzzy…) — those queries are evaluated against every doc, the
    reference's UnsupportedQueryException → MatchAllDocs candidate path."""
    d = dsl
    if isinstance(node, d.MatchNone):
        return _NOTHING
    if isinstance(node, d.TermQ):
        t = _term_str(node.value)
        if node.case_insensitive or t is None:
            return None
        return Extraction(((node.fld, t, _lit_kind(node.value)),), True)
    if isinstance(node, d.TermsQ):
        ts = [(_term_str(v), _lit_kind(v)) for v in node.values]
        if any(t is None for t, _ in ts):
            return None
        return Extraction(tuple((node.fld, t, k)
                                for t, k in dict.fromkeys(ts)), True)
    if isinstance(node, d.TermsSetQ):
        if node.min_match < 1:
            return None  # min_match 0 matches everything — unanalyzable
        ts = [(_term_str(v), _lit_kind(v)) for v in node.values]
        if any(t is None for t, _ in ts):
            return None
        return Extraction(tuple((node.fld, t, k)
                                for t, k in dict.fromkeys(ts)),
                          node.min_match <= 1)
    if isinstance(node, d.IdsQ):
        ts = [(_term_str(v), _lit_kind(v)) for v in node.values]
        if any(t is None for t, _ in ts):
            return None
        return Extraction(tuple((key, t, k)
                                for t, k in dict.fromkeys(ts)), True)
    if isinstance(node, d.MatchQ):
        toks = list(dict.fromkeys(analyze(node.query)))
        if not toks:
            return _NOTHING  # zero_terms_query: none — predicate is False
        need = (len(toks) if node.operator == "and"
                else d.resolve_msm(node.minimum_should_match, len(toks)))
        if need <= 0:
            return None  # msm 0 ⇒ every doc matches
        return Extraction(tuple((node.fld, t, "tok") for t in toks), need == 1)
    if isinstance(node, d.MatchPhraseQ):
        toks = analyze(node.query)
        if not toks:
            return _NOTHING
        uniq = list(dict.fromkeys(toks))
        return Extraction(tuple((node.fld, t, "tok") for t in uniq),
                          len(toks) == 1)  # 1-token phrase ≡ containment
    if isinstance(node, d.MatchPhrasePrefixQ):
        toks = analyze(node.query)
        if not toks:
            return _NOTHING
        fixed = list(dict.fromkeys(toks[:-1]))
        if not fixed:
            return None  # prefix-only: no exact-term requirement
        return Extraction(tuple((node.fld, t, "tok") for t in fixed), False)
    if isinstance(node, d.CommonTermsQ):
        toks = list(dict.fromkeys(analyze(node.query)))
        if not toks:
            return _NOTHING
        return Extraction(tuple((node.fld, t, "tok") for t in toks), False)
    if isinstance(node, (d.MultiMatchQ, d.CombinedFieldsQ)):
        toks = list(dict.fromkeys(analyze(node.query)))
        if not toks:
            return _NOTHING
        flds = [str(f).split("^")[0] for f in node.flds]
        return Extraction(tuple((f, t, "tok")
                                for f in flds for t in toks), False)
    if isinstance(node, d.ConstantScoreQ):
        return extract(node.filter_q, analyze, key) if node.filter_q else None
    if isinstance(node, d.DisMaxQ):
        return _union([extract(q, analyze, key) for q in node.queries])
    if isinstance(node, d.PinnedQ):
        org = extract(node.organic, analyze, key) if node.organic else None
        if org is None:
            return None
        ids = [(_term_str(v), _lit_kind(v)) for v in node.ids]
        if any(t is None for t, _ in ids):
            return None
        return Extraction(tuple(dict.fromkeys(
            [(key, t, k) for t, k in ids] + list(org.terms))), org.verified)
    if isinstance(node, d.BoostingQ):
        # negative only demotes score; the match set is the positive's
        pos = extract(node.positive, analyze, key) if node.positive else None
        return Extraction(pos.terms, pos.verified) if pos else None
    if isinstance(node, d.FunctionScoreQ):
        # functions rescale; matching is the wrapped query's (min_score can
        # shrink it, so never verified)
        inner = extract(node.query, analyze, key) if node.query else None
        return Extraction(inner.terms, False) if inner else None
    if isinstance(node, d.BoolQ):
        must = [extract(c, analyze, key) for c in node.must + node.filter]
        msm = node._msm()
        should_ex = None
        should_required = bool(node.should) and msm >= 1
        if should_required:
            if msm > len(node.should):
                return _NOTHING  # unsatisfiable minimum_should_match
            subs = [extract(c, analyze, key) for c in node.should]
            should_ex = _union(subs)
            if should_ex is not None and msm > 1:
                should_ex = Extraction(should_ex.terms, False)
        pool = [x for x in must if x is not None]
        if should_ex is not None:
            pool.append(should_ex)
        if not pool:
            return None  # nothing analyzable (or pure must_not)
        best = _best(pool)
        if not best.terms:
            return _NOTHING
        verified = False
        if not node.must_not:
            n_conj = len(node.must) + len(node.filter)
            if n_conj == 1 and not should_required and must[0] is not None:
                verified = must[0].verified
            elif n_conj == 0 and should_ex is not None and len(pool) == 1:
                verified = should_ex.verified
        return Extraction(best.terms, verified)
    return None  # range/exists/prefix/wildcard/regexp/fuzzy/script/geo/…


# --------------------------------------------------------------------------
# term tables (distributed)
# --------------------------------------------------------------------------

_QX_SCHEMA = ("query_id string, field string, term string, kind string, "
              "verified boolean, unanalyzable boolean")


def _extract_one(qid: str, q: dict, analyze, key: str):
    """Rows for one stored query: its extraction terms, or one
    unanalyzable marker row. A matches-nothing extraction yields no rows
    (the query can never match, so it never appears)."""
    try:
        ex = extract(dsl.parse(q), analyze, key)
    except Exception:
        ex = None
    if ex is None:
        return [(qid, None, None, None, False, True)]
    return [(qid, f, t, k, ex.verified, False) for f, t, k in ex.terms]


def _qterms_from_df(stored: DataFrame, analyzer_regex: str, key: str) -> DataFrame:
    """(query_id, field, term, verified, unanalyzable) built on executors —
    the stored-query frame is never collected to the driver."""
    import pandas as pd

    def run(batches):
        def analyze(text):
            return re.findall(analyzer_regex, str(text).lower())

        for pdf in batches:
            rows: list = []
            for qid, qj in zip(pdf["query_id"], pdf["query_json"]):
                if qj is None:
                    continue
                q = json.loads(qj) if isinstance(qj, str) else qj
                rows.extend(_extract_one(qid, q, analyze, key))
            yield pd.DataFrame(rows, columns=[
                "query_id", "field", "term", "kind", "verified",
                "unanalyzable"])

    return stored.mapInPandas(run, _QX_SCHEMA)


def _doc_terms(docs: DataFrame, key: str, fields: list[str],
               analyzer_regex: str) -> tuple[DataFrame, Column | None]:
    """One-pass (doc key, field, term, kind) token table over the
    referenced fields, kinds mirroring the Extraction kinds so exact,
    numeric-equality, and containment semantics never cross:

    - ``raw`` (string-literal equality): CAST-to-STRING values verbatim
      (array columns contribute their elements); numeric/bool columns
      also surface canonical integer forms, because the compile path's
      ``doublecol == lit("3")`` compares numerically (string literal "3"
      hits double 3.0);
    - ``num`` (non-string literal equality): the values' canonical
      integer/bool forms — scalar STRING columns surface the canonical
      form of numeric-looking values ("3.0"/"1e3" → "3"/"1000", matching
      the compile path's exact string→decimal cast) and of
      boolean-looking ones ("1"/"yes" → "true", the compile path's
      try_cast('boolean')), numeric columns surface both forms;
      array<string> columns surface their elements verbatim (the compile
      path compares the literal's canonical string to elements
      byte-exactly, dsl._term_lit);
    - ``tok``: analyzed tokens (match-family containment).

    Non-integral values never alias (3.7 is skipped, never "3"). Returns
    the frame and a predicate over extraction rows (field, term, kind)
    that is true where the table can't mirror the compile path — fields
    whose type's string cast can't mirror DSL literals, and string
    literals on typed fields outside ``_CANON_LITERAL``; the caller
    demotes those queries to full evaluation (None = nothing to demote)."""
    entries = []
    unsound: list[Column] = []
    for f in fields:
        try:
            dt = docs.select(F.col(f)).schema[0].dataType.simpleString()
        except Exception:
            continue  # field absent from the doc frame → no candidates
        if _UNPRUNABLE_TYPE.match(dt):
            unsound.append(F.col("field") == f)
            continue
        is_arr = dt.startswith("array<")
        elem = dt[6:-1] if is_arr else dt
        if elem != "string":
            # float/double columns demote num literals past the type's
            # exact integer range too: the compile path rounds them to the
            # column type (2**53 + 1 == 2**53 on a double), the canonical
            # integer forms here would not
            kinds = ["raw", "num"] if elem in ("float", "double") else ["raw"]
            canon_lit = _CANON_LITERAL.get(elem, _CANON_INTEGER)
            unsound.append((F.col("field") == f) & F.col("kind").isin(kinds)
                           & ~F.col("term").rlike(canon_lit))
        if is_arr:
            raws = F.col(f).cast("array<string>")
            text = F.array_join(raws, " ")
        else:
            raws = F.array(F.col(f).cast("string"))
            text = F.col(f).cast("string")
        toks = F.regexp_extract_all(F.lower(text), F.lit(analyzer_regex), F.lit(0))
        # canonical integer form of every integral-numeric value, parsed
        # the way the compile path compares: exactly for string columns
        # (dsl.EXACT_NUM), as doubles for numeric ones (try_cast: ANSI mode
        # must not throw on non-numeric strings, and int64-overflowing
        # values drop out as null)
        num = dsl.EXACT_NUM if elem == "string" else "double"
        canon = F.array_compact(F.transform(
            raws, lambda x: F.when(
                x.try_cast(num) == x.try_cast(num).try_cast("bigint").try_cast(num),
                x.try_cast(num).try_cast("bigint").cast("string"))))
        if elem == "string":
            raw_terms = raws
            num_terms = raws if is_arr else F.concat(
                canon, F.array(F.col(f).try_cast("boolean").cast("string")))
        else:
            raw_terms = num_terms = F.concat(raws, canon)
        entries.append(F.struct(
            F.lit(f).alias("field"), F.lit("raw").alias("kind"),
            F.array_distinct(F.array_compact(raw_terms)).alias("terms")))
        entries.append(F.struct(
            F.lit(f).alias("field"), F.lit("num").alias("kind"),
            F.array_distinct(F.array_compact(num_terms)).alias("terms")))
        entries.append(F.struct(
            F.lit(f).alias("field"), F.lit("tok").alias("kind"),
            F.array_distinct(F.array_compact(toks)).alias("terms")))
    demote = functools.reduce(operator.or_, unsound) if unsound else None
    if not entries:
        empty = docs.where(F.lit(False))
        return (empty.select(F.col(key), F.lit("").alias("field"),
                             F.lit("").alias("term"),
                             F.lit("").alias("kind")), demote)
    return (
        docs.select(F.col(key), F.explode(F.array(*entries)).alias("e"))
        .select(F.col(key), F.col("e.field").alias("field"),
                F.col("e.kind").alias("kind"),
                F.explode("e.terms").alias("term")),
        demote,
    )


# --------------------------------------------------------------------------
# evaluation (shared by both paths)
# --------------------------------------------------------------------------

def _query_fields(queries: list[dict]) -> set[str]:
    """Field names a list of DSL query dicts references at their leaves —
    the candidate-doc padding set (a conservative superset is fine:
    padded-but-unused null columns cost nothing)."""
    leaf_kinds = frozenset({
        "term", "terms", "match", "match_phrase", "match_phrase_prefix",
        "match_bool_prefix", "prefix", "wildcard", "regexp", "fuzzy",
        "range", "intervals", "terms_set",
    })
    field_key_kinds = frozenset({
        "exists", "distance_feature", "rank_feature", "collapse",
    })
    out: set[str] = set()

    def walk(q):
        if isinstance(q, list):
            for x in q:
                walk(x)
            return
        if not isinstance(q, dict):
            return
        for kind, body in q.items():
            if kind in leaf_kinds and isinstance(body, dict) and body:
                out.add(next(iter(body)))
            elif kind in field_key_kinds and isinstance(body, dict):
                out.add(body.get("field", ""))
            elif kind in ("multi_match", "combined_fields", "query_string",
                          "simple_query_string") and isinstance(body, dict):
                out.update(str(f).split("^")[0]
                           for f in body.get("fields", []))
                if body.get("default_field"):
                    out.add(body["default_field"])
            else:
                walk(body)

    walk(queries)
    return {f for f in out if f}


def _pad_fields(docs: DataFrame, queries: list[dict]) -> DataFrame:
    """Null string columns for fields the queries reference but the doc
    frame lacks (stored queries routinely reference fields a candidate doc
    simply doesn't have — they must compile and not match)."""
    have = set(docs.columns)
    for f in sorted(_query_fields(queries)):
        if f not in have and re.fullmatch(r"[\w.]+", f):
            docs = docs.withColumn(f, F.lit(None).cast("string"))
    return docs


def _eval_chunked(docs: DataFrame, rows: list[tuple[str, dict]], key: str,
                  text_col: str, chunk_size: int,
                  keep_cols: list[str] | None) -> DataFrame | None:
    """Compile ``rows`` driver-side and evaluate as chunked wide
    projections (filter context). Returns None for an empty query list."""
    ctx = dsl.SearchContext(docs, key, text_col=text_col)
    out: DataFrame | None = None
    for i in range(0, len(rows), chunk_size):
        chunk = rows[i: i + chunk_size]
        hit_ids = F.array_compact(F.array(*[
            F.when(F.coalesce(dsl.parse(q).predicate(ctx), F.lit(False)), F.lit(qid))
            for qid, q in chunk
        ]))
        extra = [F.col(c) for c in (keep_cols or [])]
        part = (
            docs.select(F.col(key), *extra, hit_ids.alias("__qids"))
            .where(F.size("__qids") > 0)
            .select(F.explode("__qids").alias("query_id"), F.col(key), *extra)
        )
        out = part if out is None else out.unionByName(part)
    return out


def _empty_result(docs: DataFrame, key: str,
                  keep_cols: list[str] | None) -> DataFrame:
    # where(lit(False)) instead of limit(0) because limit is not supported
    # on STREAMING frames (percolate_stream/run_watch hit this whenever a
    # watch list is currently empty)
    return docs.where(F.lit(False)).select(
        F.lit("").alias("query_id"), F.col(key),
        *[F.col(c) for c in (keep_cols or [])])


# --------------------------------------------------------------------------
# entry points
# --------------------------------------------------------------------------

def percolate(
    docs: DataFrame,
    stored_queries: list[tuple[str, dict]] | DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 200,
    keep_cols: list[str] | None = None,
    prune: bool | None = None,
) -> DataFrame:
    """(query_id, doc key [, keep_cols...]) pairs for every stored query
    matching each doc. Queries evaluate in FILTER context (unscored), the
    percolator's matching semantics.

    ``prune`` selects the QueryAnalyzer-analog candidate path
    (``percolate_pruned``): default on for DataFrame(query_id, query_json)
    input and for lists larger than 2×chunk_size, off for streaming doc
    frames (the pruned path aggregates, which a stream projection cannot).
    ``keep_cols`` ride through (needed by streaming callers, where a
    post-hoc join back to the stream would be a stream-stream join)."""
    is_df = isinstance(stored_queries, DataFrame)
    if prune is None:
        prune = not docs.isStreaming and (
            is_df or len(stored_queries) > 2 * chunk_size)
    if prune:
        if not is_df:
            spark = docs.sparkSession
            stored_queries = spark.createDataFrame(
                [(qid, json.dumps(q) if isinstance(q, dict) else q)
                 for qid, q in stored_queries],
                "query_id string, query_json string")
        return percolate_pruned(docs, stored_queries, key=key,
                                text_col=text_col, chunk_size=chunk_size,
                                keep_cols=keep_cols)
    if is_df:
        rows = [
            (r["query_id"], json.loads(r["query_json"]))
            for r in stored_queries.collect()
        ]
    else:
        rows = [(qid, q if isinstance(q, dict) else json.loads(q))
                for qid, q in stored_queries]
    # fields a query references but the doc frame lacks read as null —
    # the query compiles and simply doesn't match (reference semantics)
    docs = _pad_fields(docs, [q for _, q in rows])
    out = _eval_chunked(docs, rows, key, text_col, chunk_size, keep_cols)
    return out if out is not None else _empty_result(docs, key, keep_cols)


def percolate_pruned(
    docs: DataFrame,
    stored_queries: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 200,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """The QueryAnalyzer-analog path (see module docstring): term-extract
    stored queries distributed, shortlist (doc, query) candidates with one
    token join, pass verified candidates straight through, compile and
    evaluate ONLY the unverified candidates + the unanalyzable remainder.

    Driver memory: O(distinct candidate queries + unanalyzable queries) —
    independent of the stored-query count. ``stored_queries`` must be a
    DataFrame(query_id string, query_json string)."""
    regex = dsl.SearchContext(docs, key, text_col=text_col).analyzer_regex
    qx = _qterms_from_df(stored_queries, regex, key).persist()
    try:
        fields = sorted({r["field"] for r in
                         qx.select("field").distinct().collect()
                         if r["field"] is not None})
        doc_terms, demote = _doc_terms(docs, key, fields, regex)

        qterms = qx.where(~F.col("unanalyzable"))
        if demote is not None:
            # extractions the token table can't mirror → full eval
            demoted = qterms.where(demote).select("query_id").distinct()
            qterms = qterms.join(demoted, "query_id", "left_anti")
        else:
            demoted = None

        # size-gate the broadcast: qx is persisted, so the count is cheap;
        # beyond the threshold the candidate join shuffles both sides
        qsel = qterms.select("field", "term", "kind", "query_id", "verified")
        if qx.count() <= BROADCAST_QTERMS_MAX:
            qsel = F.broadcast(qsel)
        cand = (
            doc_terms.join(qsel, ["field", "term", "kind"])
            .select(F.col(key), "query_id", "verified")
            .distinct()
        )

        verified_pairs = cand.where(F.col("verified")).select("query_id", key)
        need = cand.where(~F.col("verified")).select("query_id").distinct()
        una = qx.where(F.col("unanalyzable")).select("query_id").distinct()
        if demoted is not None:
            una = una.unionByName(demoted).distinct()

        # driver-side collection is bounded by actual candidates, never Q
        need_rows = [
            (r["query_id"], json.loads(r["query_json"]))
            for r in stored_queries.join(need, "query_id").collect()]
        una_rows = [
            (r["query_id"], json.loads(r["query_json"]))
            for r in stored_queries.join(una, "query_id").collect()]

        keep = keep_cols or []
        parts: list[DataFrame] = []
        if keep:
            verified_pairs = verified_pairs.join(
                docs.select(F.col(key), *[F.col(c) for c in keep]), key)
        parts.append(verified_pairs.select("query_id", key,
                                           *[F.col(c) for c in keep]))

        eval_chunks = 0
        if need_rows:
            sub = docs.join(cand.where(~F.col("verified"))
                            .select(key).distinct(), key, "left_semi")
            sub = _pad_fields(sub, [q for _, q in need_rows])
            part = _eval_chunked(sub, need_rows, key, text_col, chunk_size, keep)
            if part is not None:
                parts.append(part)
            eval_chunks += -(-len(need_rows) // chunk_size)
        if una_rows:
            full = _pad_fields(docs, [q for _, q in una_rows])
            part = _eval_chunked(full, una_rows, key, text_col, chunk_size, keep)
            if part is not None:
                parts.append(part)
            eval_chunks += -(-len(una_rows) // chunk_size)

        with _PRUNE_LOCK:
            PRUNE_STATS.clear()
            PRUNE_STATS.update({
                "compiled": len(need_rows) + len(una_rows),
                "unanalyzable": len(una_rows),
                "eval_chunks": eval_chunks,
            })
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out
    finally:
        # the returned plan re-derives qx lazily if an action runs after
        # unpersist; the persist only serves the collects above
        qx.unpersist()

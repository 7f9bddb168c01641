"""match_phrase / match_phrase_prefix over the index + highlighting
(fetch sub-phase).

match_phrase (``server/.../index/query/MatchPhraseQueryBuilder.java``) and
match_phrase_prefix (``MatchPhrasePrefixQueryBuilder.java``) map onto the
intervals tree of ``operators/intervals.py`` — the one positional
verifier — and run through its per-segment evaluation:

- match_phrase(slop) is ``all_of(ordered, max_gaps=slop)`` over one
  single-term leaf per analyzed token: total internal gap ≤ slop (exact
  for slop=0; Lucene's transposition-cost sloppy matching is
  intentionally not reproduced — ordered-sloppy is the documented
  subset);
- match_phrase_prefix makes the last leaf the prefix's expansions, a
  union of their positions (Lucene's MultiPhraseQuery).

Scoring: verified docs are ranked by the BM25 sum of the query terms
(global df via the build-time stats table — DfsPhase determinism), ties
broken by doc_id ASC, matching ``SearchPhaseController.java:202-205``.

Highlighting = the ``highlight`` fetch sub-phase
(``server/.../search/fetch/subphase/highlight/``): regexp-tagged fragments
around the first match, ``<em>``-wrapped, as native Column expressions.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import analysis
from ..sources import index_store as store
from .intervals import all_of, leaf, search_tree
from .topk import IndexReader, Segment


def search_phrase(
    reader: IndexReader,
    phrase: str,
    k: int = 10,
    slop: int = 0,
    routing: str | None = None,
    offset: int = 0,
    fields=(),
) -> DataFrame:
    """match_phrase over the positional index: hits ``offset ..
    offset+k`` by BM25 (score DESC, doc_id ASC). Exact — every verified
    doc competes, not a candidate sample. ``routing`` scans only the
    value's shard (``query_segments``)."""
    terms = analysis.analyze(phrase, reader.meta.analyzer)
    tree = all_of([leaf([t]) for t in terms], ordered=True, max_gaps=slop)
    return search_tree(reader, tree, k, routing, offset, fields)


def search_phrase_prefix(
    reader: IndexReader,
    phrase: str,
    k: int = 10,
    slop: int = 0,
    max_expansions: int = 50,
    routing: str | None = None,
    offset: int = 0,
    fields=(),
) -> DataFrame:
    """match_phrase_prefix (``MatchPhrasePrefixQueryBuilder.java``): the
    last analyzed token is a PREFIX expanded against the global term
    dictionary (first ``max_expansions`` in term order — the reference's
    expansion cap, so every segment sees the same deterministic set),
    and the phrase must end at one of the expansions' positions. Scored as
    the BM25 sum of the fixed terms plus every matched expansion term."""
    terms = analysis.analyze(phrase, reader.meta.analyzer)
    last = reader.prefix_terms(terms[-1], max_expansions) if terms else []
    tree = all_of([leaf([t]) for t in terms[:-1]] + [leaf(last)], ordered=True, max_gaps=slop)
    return search_tree(reader, tree, k, routing, offset, fields)


# --------------------------------------------------------------------------
# test/introspection helper (NOT on the query path)
# --------------------------------------------------------------------------

def _index_positions(index_dir: str, terms: list[str], cand_ids: set[int]) -> dict[str, dict[int, np.ndarray]]:
    """Per term: {doc_id: ascending positions} for candidate docs, decoded
    straight from the postings blocks. Local introspection used by tests —
    the query path decodes positions per segment in its query phase instead."""
    out: dict[str, dict[int, np.ndarray]] = {t: {} for t in terms}
    for seg in store.list_segs(index_dir):
        for term, (ids, _tfs, flat, occ_off) in Segment(index_dir, seg).positions(set(terms)).items():
            for j, d in enumerate(ids):
                if int(d) in cand_ids:
                    out[term][int(d)] = flat[occ_off[j] : occ_off[j + 1]]
    return out


# --------------------------------------------------------------------------
# highlight fetch sub-phase
# --------------------------------------------------------------------------

def highlight(
    df: DataFrame,
    terms: list[str],
    text_col: str = "text",
    fragment_size: int = 100,
    pre_tag: str = "<em>",
    post_tag: str = "</em>",
    number_of_fragments: int = 1,
    no_match_size: int = 0,
) -> DataFrame:
    """Add a `highlight` column: fragments of ±fragment_size/2 chars around
    matching terms, matches wrapped in tags. Pure Column expressions
    (unified-highlighter-lite; ``server/.../fetch/subphase/highlight/``).
    ``number_of_fragments > 1`` emits an ARRAY of up to N fragments (one
    per match region, regex scan order — the reference's default scoring
    of fragments: fragments are SCORED by match count and returned
    best-first (the unified highlighter's passage scoring, ties broken by
    document order), still as pure Column expressions."""
    import re as _re

    # terms are analyzer OUTPUT, not regex: escape metacharacters ("c++",
    # "3.5") for the pattern, and escape the pattern again for embedding
    # in SQL string literals (expr parses \ and ' inside '...')
    pat = "|".join(_re.escape(t) for t in sorted(terms, key=len, reverse=True))
    sqlpat = pat.replace("\\", "\\\\").replace("'", "\\'")
    # HighlightBuilder.noMatchSize applies to every fragmentation mode:
    # non-matching docs highlight as NULL by default, or a leading snippet
    has_match = F.expr(f"lower({text_col}) rlike '(?i)(?:{sqlpat})'")
    no_match = (F.col(text_col).substr(F.lit(1), F.lit(no_match_size))
                if no_match_size > 0 else F.lit(None).cast("string"))
    if number_of_fragments == 0:
        # number_of_fragments: 0 (HighlightBuilder semantics): no
        # fragmentation — the ENTIRE field value returns with every match
        # wrapped
        tagged0 = F.regexp_replace(
            F.col(text_col), f"(?i)({pat})", f"{pre_tag}$1{post_tag}"
        )
        return df.withColumn(
            "highlight", F.when(has_match, tagged0).otherwise(no_match))
    if number_of_fragments > 1:
        half = fragment_size // 2
        ctx = f"(?i)[^\\\\n]{{0,{half}}}(?:{sqlpat})[^\\\\n]{{0,{half}}}"
        # rank candidate fragments by (-match_count, original_index): the
        # struct sort is JVM-side; slice keeps the best N
        ranked = F.expr(
            f"""transform(
                  array_sort(
                    transform(regexp_extract_all({text_col}, '{ctx}', 0),
                              (fr, i) -> struct(
                                -size(regexp_extract_all(fr, '(?i)(?:{sqlpat})', 0)) AS neg,
                                i AS ord, fr AS fr)
                    )
                  ),
                  s -> s.fr
                )"""
        )
        frags = F.slice(ranked, 1, number_of_fragments)
        tagged_arr = F.transform(
            frags, lambda fr: F.regexp_replace(fr, f"(?i)({pat})", f"{pre_tag}$1{post_tag}")
        )
        return df.withColumn(
            "highlight",
            F.when(has_match, tagged_arr).otherwise(
                F.array(no_match) if no_match_size > 0
                else F.lit(None).cast("array<string>")))
    # guard the empty extract: locate('', s) = 1 would read as a match
    matched_term = F.expr(
        f"regexp_extract(lower({text_col}), '(?i)({sqlpat})', 1)")
    first_pos = F.when(
        matched_term != "",
        F.expr(
            f"locate(regexp_extract(lower({text_col}), '(?i)({sqlpat})', 1), lower({text_col}))"
        ),
    ).otherwise(F.lit(0))
    half = fragment_size // 2
    frag_start = F.greatest(first_pos - half, F.lit(1))
    # HighlightBuilder.noMatchSize: fields without a match highlight as
    # NULL by default; no_match_size > 0 emits a leading snippet instead
    no_match = (F.col(text_col).substr(F.lit(1), F.lit(no_match_size))
                if no_match_size > 0 else F.lit(None).cast("string"))
    fragment = F.when(
        first_pos > 0,
        F.col(text_col).substr(frag_start, F.lit(fragment_size)),
    )
    tagged = F.coalesce(
        F.regexp_replace(fragment, f"(?i)({pat})", f"{pre_tag}$1{post_tag}"),
        no_match)
    return df.withColumn("highlight", tagged)

"""Suggesters + the `_explain` API analog.

- **term suggester** (``server/src/main/java/org/elasticsearch/search/
  suggest/term/TermSuggestionBuilder.java``): edit-distance candidates from
  the term dictionary (``IndexReader.term_stats``: Σ of the live
  segments' dictionaries),
  ranked like the reference: exact-match terms are skipped unless
  ``suggest_mode='always'``; candidates sorted by (edit distance ASC,
  doc frequency DESC, term ASC).
- **phrase suggester**: per-token dictionary candidates (the
  DirectCandidateGenerator layer) rescored by channel × bigram language
  model (stupid backoff / laplace over the corpus bigram table —
  ``build_bigram_lm``), with the reference's confidence gate.
- **completion suggester**: prefix range probe over the suggestion-sorted
  table (+ fuzzy prefix, category contexts).
- **explain** (``server/.../action/explain/TransportExplainAction.java``):
  per-(query-term, doc) score breakdown — tf, df, idf, quantized dl, and
  the BM25 contribution, reproducing exactly what the scorer computes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import analysis
from ..sources import index_store as store
from .ops import live_docs
from .topk import IndexReader


def term_suggest(
    spark: SparkSession,
    index_dir: str,
    text: str,
    max_edits: int = 2,
    size: int = 3,
    suggest_mode: str = "missing",
    sort: str = "score",
    prefix_length: int = 1,
    min_word_length: int = 4,
    reader: IndexReader | None = None,
) -> DataFrame:
    """Per input token: up to `size` corrections from the term dictionary.

    Returns (token, suggestion, distance, df) — one row per suggestion,
    ordered per ``sort`` (TermSuggestionBuilder: "score" = distance ASC then
    df DESC; "frequency" = df DESC then distance ASC). ``prefix_length``
    (default 1, like DirectSpellChecker) requires candidates to share the
    leading chars; ``min_word_length`` (default 4) leaves short tokens
    uncorrected. ``reader``: the index's open reader (default: a new one)."""
    reader = reader or IndexReader(spark, index_dir)
    tokens = list(dict.fromkeys(analysis.analyze(text, reader.meta.analyzer)))
    tokens = [t for t in tokens if len(t) >= min_word_length]
    terms = spark.createDataFrame(reader.term_stats().select(["term", "df"]))
    toks_df = spark.createDataFrame([(t,) for t in tokens], "token string")
    # each mode's driver round-trip runs ONLY for its mode — "always"
    # (which phrase_suggest calls per invocation) pays zero extra jobs
    if suggest_mode == "missing":
        existing = {
            r["token"]
            for r in toks_df.join(terms, F.col("token") == F.col("term"), "left_semi").collect()
        }
        tokens = [t for t in tokens if t not in existing]
        toks_df = spark.createDataFrame([(t,) for t in tokens], "token string") if tokens else None
    if not tokens or toks_df is None:
        return spark.createDataFrame([], "token string, suggestion string, distance int, df long")
    # "popular" (TermSuggestionBuilder.SuggestMode.POPULAR): only terms
    # MORE FREQUENT than the input token qualify; "always" has no df gate
    if suggest_mode == "popular":
        token_df = {r["term"]: r["df"] for r in terms.where(F.col("term").isin(tokens)).collect()}
        df_floor = F.create_map(*[F.lit(x) for t in tokens for x in (t, int(token_df.get(t, 0)))])
    else:
        df_floor = None

    # candidate join: length-banded crossJoin (|len(a)-len(b)| ≤ max_edits
    # bounds Levenshtein) keeps the term-dict scan tight
    cand = (
        terms.join(F.broadcast(toks_df))
        .where(F.abs(F.length("term") - F.length("token")) <= max_edits)
        .withColumn("distance", F.levenshtein("term", "token"))
        .where((F.col("distance") <= max_edits) & (F.col("distance") > 0))
    )
    if prefix_length > 0:
        # DirectSpellChecker.prefixLength: candidates share the leading
        # chars — also a strong pruner on the candidate join
        cand = cand.where(
            F.substring("term", 1, prefix_length)
            == F.substring("token", 1, prefix_length))
    if df_floor is not None:
        cand = cand.where(F.col("df") > df_floor.getItem(F.col("token")))
    from pyspark.sql import Window

    order = ([F.desc("df"), F.asc("distance"), F.asc("term")]
             if sort == "frequency"
             else [F.asc("distance"), F.desc("df"), F.asc("term")])
    w = Window.partitionBy("token").orderBy(*order)
    out_order = ([F.desc("df"), F.asc("distance"), F.asc("suggestion")]
                 if sort == "frequency"
                 else [F.asc("distance"), F.desc("df"), F.asc("suggestion")])
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= size)
        .select("token", F.col("term").alias("suggestion"), "distance", "df")
        .orderBy(F.asc("token"), *out_order)
    )


def build_completion_index(
    spark: SparkSession,
    index_dir: str,
    suggestions: DataFrame,
    input_col: str = "suggestion",
    weight_col: str | None = None,
    contexts_col: str | None = None,
) -> None:
    """Materialize a completion-suggester table (the ``completion`` field
    mapping, ``server/.../search/suggest/completion/CompletionFieldMapper
    .java``): (suggestion, weight) sorted by suggestion so a prefix probe
    is a range scan over parquet row-group stats — the FST-prefix-walk
    analog. weight defaults to 1 (ES's default when no weight supplied)."""
    import os

    w = F.col(weight_col).cast("long") if weight_col else F.lit(1).cast("long")
    # contexts (CategoryContextMapping): one row per (suggestion, context)
    # so a context-filtered probe is still a sorted range scan
    ctx = (
        F.col(contexts_col).cast("string") if contexts_col else F.lit(None).cast("string")
    )
    out = (
        suggestions.select(
            F.col(input_col).alias("suggestion"), w.alias("weight"), ctx.alias("context")
        )
        .groupBy("suggestion", "context")
        .agg(F.max("weight").alias("weight"))
        .repartition(1)
        .sortWithinPartitions("suggestion")
    )
    path = os.path.join(index_dir, "completion")
    out.write.mode("overwrite").parquet(path)


def completion_suggest(
    spark: SparkSession,
    index_dir: str,
    prefix: str,
    size: int = 5,
    fuzziness: int = 0,
    contexts: list[str] | dict[str, float] | None = None,
    reader: IndexReader | None = None,
) -> DataFrame:
    """Completion suggester (``server/.../search/suggest/completion/
    CompletionSuggestionBuilder.java:46``): search-as-you-type prefix →
    top-``size`` suggestions by (weight DESC, suggestion ASC — the
    reference's sortedWeight comparator with a deterministic tie-break).

    Source table: the dedicated completion table when built
    (``build_completion_index``), else the live TERM DICTIONARY with df as
    the weight (``reader``'s, default a new reader's: the term dictionary
    doubles as the suggestion FST, the same reuse as the term suggester).

    Exact prefix (default) compiles to a RANGE predicate on the
    suggestion-sorted parquet — row-group pruning makes the probe
    O(matching range), the scan analog of an FST prefix walk. fuzziness>0
    (FuzzyOptions, Levenshtein over the typed prefix) relaxes the probe to
    an edit-distance filter on the prefix-length head of each entry; the
    first character must still match (ES's default
    ``prefix_length=1``-style transposition guard), preserving a 1-char
    range prune."""
    import os

    comp_path = os.path.join(index_dir, "completion")
    if os.path.isdir(comp_path):
        src = spark.read.parquet(comp_path)
        if contexts:
            # CategoryQueryContext: a list filters to suggestions carrying
            # one of the contexts; a {context: boost} dict additionally
            # multiplies the weight by the matched context's boost
            # (CategoryContextMapping boost semantics) — the best-boosted
            # context wins per suggestion
            if isinstance(contexts, dict):
                boost_map = F.create_map(
                    *[F.lit(x) for kv in contexts.items() for x in kv]
                )
                src = src.where(F.col("context").isin(list(contexts))).withColumn(
                    "weight",
                    (F.col("weight") * boost_map.getItem(F.col("context"))).cast("long"),
                )
            else:
                src = src.where(F.col("context").isin(list(contexts)))
        if "context" in src.columns:
            src = src.groupBy("suggestion").agg(F.max("weight").alias("weight"))
    else:
        if contexts:
            # the term dictionary carries no context data — silently
            # returning cross-context suggestions would leak entries the
            # filter promised to exclude
            raise ValueError(
                "completion contexts require a completion index "
                "(build_completion_index); this index has none")
        src = spark.createDataFrame(
            (reader or IndexReader(spark, index_dir)).term_stats().select(["term", "df"])
        ).select(F.col("term").alias("suggestion"), F.col("df").alias("weight"))
    if fuzziness <= 0:
        hit = src.where(F.col("suggestion").startswith(prefix))
    else:
        head = F.substring("suggestion", 1, len(prefix))
        hit = src.where(
            F.col("suggestion").startswith(prefix[:1])
            & (F.levenshtein(head, F.lit(prefix)) <= fuzziness)
        )
    return (
        hit.orderBy(F.desc("weight"), F.asc("suggestion"))
        .limit(size)
        .select("suggestion", "weight")
    )


def build_bigram_lm(spark: SparkSession, index_dir: str) -> None:
    """Materialize the bigram language model the phrase suggester rescores
    with (the reference's shingle-field analog; ``server/.../search/
    suggest/phrase/PhraseSuggestionBuilder.java``): (w1, w2, n) counts over
    the live docs' analyzed token stream. One explode→groupBy shuffle —
    the same agg shape as the postings build; written w1-sorted so a
    suggest-time probe is a term-filtered parquet read."""
    import os

    meta = store.IndexMeta.load(index_dir)
    docs = spark.read.parquet(*store.docs_glob(index_dir)).select("text")
    toks = docs.select(analysis.tokens_udf(meta.analyzer)("text").alias("t"))
    big = (
        toks.where(F.size("t") >= 2)
        .select(F.explode(F.expr(
            "transform(sequence(1, size(t) - 1), i -> struct(t[i-1] as w1, t[i] as w2))"
        )).alias("b"))
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").cast("long").alias("n"))
    )
    path = os.path.join(index_dir, "lm_bigrams")
    big.repartition(4, "w1").sortWithinPartitions("w1", "w2").write.mode(
        "overwrite"
    ).parquet(path)


def phrase_suggest(
    spark: SparkSession,
    index_dir: str,
    text: str,
    size: int = 3,
    max_edits: int = 2,
    num_candidates: int = 3,
    confidence: float = 1.0,
    real_word_error_likelihood: float = 0.95,
    smoothing: str = "stupid_backoff",
    discount: float = 0.4,
    alpha: float = 0.5,
    max_combos: int = 64,
    reader: IndexReader | None = None,
) -> DataFrame:
    """Phrase suggester WITH language-model rescoring (``server/.../search/
    suggest/phrase/PhraseSuggester.java``; scorers ``StupidBackoffScorer
    .java`` / ``LaplaceScorer.java``; generator ``DirectCandidateGenerator
    .java``).

    - **Candidates** per analyzed token: the term dictionary within
      ``max_edits``, top ``num_candidates`` by (distance ASC, df DESC,
      term ASC), plus the verbatim token when in-dictionary.
    - **Channel**: ``real_word_error_likelihood`` for the verbatim token;
      ``(1 − rwel)·2^(1−d)`` for a distance-``d`` correction (the
      exponential edit-distance discounting shape).
    - **LM**: bigram stupid backoff ``P(w₂|w₁) = c₁₂/c₁`` else
      ``discount·c₂/N`` (or laplace ``(c₁₂+α)/(c₁+α·V)``); first token
      scores ``c/N``. Unseen unigrams floor at ``0.5/N``.
    - Phrase score = Σ log(channel·LM); candidates ranked (score DESC,
      suggestion ASC); only suggestions scoring above ``confidence`` ×
      the input phrase's own score survive (the reference's confidence
      gate).

    The candidate LATTICE (≤ ``max_combos`` phrases) is scored driver-side
    over the unigram counts of ``reader``'s term dictionary (default: a new
    reader's) and ONE term-filtered read of the bigram table (parquet
    predicate pushdown) — the per-shard rescore analog.

    Returns a DataFrame (suggestion, score) — score is the log score
    rounded to 6 digits."""
    import itertools
    import math
    import os

    import pyarrow as pa
    import pyarrow.compute as pc

    reader = reader or IndexReader(spark, index_dir)
    meta = reader.meta
    tokens = analysis.analyze(text, meta.analyzer)
    empty = spark.createDataFrame([], "suggestion string, score double")
    if not tokens:
        return empty

    cand_rows = term_suggest(
        spark, index_dir, text, max_edits=max_edits, size=num_candidates,
        suggest_mode="always", reader=reader,
    ).collect()
    per_tok: dict[str, list[tuple[str, int]]] = {}
    for r in cand_rows:
        per_tok.setdefault(r["token"], []).append((r["suggestion"], int(r["distance"])))

    stats = reader.term_stats()
    all_terms = sorted({t for t in tokens} | {s for v in per_tok.values() for s, _ in v})
    found = stats.filter(pc.is_in(stats["term"], value_set=pa.array(all_terms, pa.string())))
    uni = {
        t: (float(cf), float(df))
        for t, df, cf in zip(*(found[c].to_pylist() for c in ("term", "df", "cf")))
    }
    cands: list[list[tuple[str, int]]] = []
    for t in tokens:
        lst = list(per_tok.get(t, []))
        if t in uni:
            lst.append((t, 0))
        if not lst:
            lst = [(t, 0)]  # OOV with no candidates: keep verbatim
        # deterministic: distance ASC, cf DESC, term ASC
        lst.sort(key=lambda x: (x[1], -uni.get(x[0], (0.0, 0.0))[0], x[0]))
        cands.append(lst)
    # cap the lattice: trim the widest list until the product fits
    while math.prod(len(c) for c in cands) > max_combos:
        widest = max(range(len(cands)), key=lambda i: len(cands[i]))
        cands[widest] = cands[widest][:-1]

    pairs = set()
    for a, b in zip(cands, cands[1:]):
        pairs |= {(x[0], y[0]) for x in a for y in b}
    bi: dict[tuple[str, str], float] = {}
    lm_path = os.path.join(index_dir, "lm_bigrams")
    if pairs and os.path.isdir(lm_path):
        w1s = sorted({p[0] for p in pairs})
        rows = (
            spark.read.parquet(lm_path)
            .where(F.col("w1").isin(w1s))
            .collect()
        )
        bi = {(r["w1"], r["w2"]): float(r["n"]) for r in rows if (r["w1"], r["w2"]) in pairs}

    n_total = float(max(reader.sum_dl, 1))
    vocab = float(max(len(uni), 1))

    def uni_p(w: str) -> float:
        c = uni.get(w, (0.0, 0.0))[0]
        return max(c, 0.5) / n_total

    def lm_p(w1: str, w2: str) -> float:
        c1 = uni.get(w1, (0.0, 0.0))[0]
        c12 = bi.get((w1, w2), 0.0)
        if smoothing == "laplace":
            return (c12 + alpha) / (c1 + alpha * vocab)
        if c12 > 0 and c1 > 0:
            return c12 / c1
        return discount * uni_p(w2)

    rwel = real_word_error_likelihood

    def channel(d: int) -> float:
        return rwel if d == 0 else (1.0 - rwel) * (2.0 ** (1 - d))

    def score(phrase: list[tuple[str, int]]) -> float:
        s = math.log(channel(phrase[0][1])) + math.log(uni_p(phrase[0][0]))
        for (w1, _), (w2, d2) in zip(phrase, phrase[1:]):
            s += math.log(channel(d2)) + math.log(lm_p(w1, w2))
        return s

    # confidence gates in REAL space (score > confidence × input-score);
    # in log space that is s > log(confidence) + input_s
    input_score = score([(t, 0) for t in tokens])
    gate = (math.log(confidence) + input_score) if confidence > 0 else float("-inf")
    scored: dict[str, float] = {}
    for combo in itertools.product(*cands):
        phrase = " ".join(w for w, _ in combo)
        s = score(list(combo))
        if phrase not in scored or s > scored[phrase]:
            scored[phrase] = s
    out = [
        (p, round(s, 6)) for p, s in scored.items()
        if p != " ".join(tokens) and s > gate
    ]
    out.sort(key=lambda x: (-x[1], x[0]))
    if not out:
        return empty
    return spark.createDataFrame(out[:size], "suggestion string, score double")


def explain(
    spark: SparkSession, index_dir: str, query_terms: list[str], url: str,
    reader: IndexReader | None = None,
) -> DataFrame:
    """Score breakdown for one doc: per matching query term — tf, df, idf,
    quantized dl, avgdl, and the BM25 contribution (sums to the hit's
    score; the `_explain` API shape) of the live version of ``url``. df,
    N and avgdl are ``reader``'s (default: a new reader's)."""
    reader = reader or IndexReader(spark, index_dir)
    meta = reader.meta
    row = live_docs(spark, index_dir).where(F.col("url") == url).select("text", "dl").first()
    if row is None:
        return spark.createDataFrame(
            [], "term string, tf long, df long, idf double, ql double, contribution double"
        )
    toks = analysis.analyze(row["text"], meta.analyzer)
    from collections import Counter

    from ..functions import bm25
    from ..functions.smallfloat import quantize_length

    c = Counter(toks)
    ql = float(quantize_length(int(row["dl"])))
    stats = {t: df for t, (_, df) in reader.term_weights(query_terms).items()}
    out = []
    for t in dict.fromkeys(query_terms):
        tf = c.get(t, 0)
        if tf == 0 or t not in stats:
            continue
        df_ = stats[t]
        contrib = bm25.score(tf, df_, ql, reader.doc_count, reader.avgdl, meta.k1, meta.b)
        out.append((t, tf, df_, float(bm25.idf(df_, reader.doc_count)), ql, float(contrib)))
    return spark.createDataFrame(
        out, "term string, tf long, df long, idf double, ql double, contribution double"
    )

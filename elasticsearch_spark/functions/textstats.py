"""Text analysis for training-data curation: language ID, quality scoring,
token counting, document fingerprinting.

All computed with native Spark Column expressions (JVM-side, pushdown- and
codegen-friendly) — no Python in the scan path. Each function returns
columns to attach with ``df.select``/``withColumn``, so they compose into
one pass over the corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# marker stopwords per language (tiny, high-frequency function words) — the
# classic stopword-profile heuristic; CJK detected by script range instead
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "that", "you", "with"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit"],
    "fr": ["le", "la", "les", "et", "est", "une", "que", "pour"],
    "es": ["el", "los", "las", "es", "una", "que", "por", "con"],
}

_TOKS = "regexp_extract_all(lower({c}), '[\\\\p{{L}}0-9]+', 0)"


def tokens_col(text_col: str) -> Column:
    return F.expr(_TOKS.format(c=text_col))


def token_count(text_col: str) -> Column:
    """Whitespace-free token count (analyzer tokens, not split-on-space)."""
    return F.size(tokens_col(text_col)).cast("long")


def bpe_ish_token_count(text_col: str) -> Column:
    """BPE-style subword count estimate: word-piece regex (letter runs,
    digit runs, punctuation singletons) — the standard pre-tokenizer shape,
    a good proxy for LLM token budgets without a vocab file."""
    return F.size(
        F.expr(
            f"regexp_extract_all({text_col}, "
            "\"[\\\\p{L}]+|[0-9]+|[^\\\\s\\\\p{L}0-9]\", 0)"
        )
    ).cast("long")


def lang_id(text_col: str) -> Column:
    """Heuristic language ID: CJK by script-character ratio, otherwise the
    best stopword-marker profile; 'unk' when no profile hits."""
    toks = tokens_col(text_col)
    cjk = F.size(F.expr(f"regexp_extract_all({text_col}, '[\\\\u4e00-\\\\u9fff]', 0)"))
    n = F.greatest(F.size(toks), F.lit(1))
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(m) for m in markers])))
        + F.size(F.filter(toks, lambda t: t.isin(markers)))
        for lang, markers in _LANG_MARKERS.items()
    }
    # pick argmax by chained when()
    best = F.lit("unk")
    best_score = F.lit(0)
    for lang, s in scores.items():
        is_better = s > best_score
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_score = F.when(is_better, s).otherwise(best_score)
    return F.when(cjk / F.greatest(F.length(F.col(text_col)), F.lit(1)) > 0.3, F.lit("zh")).otherwise(
        F.when(best_score > 0, best).otherwise(F.lit("unk"))
    )


def quality_score(text_col: str) -> Column:
    """Composite [0,1] quality score from the signal columns (monotone
    heuristics with saturations, tuned to the usual web-text thresholds)."""
    toks = tokens_col(text_col)
    n_tok = F.size(toks)
    length_ok = F.least(n_tok / 50.0, F.lit(1.0))  # saturate at 50 tokens
    ttr = F.size(F.array_distinct(toks)) / F.greatest(n_tok, F.lit(1))
    diversity = F.least(ttr * 2.0, F.lit(1.0))
    stop_all = [m for ms in _LANG_MARKERS.values() for m in ms]
    stop_r = F.size(F.filter(toks, lambda t: t.isin(stop_all))) / F.greatest(n_tok, F.lit(1))
    naturalness = F.least(stop_r * 8.0, F.lit(1.0))  # natural text has stopwords
    return ((length_ok + diversity + naturalness) / 3.0).alias("quality")


def rolling_fingerprint(text_col: str, window: int = 8) -> Column:
    """Winnowing-style document fingerprint: xxhash each `window`-token
    shingle, keep the minimum — robust to small edits (same min shingle
    survives), used for cheap near-dup bucketing."""
    # bind the token array ONCE via a one-element outer transform (lambda
    # bodies are not CSE'd across iterations — inlining the tokenizer in
    # the per-shingle lambda re-tokenized the whole document per shingle,
    # turning a linear fingerprint into quadratic work)
    toks_sql = _TOKS.format(c=text_col)
    sh = F.expr(
        f"flatten(transform(array({toks_sql}), t ->"
        f" transform(sequence(0, greatest(size(t) - {window}, 0)),"
        f" i -> xxhash64(concat_ws(' ', slice(t, i + 1, {window}))))))"
    )
    return F.array_min(sh).alias("fingerprint")


# PII patterns: restricted to syntax that behaves identically under Java
# regex (Spark) and RE2 (DuckDB oracle) — no lookaround, no backrefs.
# Redaction order matters: SSN before phone (the loose phone pattern would
# otherwise eat SSNs partially), email before ipv4 (domains with digits).
PII_PATTERNS = [
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("phone", r"\+\d[\d().-]{7,14}\d", "<PHONE>"),
]


def pii_signals(text_col: str) -> list[Column]:
    """Per-category PII match counts (email / SSN-shaped / IPv4 / intl
    phone) as native regexp_extract_all sizes — one codegen'd scan, the
    detection half of a training-data scrubbing pass."""
    return [
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0)))
        .cast("long")
        .alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]


def redact_pii(text_col: str) -> Column:
    """Redacted text: each PII category replaced by its placeholder, in
    dependency order. Chained native regexp_replace — no UDF."""
    col = F.col(text_col)
    for _, pat, tag in PII_PATTERNS:
        col = F.regexp_replace(col, pat, tag)
    return col.alias("redacted")


def repetition_signals(text_col: str, max_tokens: int = 2000) -> list[Column]:
    """Gopher-style repetition quality signals (Rae et al. 2021 §A1.1):

    - ``dup_line_frac``: 1 − distinct/total over non-empty lines,
    - ``dup_line_char_frac``: fraction of line characters living in lines
      that occur more than once,
    - ``top_bigram_frac``: fraction of token bigrams taken by the single
      most frequent bigram (tokens capped at ``max_tokens`` so the
      distinct×n lambda work stays bounded per doc).

    All higher-order-function Column expressions — per-doc, no shuffle."""
    lines = f"filter(transform(split({text_col}, '\\n'), x -> trim(x)), x -> x != '')"
    toks = f"slice({_TOKS.format(c=text_col)}, 1, {max_tokens})"
    # sequence(1, 0) counts DOWN in Spark — guard docs with < 2 tokens
    bg = (
        f"CASE WHEN size({toks}) < 2 THEN array() "
        f"ELSE transform(sequence(1, size({toks}) - 1),"
        f" i -> concat(element_at({toks}, i), ' ', element_at({toks}, i + 1))) END"
    )
    return [
        F.expr(
            f"CASE WHEN size({lines}) = 0 THEN 0.0 "
            f"ELSE 1.0 - size(array_distinct({lines})) / size({lines}) END"
        ).cast("double").alias("dup_line_frac"),
        F.expr(
            f"aggregate(array_distinct({lines}), 0L, (acc, l) -> acc + "
            f"  CASE WHEN size(filter({lines}, x -> x = l)) > 1 "
            f"       THEN size(filter({lines}, x -> x = l)) * length(l) ELSE 0L END)"
            f" / greatest(aggregate({lines}, 0L, (acc, l) -> acc + length(l)), 1)"
        ).cast("double").alias("dup_line_char_frac"),
        F.expr(
            f"CASE WHEN size({bg}) = 0 THEN 0.0 ELSE "
            f"array_max(transform(array_distinct({bg}),"
            f" b -> size(filter({bg}, x -> x = b)))) / size({bg}) END"
        ).cast("double").alias("top_bigram_frac"),
    ]


def annotate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass curation annotation: lang, token counts, quality, fingerprint."""
    return df.select(
        "*",
        lang_id(text_col).alias("lang_pred"),
        token_count(text_col).alias("n_tokens"),
        bpe_ish_token_count(text_col).alias("n_subwords"),
        quality_score(text_col),
        rolling_fingerprint(text_col),
    )


_TRACKING_PARAM = r"(utm_[a-z]+|fbclid|gclid|msclkid|ref_src|mc_[ce]id)=[^&#]*"


def normalize_url(url_col: str) -> Column:
    """Web-pipeline URL canonicalization (the dedup-key normalization every
    crawl pipeline needs before exact URL dedup):

    1. scheme + host lowercased (path/query case preserved — RFC 3986:
       only scheme and authority are case-insensitive);
    2. default ports stripped (``:80`` http, ``:443`` https);
    3. tracking params removed (utm_*, fbclid, gclid, msclkid, …) with
       their separators, then dangling ``?``/``&`` cleaned;
    4. fragment dropped;
    5. trailing slash on a bare host-path dropped (``/`` path only).

    Pure chained native regexps — one projection, no UDF, pushes through
    whole-stage codegen at 10^12 rows."""
    c = F.col(url_col)
    # 1: lowercase scheme://host[:port] prefix only
    lowered = F.concat(
        F.lower(F.regexp_extract(c, r"^([^/]+//[^/?#]*)", 1)),
        F.regexp_replace(c, r"^[^/]+//[^/?#]*", ""),
    )
    no_port = F.regexp_replace(
        lowered, r"^(https?://[^/:?#]+):(?:80|443)(?=[/?#]|$)", r"$1"
    )
    no_frag = F.regexp_replace(no_port, r"#.*$", "")
    # the param name must START at a separator (Java-regex lookbehind —
    # this runs JVM-side only; the oracle derives expected strings
    # analytically): without it, "?xgclid=abc" had its 'gclid=abc' TAIL
    # eaten, mangling distinct urls onto one dedup key
    no_track = F.regexp_replace(no_frag, r"(?<=[?&])" + _TRACKING_PARAM + r"&?", "")
    clean_sep = F.regexp_replace(
        F.regexp_replace(no_track, r"[?&]$", ""), r"\?&", "?"
    )
    return F.regexp_replace(clean_sep, r"^(https?://[^/?#]+)/$", r"$1")


def registrable_domain(url_col: str) -> Column:
    """Host → registrable-domain approximation (last two labels; common
    two-level public suffixes like co.uk/com.au widened to three) — the
    domain-balancing key when the corpus has full URLs."""
    host = F.regexp_extract(F.col(url_col), r"^[^/]+//([^/:?#]+)", 1)
    host = F.lower(host)
    two = F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)
    three = F.regexp_extract(host, r"([^.]+\.[^.]+\.[^.]+)$", 1)
    is_2l_suffix = two.rlike(r"^(co|com|org|net|ac|gov|edu)\.[a-z]{2}$")
    return F.when(is_2l_suffix & (three != ""), three).otherwise(
        F.when(two != "", two).otherwise(host)
    )

"""Analysis chain: char filters → tokenizer → token filters.

Re-implements the reference's default ``standard`` analyzer
(StandardTokenizer = UAX#29 word break, + lowercase, + empty stopword set,
max_token_length=255; registered at
``server/src/main/java/org/elasticsearch/indices/analysis/AnalysisModule.java:253-254``,
built in ``server/.../index/analysis/StandardAnalyzerProvider.java:21-27``)
and the ``html_strip`` char filter
(``modules/analysis-common/.../HtmlStripCharFilterFactory.java:24-40``)
as vectorized pandas/Arrow UDFs — no per-row Python UDFs are registered
with Spark; all batch work is Arrow-transferred and regex/C-speed inside.

UAX#29 coverage (documented approximation):
- alphanumeric runs; letters and digits join directly (WB8/9/10);
- MidLetter/MidNumLet (' ’ . · :) join letter runs (WB6/7), MidNum/MidNumLet
  (, . ') join digit runs (WB11/12) — so ``don't``, ``3.14``, ``1,000``,
  ``example.com``, ``foo:bar`` are single tokens, matching Lucene;
- ExtendNumLet ``_`` glues clusters (WB13a/b): ``foo_bar`` is one token;
- combining marks (Mn/Mc/Me — UAX#29 Extend, WB4) join the preceding
  letter/digit, so Devanagari/Hebrew/Arabic/Tamil words with matras,
  niqqud, harakat, or viramas tokenize whole;
- Han + Hiragana emit one token per ideograph, Katakana/Hangul as runs
  (matching StandardTokenizer's IDEOGRAPHIC/HIRAGANA/KATAKANA/HANGUL types);
- tokens longer than 255 chars are split at the 255 boundary.
Remaining divergences from ICU-exact UAX#29 (regional indicators,
Turkish dotted-I lowercasing, WB7a-c Hebrew single-quote rules) are
documented; conformance is pinned by a SPEC-DERIVED adversarial golden
set (tests/goldens/uax29_spec_goldens.json — expected tokens hand-derived
from the UAX#29 rules, NOT from this implementation).

The ``regex_simple`` analyzer (``[a-z0-9]+`` over lowercased text) exists so
query results can be mirrored exactly in ANSI SQL
(``regexp_extract_all(lower(text), '[a-z0-9]+')`` in DuckDB) for the
correctness oracle.
"""

from __future__ import annotations

import html as _htmlmod
import re
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType

MAX_TOKEN_LENGTH = 255

# --- character classes -------------------------------------------------------
_HAN = (
    "⺀-⻿々〇〡-〩〸-〻"
    "㐀-䶿一-鿿豈-﫿"
)
_HIRA = "ぁ-ゖゝ-ゟ"
_KATA = "ァ-ヺー-ヿㇰ-ㇿｦ-ﾝ"
_HANGUL = "가-힣ᄀ-ᇿ㄰-㆏"
_CJK = _HAN + _HIRA + _KATA + _HANGUL

def _mark_char_class() -> str:
    """Regex character-class ranges for Unicode marks (categories Mn/Mc/Me
    — UAX#29 'Extend'). Python ``re`` has no ``\\p{M}``, so the class is
    generated once from unicodedata (the same data the JVM's \\p{M}
    reads). WB4: Extend characters never break a word — a combining mark
    glues to whatever precedes it, so Devanagari/Hebrew/Tamil words with
    matras, niqqud, or viramas stay ONE token (they used to split at
    every mark)."""
    import unicodedata

    ranges: list[tuple[int, int]] = []
    start = prev = None
    for cp in range(0x0300, 0xE0200):  # marks live in [U+0300, U+E01EF]
        if unicodedata.category(chr(cp)).startswith("M"):
            if prev is not None and cp == prev + 1:
                prev = cp
            else:
                if start is not None:
                    ranges.append((start, prev))
                start = prev = cp
    if start is not None:
        ranges.append((start, prev))
    return "".join(
        re.escape(chr(a)) if a == b else f"{re.escape(chr(a))}-{re.escape(chr(b))}"
        for a, b in ranges
    )


_M = f"[{_mark_char_class()}]"

# letters excluding CJK classes handled separately; digits = Unicode Nd.
# Each letter/digit may carry combining marks (WB4 Extend — see above).
_L = rf"(?:(?![{_CJK}])[^\W\d_]){_M}*"
_D = rf"\d{_M}*"
_ML = "['’‘.··‧:״]"
_MN = "[,.'’․]"

_LPART = rf"(?:{_L})+(?:{_ML}(?:{_L})+)*"
_NPART = rf"(?:{_D})+(?:{_MN}(?:{_D})+)*"
_WORD = rf"_*(?:{_LPART}|{_NPART})(?:_*(?:{_LPART}|{_NPART}))*_*"

TOKEN_RE = re.compile(rf"(?:{_WORD})|[{_HAN}]{_M}*|[{_HIRA}]{_M}*|(?:[{_KATA}]{_M}*)+|(?:[{_HANGUL}]{_M}*)+")

# fast path: the mark-aware pattern costs ~2x on mark-free text (the
# overwhelming case — NFC web text precomposes Latin diacritics), and both
# patterns are provably identical when no mark codepoint is present, so a
# single C-speed containment scan picks the cheap one
_L0 = rf"(?:(?![{_CJK}])[^\W\d_])"
_LPART0 = rf"{_L0}+(?:{_ML}{_L0}+)*"
_NPART0 = rf"\d+(?:{_MN}\d+)*"
_WORD0 = rf"_*(?:{_LPART0}|{_NPART0})(?:_*(?:{_LPART0}|{_NPART0}))*_*"
TOKEN_RE_NOMARK = re.compile(rf"(?:{_WORD0})|[{_HAN}]|[{_HIRA}]|[{_KATA}]+|[{_HANGUL}]+")
_HAS_MARK = re.compile(_M)

# --- html_strip char filter ---------------------------------------------------
_BLOCK_TAGS = (
    "p|div|br|li|ul|ol|h1|h2|h3|h4|h5|h6|table|tr|td|th|blockquote|pre|hr|"
    "section|article|header|footer|nav|aside|form|figure|figcaption|dl|dt|dd|title"
)
_RE_SCRIPT = re.compile(r"(?is)<(script|style)\b.*?(?:</\1\s*>|$)")
_RE_COMMENT = re.compile(r"(?s)<!--.*?(?:-->|$)")
_RE_BLOCK = re.compile(rf"(?is)</?(?:{_BLOCK_TAGS})\b[^<>]*/?\s*>")
_RE_TAG = re.compile(r"(?s)<[/!?]?[a-zA-Z][^<>]*>")


def html_strip(raw: bytes | str | None) -> str:
    """html → text, the ``html_strip`` char filter.

    Deterministic approximation of Lucene's HTMLStripCharFilter: drops
    script/style/comments, turns block-level tags into newlines, removes
    inline tags, decodes entities, and tolerates broken markup. This function
    IS the byte-identity invariant: the pages generator stores
    ``text = html_strip(html)`` and tests assert the UDF output equals the
    stored column byte-for-byte per url.
    """
    if raw is None:
        return ""
    s = raw.decode("utf-8", errors="replace") if isinstance(raw, (bytes, bytearray)) else raw
    s = _RE_SCRIPT.sub("", s)
    s = _RE_COMMENT.sub("", s)
    s = _RE_BLOCK.sub("\n", s)
    s = _RE_TAG.sub("", s)
    s = _htmlmod.unescape(s)
    return s


def _split_long(tok: str) -> Iterator[str]:
    if len(tok) <= MAX_TOKEN_LENGTH:
        yield tok
    else:
        for i in range(0, len(tok), MAX_TOKEN_LENGTH):
            yield tok[i : i + MAX_TOKEN_LENGTH]


def standard_tokenize(text: str) -> list[str]:
    """text → lowercased token list (standard analyzer). Lowercases the
    whole string first, then tokenizes in one C-level ``findall`` pass —
    equivalent to per-token lowercase for every case-insensitive-stable
    codepoint (the rare multi-char lowercase expansions, e.g. İ, are
    accepted divergences pinned by the golden tests)."""
    if not text:
        return []
    low = text.lower()
    # isascii() is a free C check that skips the (comparatively slow)
    # mark-class scan for the dominant ASCII case
    if low.isascii():
        # ASCII fast path, exactly equivalent to TOKEN_RE_NOMARK: coarse
        # translate+split keeps word chars AND the ASCII MidLetter/MidNum
        # joiners (' . : ,); per coarse token, edge punctuation is
        # stripped (matches can't start/end with a joiner) and the
        # C-speed isalnum() test accepts the overwhelming pure-alnum
        # case; only tokens with interior joiners/underscore mixtures
        # (rare in prose) fall back to the regex on the short fragment.
        out0: list[str] = []
        for t in low.translate(_ASCII_COARSE_TO_SPACE).split():
            t2 = t.strip(_ASCII_EDGE_PUNCT)
            if not t2:
                continue
            if t2.isalnum():
                out0.append(t2)
            elif _ASCII_JOINERS.isdisjoint(t2):
                if t2.strip("_"):  # at least one alnum required
                    out0.append(t2)
            else:
                out0.extend(TOKEN_RE_NOMARK.findall(t2))
        toks = out0
    elif not _HAS_MARK.search(low):
        toks = TOKEN_RE_NOMARK.findall(low)
    else:
        toks = TOKEN_RE.findall(low)
    for t in toks:
        if len(t) > MAX_TOKEN_LENGTH:
            out: list[str] = []
            for tok in toks:
                out.extend(_split_long(tok))
            return out
    return toks


# ASCII fast-path tables (input already lowercased, so A-Z cannot appear):
# keep word chars and the ASCII subset of the UAX#29 MidLetter/MidNumLet/
# MidNum joiners (_ML/_MN above); everything else is a definite break
_ASCII_EDGE_PUNCT = "'.:,"
_ASCII_JOINERS = frozenset(_ASCII_EDGE_PUNCT)
_ASCII_COARSE_TO_SPACE = {
    i: " " for i in range(128)
    if chr(i) not in "abcdefghijklmnopqrstuvwxyz0123456789_'.:,"
}

_SIMPLE_RE = re.compile(r"[a-z0-9]+")


def regex_simple_tokenize(text: str) -> list[str]:
    """SQL-mirrorable analyzer: lowercase then ``[a-z0-9]+`` runs."""
    if not text:
        return []
    return _SIMPLE_RE.findall(text.lower())


def english_analyze(text: str) -> list[str]:
    """The `english` language analyzer preset (AC/CommonAnalysisPlugin
    registers per-language analyzers; english = standard tokenizer +
    possessive-english + lowercase + english stop set + english stemmer —
    the most-used of the ~40 language presets). The stemmer is Porter1
    standing in for Lucene's porter2 (documented approximation)."""
    toks = standard_tokenize(text)
    toks = [t[:-2] if t.endswith("'s") else t for t in toks]  # possessive_english
    toks = _filter_stop(toks)
    return [porter_stem(t) for t in toks]


def whitespace_tokenize(text: str) -> list[str]:
    """whitespace tokenizer (WhitespaceTokenizer): split on whitespace,
    case preserved."""
    return text.split() if text else []


def keyword_tokenize(text: str) -> list[str]:
    """keyword tokenizer: the whole input as a single token."""
    return [text] if text else []


_LETTER_RE = re.compile(r"[^\W\d_]+", re.UNICODE)


def letter_tokenize(text: str) -> list[str]:
    """letter tokenizer (LetterTokenizer): maximal letter runs."""
    return _LETTER_RE.findall(text) if text else []


def lowercase_tokenize(text: str) -> list[str]:
    """lowercase tokenizer = letter tokenizer + lowercase."""
    return _LETTER_RE.findall(text.lower()) if text else []


def make_pattern_tokenizer(pattern: str = r"\W+", group: int = -1):
    """pattern tokenizer (PatternTokenizer): the pattern SPLITS by default
    (group=-1); group ≥ 0 instead EMITS that capture group's matches."""
    rx = re.compile(pattern)
    if group >= 0:
        def fn(text: str) -> list[str]:
            return [m.group(group) for m in rx.finditer(text)] if text else []
    else:
        def fn(text: str) -> list[str]:
            return [t for t in rx.split(text) if t] if text else []
    return fn


def make_char_group_tokenizer(tokenize_on_chars: list[str]):
    """char_group tokenizer: split on the configured char classes
    (whitespace/letter/digit/punctuation/symbol or literal chars)."""
    classes = {"whitespace": r"\s", "letter": r"[^\W\d_]",
               "digit": r"\d", "punctuation": r"[!-/:-@\[-`{-~]",
               "symbol": r"[\$\+<=>\^`\|~]"}
    parts = [classes.get(c, re.escape(c)) for c in tokenize_on_chars]
    rx = re.compile("(?:" + "|".join(parts) + ")+")
    return lambda text: [t for t in rx.split(text) if t] if text else []


def make_path_hierarchy_tokenizer(delimiter: str = "/", replacement: str | None = None):
    """path_hierarchy tokenizer: /a/b/c → [/a, /a/b, /a/b/c]."""
    rep = replacement if replacement is not None else delimiter

    def fn(text: str) -> list[str]:
        if not text:
            return []
        parts = text.split(delimiter)
        out, acc = [], ""
        for i, p in enumerate(parts):
            if i == 0 and p == "":
                acc = ""
                continue
            acc = acc + rep + p if (acc or text.startswith(delimiter)) else p
            out.append(acc)
        return out

    return fn


_URL_EMAIL_RE = re.compile(
    r"(?:[a-z0-9.+-]+://[^\s<>]+|[\w.+-]+@[\w-]+(?:\.[\w-]+)+)", re.IGNORECASE
)


def uax_url_email_tokenize(text: str) -> list[str]:
    """uax_url_email tokenizer (UAX29URLEmailTokenizer): like standard but
    URLs and e-mail addresses survive as single tokens."""
    if not text:
        return []
    out: list[str] = []
    last = 0
    for m in _URL_EMAIL_RE.finditer(text):
        out.extend(standard_tokenize(text[last:m.start()]))
        out.append(m.group(0).lower())
        last = m.end()
    out.extend(standard_tokenize(text[last:]))
    return out


# ClassicTokenizer (AC/ClassicTokenizerFactory.java → Lucene
# classic.ClassicTokenizer): the pre-UAX#29 StandardTokenizer grammar —
# e-mails, internet hosts, acronyms (U.S.A.), company names (AT&T) and
# words with internal apostrophes survive as single tokens.
_CLASSIC_RE = re.compile(
    r"""(?x)
      [\w.+-]+@[\w-]+(?:\.[\w-]+)+          # EMAIL
    | (?:[^\W\d_]\.){2,}(?!\w)              # ACRONYM: U.S.A. — the lookahead
                                            #   emulates JFlex longest-match:
                                            #   when a letter follows the dot
                                            #   run (a.b.c) the longer HOST
                                            #   alternative wins instead
    | [^\W_]+(?:\.[^\W_]+){1,}              # HOST: www.example.com, a.b.c
    | [^\W_]+(?:[&@][^\W_]+)+               # COMPANY: AT&T, Excite@Home
    | [^\W\d_]+(?:'[^\W\d_]+)+              # APOSTROPHE: O'Neil's
    | [^\W_]+                               # ALPHANUM / NUM
    """,
)


def classic_tokenize(text: str) -> list[str]:
    if not text:
        return []
    return [m.group(0).lower() for m in _CLASSIC_RE.finditer(text)]


def _icu_tokenize(text: str) -> list[str]:
    """icu_tokenizer (plugins/analysis-icu IcuTokenizerFactory analog):
    script-aware CJK segmentation — functions/cjk.py."""
    from .cjk import icu_tokenize

    return icu_tokenize(text)


TOKENIZERS = {
    "standard": standard_tokenize,
    "icu_tokenizer": _icu_tokenize,
    "classic": classic_tokenize,
    "regex_simple": regex_simple_tokenize,
    "whitespace": whitespace_tokenize,
    "keyword": keyword_tokenize,
    "letter": letter_tokenize,
    "lowercase": lowercase_tokenize,
    "uax_url_email": uax_url_email_tokenize,
}

_TOKEN_CHAR_CLASSES = {
    "letter": lambda c: c.isalpha(),
    "digit": lambda c: c.isdigit(),
    "whitespace": lambda c: c.isspace(),
    "punctuation": lambda c: not (c.isalnum() or c.isspace()),
    "symbol": lambda c: not (c.isalnum() or c.isspace()),
}


def _char_runs(text: str, token_chars: list[str]) -> list[str]:
    """Split text into maximal runs of characters in the allowed classes
    (NGramTokenizer.isTokenChar); empty token_chars = keep everything."""
    if not token_chars:
        return [text] if text else []
    preds = [_TOKEN_CHAR_CLASSES[t] for t in token_chars]
    runs, buf = [], []
    for c in text:
        if any(p(c) for p in preds):
            buf.append(c)
        elif buf:
            runs.append("".join(buf))
            buf = []
    if buf:
        runs.append("".join(buf))
    return runs


def make_ngram_tokenizer(min_gram: int = 1, max_gram: int = 2, token_chars: list | None = None):
    """ngram tokenizer (NGramTokenizerFactory.java): sliding n-grams over
    character runs of the allowed classes (default: the whole text)."""
    tc = list(token_chars or [])

    def fn(text: str) -> list[str]:
        out = []
        for run in _char_runs(text.lower(), tc):
            for n in range(min_gram, max_gram + 1):
                out.extend(run[i : i + n] for i in range(len(run) - n + 1))
        return out

    return fn


def make_edge_ngram_tokenizer(min_gram: int = 1, max_gram: int = 2, token_chars: list | None = None):
    """edge_ngram tokenizer (EdgeNGramTokenizerFactory.java): prefixes of
    each character run, min_gram..max_gram."""
    tc = list(token_chars or [])

    def fn(text: str) -> list[str]:
        out = []
        for run in _char_runs(text.lower(), tc):
            out.extend(run[:n] for n in range(min_gram, min(max_gram, len(run)) + 1))
        return out

    return fn


def make_simple_pattern_tokenizer(pattern: str = ""):
    """simple_pattern tokenizer: regex MATCHES are the tokens (the
    restricted-syntax Lucene SimplePatternTokenizer; full `re` accepted
    here — a superset, documented)."""
    rx = re.compile(pattern)

    def fn(text: str) -> list[str]:
        return [m for m in rx.findall(text.lower()) if m]

    return fn


def make_simple_pattern_split_tokenizer(pattern: str = ""):
    """simple_pattern_split tokenizer: regex matches are the SEPARATORS."""
    rx = re.compile(pattern)

    def fn(text: str) -> list[str]:
        return [t for t in rx.split(text.lower()) if t]

    return fn


def make_kuromoji_tokenizer(user_dictionary_rules: list[str] | None = None,
                            discard_punctuation: bool = True,
                            nbest_cost: int = 0,
                            nbest_examples: str | None = None, **_):
    """kuromoji_tokenizer factory (KuromojiTokenizerFactory):
    user_dictionary_rules in the reference's CSV form
    ("surface,segmentation,reading,pos"); nbest_cost / nbest_examples emit
    the within-window dictionary sub-paths (reference vectors in
    KuromojiAnalysisTests testNbest*); mode is accepted and ignored."""
    def fn(text: str) -> list[str]:
        from .cjk import kuromoji_tokenize_rich

        return [t.surface for t in kuromoji_tokenize_rich(
            text, user_rules=user_dictionary_rules,
            discard_punctuation=discard_punctuation,
            nbest_cost=int(nbest_cost), nbest_examples=nbest_examples)]

    return fn


def make_nori_tokenizer(user_dictionary_rules: list[str] | None = None,
                        decompound_mode: str = "discard",
                        discard_punctuation: bool = True, **_):
    """nori_tokenizer factory (NoriTokenizerFactory): user_dictionary_rules
    ("surface" / "surface seg1 seg2 ..."), decompound_mode
    none|discard|mixed, discard_punctuation."""
    def fn(text: str) -> list[str]:
        from .cjk import nori_tokenize_rich

        return [t.surface for t in nori_tokenize_rich(
            text, user_rules=user_dictionary_rules,
            decompound_mode=decompound_mode,
            discard_punctuation=discard_punctuation)]

    return fn


TOKENIZER_FACTORIES = {
    "pattern": make_pattern_tokenizer,
    "char_group": make_char_group_tokenizer,
    "path_hierarchy": make_path_hierarchy_tokenizer,
    "ngram": make_ngram_tokenizer,
    "edge_ngram": make_edge_ngram_tokenizer,
    "simple_pattern": make_simple_pattern_tokenizer,
    "simple_pattern_split": make_simple_pattern_split_tokenizer,
    "kuromoji_tokenizer": make_kuromoji_tokenizer,
    "nori_tokenizer": make_nori_tokenizer,
}


# --- char filters (applied to the raw string BEFORE the tokenizer) ---------

def make_mapping_char_filter(mappings: list[str]):
    """mapping char filter: ["a=>b", ...] literal replacements.

    SINGLE-PASS greedy longest-match like Lucene's MappingCharFilter —
    sequential str.replace would feed one rule's OUTPUT into later rules
    (["a=>b","b=>c"] turning "a" into "c" where the reference yields "b")."""
    pairs = [m.split("=>", 1) for m in mappings]
    pairs = sorted(
        ((a.strip(), b.strip()) for a, b in pairs),
        key=lambda ab: -len(ab[0]),
    )

    def fn(text: str) -> str:
        out, i = [], 0
        n = len(text)
        while i < n:
            for a, b in pairs:
                if a and text.startswith(a, i):
                    out.append(b)
                    i += len(a)
                    break
            else:
                out.append(text[i])
                i += 1
        return "".join(out)

    return fn


def make_pattern_replace_char_filter(pattern: str, replacement: str = ""):
    rx = re.compile(pattern)
    return lambda text: rx.sub(replacement, text)


def make_iteration_mark_char_filter(normalize_kanji: bool = True,
                                    normalize_kana: bool = True, **_):
    """kuromoji_iteration_mark char filter (functions/cjk.py) with the
    reference factory's normalize_kanji / normalize_kana flags."""
    def fn(text: str) -> str:
        from .cjk import iteration_mark_normalize

        return iteration_mark_normalize(text, normalize_kanji, normalize_kana)

    return fn


CHAR_FILTER_FACTORIES = {
    "mapping": lambda **kw: make_mapping_char_filter(kw["mappings"]),
    "pattern_replace": lambda **kw: make_pattern_replace_char_filter(
        kw["pattern"], kw.get("replacement", "")
    ),
    "html_strip": lambda **kw: html_strip,
    "kuromoji_iteration_mark": make_iteration_mark_char_filter,
}


ANALYZERS = {
    "standard": standard_tokenize,
    "regex_simple": regex_simple_tokenize,
    "english": english_analyze,
    "whitespace": whitespace_tokenize,
    "keyword": keyword_tokenize,
    "simple": lowercase_tokenize,
    "stop": lambda text: _filter_stop(lowercase_tokenize(text)),
}

# --- token filters (the AC/ factory layer, applied tokenizer-output-side) ---

# Lucene's _english_ stop set (StopAnalyzer/EnglishAnalyzer default; wired
# through S/index/analysis/StopTokenFilterFactory.java:22)
ENGLISH_STOP = frozenset(
    "a an and are as at be but by for if in into is it no not of on or such "
    "that the their then there these they this to was will with".split()
)


GERMAN_STOP = frozenset(
    "aber alle als also am an auch auf aus bei bin bis bist da damit dann der "
    "den des dem die das dass daß du er es ein eine einem einen einer eines "
    "für hatte hatten hier ich ihr ihre im in ist ja kann kein können mich "
    "mir mit nach nicht noch nun nur oder sehr sich sie sind so um und uns "
    "unser von vor war waren was weiter wie wieder wir wird zu zum zur".split()
)

FRENCH_STOP = frozenset(
    "au aux avec ce ces dans de des du elle en et eux il ils je la le les "
    "leur lui ma mais me même mes moi mon ne nos notre nous on ou par pas "
    "pour qu que qui sa se ses son sur ta te tes toi ton tu un une vos "
    "votre vous est été être sont".split()
)


def german_light_stem(w: str) -> str:
    """Lucene GermanLightStemmer (public algorithm): umlaut/ß folding +
    recursive plural/case-suffix stripping (nd/e/n/s/es/en/ern/er/em)."""
    w = (
        w.replace("ä", "a").replace("ö", "o").replace("ü", "u").replace("ß", "ss")
        .replace("ae", "a").replace("oe", "o").replace("ue", "u")
    )
    while len(w) > 4:
        if len(w) > 5 and (w.endswith("em") or w.endswith("er") or w.endswith("nd")):
            w = w[:-2]
            continue
        if w.endswith(("e", "s", "n")) and (len(w) > 4):
            w = w[:-1]
            continue
        break
    return w


def french_light_stem(w: str) -> str:
    """Lucene FrenchMinimalStemmer-style suffix strip (public): plural s/x,
    feminine e, common -tion/-ment endings left intact (minimal variant)."""
    if len(w) > 5 and w.endswith("aux"):
        return w[:-3] + "al"
    if len(w) > 3 and w.endswith(("x", "s")):
        w = w[:-1]
    if len(w) > 8 and w.endswith("issement"):
        return w[:-6]
    if len(w) > 4 and w.endswith("e") and not w.endswith("ée"):
        w = w[:-1]
    if len(w) > 4 and w[-1] == w[-2]:
        w = w[:-1]
    return w


_FR_ELISION = ("l'", "d'", "j'", "t'", "m'", "n'", "s'", "qu'", "c'",
               "l’", "d’", "j’", "t’", "m’", "n’", "s’", "qu’", "c’")


def german_analyze(text: str) -> list[str]:
    """`german` analyzer preset: standard + lowercase + german stop +
    german light stemmer (AC/CommonAnalysisPlugin german registration;
    light variant is the documented approximation of snowball german2)."""
    toks = standard_tokenize(text)
    return [german_light_stem(t) for t in toks if t not in GERMAN_STOP]


def french_analyze(text: str) -> list[str]:
    """`french` analyzer preset: elision char handling + standard +
    lowercase + french stop + minimal french stemmer."""
    toks = []
    for t in standard_tokenize(text):
        for pre in _FR_ELISION:
            if t.startswith(pre):
                t = t[len(pre):]
                break
        if t and t not in FRENCH_STOP:
            toks.append(french_light_stem(t))
    return toks


ANALYZERS["german"] = german_analyze
ANALYZERS["french"] = french_analyze


# --- additional language presets (AC/CommonAnalysisPlugin registrations) ----
# Each pairs the language's default stop set with Lucene's published LIGHT
# stemmer (Savoy, "Light Stemming Approaches for the French, Portuguese,
# German and Hungarian Languages", SAC 2006; Lucene analysis/{es,it,pt,ru,nl})
# — the light variants are the documented stand-ins for full snowball, same
# policy as the german/french presets above.

SPANISH_STOP = frozenset(
    "de la que el en y a los del se las por un para con no una su al lo como "
    "más pero sus le ya o este sí porque esta entre cuando muy sin sobre "
    "también me hasta hay donde quien desde todo nos durante todos uno les "
    "ni contra otros ese eso ante ellos e esto mí antes algunos qué unos yo "
    "otro otras otra él tanto esa estos mucho es son fue era".split()
)

ITALIAN_STOP = frozenset(
    "ad al allo ai agli alla alle con col coi da dal dallo dai dagli dalla "
    "dalle di del dello dei degli della delle in nel nello nei negli nella "
    "nelle su sul sullo sui sugli sulla sulle per tra contro io tu lui lei "
    "noi voi loro mio mia miei mie tuo tua tuoi tue suo sua suoi sue nostro "
    "nostra che chi non più quale quanto quanti ma ed se perché anche come "
    "dov dove il la lo i gli le una uno un è sono era essere ho ha hanno".split()
)

PORTUGUESE_STOP = frozenset(
    "de a o que e do da em um para é com não uma os no se na por mais as dos "
    "como mas foi ao ele das tem à seu sua ou ser quando muito há nos já "
    "está eu também só pelo pela até isso ela entre era depois sem mesmo aos "
    "ter seus quem nas me esse eles estão você tinha foram essa num nem suas "
    "meu às minha têm numa pelos elas havia seja qual será nós".split()
)

DUTCH_STOP = frozenset(
    "de en van ik te dat die in een hij het niet zijn is was op aan met als "
    "voor had er maar om hem dan zou of wat mijn men dit zo door over ze "
    "zich bij ook tot je mij uit der daar haar naar heb hoe heeft hebben "
    "deze u want nog zal me zij nu ge geen omdat iets worden toch al waren "
    "veel meer doen toen moet ben zonder kan hun dus alles onder ja eens "
    "hier wie werd altijd doch wordt wezen kunnen ons zelf tegen na reeds "
    "wil kon niets uw iemand geweest andere".split()
)

RUSSIAN_STOP = frozenset(
    "и в во не что он на я с со как а то все она так его но да ты к у же вы "
    "за бы по только ее мне было вот от меня еще нет о из ему теперь когда "
    "даже ну вдруг ли если уже или ни быть был него до вас нибудь опять уж "
    "вам ведь там потом себя ничего ей может они тут где есть надо ней для "
    "мы тебя их чем была сам чтоб без будто чего раз тоже себе под будет ж "
    "тогда кто этот того потому этого какой совсем ним здесь этом один "
    "почти мой тем чтобы нее сейчас были куда зачем всех никогда можно при "
    "об хоть после над больше тот через эти нас про всего них какая много "
    "разве три эту моя впрочем хорошо свою этой перед иногда лучше чуть том "
    "нельзя такой им более всегда конечно всю между это эта".split()
)

_ES_ACCENT = str.maketrans("áéíóúüàèìòù", "aeiouuaeiou")
_IT_ACCENT = str.maketrans("àèéìíîòóùú", "aeeiiioouu")
_PT_ACCENT = str.maketrans("áâãàéêíóôõúü", "aaaaeeiooouu")


def spanish_light_stem(w: str) -> str:
    """Lucene SpanishLightStemmer (public algorithm): accent folding +
    plural/gender suffix removal (-eses, -ces→z, -os/-as/-es, -o/-a/-e)."""
    if len(w) < 5:
        return w
    w = w.translate(_ES_ACCENT)
    if w.endswith("eses"):
        return w[:-2]
    if w.endswith("ces"):
        return w[:-3] + "z"
    if w.endswith(("os", "as", "es")):
        return w[:-2]
    if w.endswith(("o", "a", "e")):
        return w[:-1]
    return w


def italian_light_stem(w: str) -> str:
    """Lucene ItalianLightStemmer (public algorithm): accent folding + final
    vowel removal with the i/h digraph rule (-ie/-he→-2, -io/-ia→-2, else -1)."""
    if len(w) < 6:
        return w
    w = w.translate(_IT_ACCENT)
    last, prev = w[-1], w[-2]
    if last == "e":
        return w[:-2] if prev in ("i", "h") else w[:-1]
    if last == "i":
        return w[:-2] if prev in ("h", "i") else w[:-1]
    if last in ("a", "o"):
        return w[:-2] if prev == "i" else w[:-1]
    return w


def portuguese_light_stem(w: str) -> str:
    """Lucene PortugueseMinimalStemmer-style plural reduction (RSLP plural
    step, Orengo & Huyck 2001): -ões/-ães→ão, -ais→al, -éis/-eis→el,
    -óis→ol, -is→il, -ns→m, -les/-res keep the consonant, generic -s."""
    w = w.translate(_PT_ACCENT)
    if len(w) < 4 or not w.endswith("s"):
        return w
    if w.endswith(("oes", "aes")) and len(w) > 4:
        return w[:-3] + "ao"
    if w.endswith("ais") and len(w) > 4:
        return w[:-3] + "al"
    if w.endswith("eis") and len(w) > 4:
        return w[:-3] + "el"
    if w.endswith("ois") and len(w) > 4:
        return w[:-3] + "ol"
    if w.endswith("is") and len(w) > 4:
        return w[:-2] + "il"
    if w.endswith("ns") and len(w) > 3:
        return w[:-2] + "m"
    if w.endswith("ss"):
        return w
    return w[:-1]


_RU_ADJ_ENDINGS = (
    "иями", "ями", "ами", "ией", "иям", "ием", "иях",
    "ого", "ему", "ому", "его", "ыми", "ими", "ее", "ие", "ые", "ое",
    "ей", "ий", "ый", "ой", "ем", "им", "ым", "ом", "их", "ых",
    "ую", "юю", "ая", "яя", "ою", "ею", "ах", "ях", "ию", "ья", "ье",
    "ы", "ь", "е", "и", "о", "а", "у", "я", "й",
)


def russian_light_stem(w: str) -> str:
    """Lucene RussianLightStemmer (public algorithm): longest-match removal
    of common adjectival/nominal case endings, minimum stem length 3."""
    if len(w) < 4:
        return w
    for suf in _RU_ADJ_ENDINGS:
        if w.endswith(suf) and len(w) - len(suf) >= 3:
            return w[: -len(suf)]
    return w


def dutch_light_stem(w: str) -> str:
    """Dutch light stemmer (Kraaij-Pohlmann-lite, the documented snowball
    stand-in): -heden→heid, plural -en with doubled-consonant undoubling,
    genitive -s, final mute -e."""
    if len(w) > 7 and w.endswith("heden"):
        return w[:-5] + "heid"
    if len(w) > 5 and w.endswith("en") and w[-3] not in "aeiou":
        w = w[:-2]
        if len(w) > 3 and w[-1] == w[-2] and w[-1] not in "aeiou":
            w = w[:-1]
        return w
    if len(w) > 4 and w.endswith("s") and w[-2] not in "aeiou'":
        return w[:-1]
    if len(w) > 4 and w.endswith("e") and w[-2] not in "aeiou":
        return w[:-1]
    return w


def _make_lang_analyze(stop: frozenset, stem):
    def fn(text: str) -> list[str]:
        return [stem(t) for t in standard_tokenize(text) if t not in stop]
    return fn


# Lucene's stock analyzers: Spanish/Italian/Portuguese (and German/French
# above) use the LIGHT stemmers — that's the reference behavior, not an
# approximation; Dutch/Russian use the full Snowball algorithms
# (DutchAnalyzer / RussianAnalyzer wrap org.tartarus.snowball.ext.*)
ANALYZERS["spanish"] = _make_lang_analyze(SPANISH_STOP, spanish_light_stem)
ANALYZERS["italian"] = _make_lang_analyze(ITALIAN_STOP, italian_light_stem)
ANALYZERS["portuguese"] = _make_lang_analyze(PORTUGUESE_STOP, portuguese_light_stem)


def _snowball_dutch(t: str) -> str:
    from .snowball import dutch_stem
    return dutch_stem(t)


def _snowball_russian(t: str) -> str:
    from .snowball import russian_stem
    return russian_stem(t)


ANALYZERS["dutch"] = _make_lang_analyze(DUTCH_STOP, _snowball_dutch)
ANALYZERS["russian"] = _make_lang_analyze(RUSSIAN_STOP, _snowball_russian)

_LANG_STOP_SETS = {
    "_english_": ENGLISH_STOP, "_german_": GERMAN_STOP, "_french_": FRENCH_STOP,
    "_spanish_": SPANISH_STOP, "_italian_": ITALIAN_STOP,
    "_portuguese_": PORTUGUESE_STOP, "_dutch_": DUTCH_STOP,
    "_russian_": RUSSIAN_STOP,
}


def _filter_stop(toks: list[str], stopwords=ENGLISH_STOP, **_) -> list[str]:
    """stop token filter; `stopwords` accepts a concrete set/list or a named
    language set (`_english_`, `_spanish_`, …) per StopTokenFilterFactory."""
    if isinstance(stopwords, str):
        stopwords = _LANG_STOP_SETS.get(stopwords, ENGLISH_STOP)
    return [t for t in toks if t not in stopwords]


def _filter_asciifolding(toks: list[str], **_) -> list[str]:
    import unicodedata

    return [
        unicodedata.normalize("NFKD", t).encode("ascii", "ignore").decode("ascii") or t
        for t in toks
    ]


def _filter_icu_normalizer(toks: list[str], name: str = "nfkc_cf", **_) -> list[str]:
    """icu_normalizer (plugins/analysis-icu, ``IcuNormalizerTokenFilterFactory``):
    Unicode normalization. ``nfkc_cf`` (the ICU default) = NFKC + case fold —
    Python's unicodedata NFKC plus ``str.casefold()`` covers the same full
    case-folding tables; ``nfc``/``nfkc`` map directly."""
    import unicodedata

    form = {"nfc": "NFC", "nfkc": "NFKC", "nfkc_cf": "NFKC"}.get(name, "NFKC")
    out = []
    for t in toks:
        n = unicodedata.normalize(form, t)
        out.append(n.casefold() if name == "nfkc_cf" else n)
    return out


def _filter_icu_folding(toks: list[str], **_) -> list[str]:
    """icu_folding (``IcuFoldingTokenFilterFactory``): case folding +
    accent/diacritic stripping across scripts — NFKC case-fold, then NFKD
    with combining marks removed (the dominant part of ICU's foldings;
    script-specific digit/spacing foldings beyond Mn-stripping are not
    replicated — documented subset)."""
    import unicodedata

    out = []
    for t in toks:
        folded = unicodedata.normalize("NFKC", t).casefold()
        decomp = unicodedata.normalize("NFKD", folded)
        stripped = "".join(c for c in decomp if unicodedata.category(c) != "Mn")
        out.append(unicodedata.normalize("NFC", stripped) or t)
    return out


def _filter_shingle(toks: list[str], min_size=2, max_size=2, output_unigrams=True, **_) -> list[str]:
    out = list(toks) if output_unigrams else []
    for size in range(min_size, max_size + 1):
        out.extend(" ".join(toks[i : i + size]) for i in range(len(toks) - size + 1))
    return out


def _filter_ngram(toks: list[str], min_gram=1, max_gram=2, **_) -> list[str]:
    out = []
    for t in toks:
        for n in range(min_gram, max_gram + 1):
            out.extend(t[i : i + n] for i in range(len(t) - n + 1))
    return out


def _filter_edge_ngram(toks: list[str], min_gram=1, max_gram=10, **_) -> list[str]:
    out = []
    for t in toks:
        out.extend(t[:n] for n in range(min_gram, min(max_gram, len(t)) + 1))
    return out


_P_VOWEL = "aeiou"


def _p_is_cons(w: str, i: int) -> bool:
    c = w[i]
    if c in _P_VOWEL:
        return False
    if c == "y":
        return i == 0 or not _p_is_cons(w, i - 1)
    return True


def _p_measure(w: str) -> int:
    """Porter's m: the number of VC sequences in the [C](VC)^m[V] form."""
    m, i, n = 0, 0, len(w)
    while i < n and _p_is_cons(w, i):
        i += 1
    while i < n:
        while i < n and not _p_is_cons(w, i):
            i += 1
        if i >= n:
            break
        m += 1
        while i < n and _p_is_cons(w, i):
            i += 1
    return m


def _p_has_vowel(w: str) -> bool:
    return any(not _p_is_cons(w, i) for i in range(len(w)))


def _p_cvc(w: str) -> bool:
    return (
        len(w) >= 3
        and _p_is_cons(w, len(w) - 1)
        and not _p_is_cons(w, len(w) - 2)
        and _p_is_cons(w, len(w) - 3)
        and w[-1] not in "wxy"
    )


def porter_stem(w: str) -> str:
    """The Porter stemming algorithm (Porter 1980, "An algorithm for suffix
    stripping") — the reference's `porter`/`english` stemmer option
    (``S/index/analysis/StemmerTokenFilterFactory.java``; Lucene
    PorterStemFilter). Pure-python transcription of the published
    algorithm's five steps."""
    if len(w) <= 2:
        return w
    # step 1a
    if w.endswith("sses"):
        w = w[:-2]
    elif w.endswith("ies"):
        w = w[:-2]
    elif not w.endswith("ss") and w.endswith("s"):
        w = w[:-1]
    # step 1b
    if w.endswith("eed"):
        if _p_measure(w[:-3]) > 0:
            w = w[:-1]
    elif (w.endswith("ed") and _p_has_vowel(w[:-2])) or (
        w.endswith("ing") and _p_has_vowel(w[:-3])
    ):
        w = w[:-2] if w.endswith("ed") else w[:-3]
        if w.endswith(("at", "bl", "iz")):
            w += "e"
        elif (
            len(w) >= 2
            and w[-1] == w[-2]
            and _p_is_cons(w, len(w) - 1)
            and w[-1] not in "lsz"
        ):
            w = w[:-1]
        elif _p_measure(w) == 1 and _p_cvc(w):
            w += "e"
    # step 1c
    if w.endswith("y") and _p_has_vowel(w[:-1]):
        w = w[:-1] + "i"
    # step 2
    for suf, rep in (
        ("ational", "ate"), ("tional", "tion"), ("enci", "ence"), ("anci", "ance"),
        ("izer", "ize"), ("abli", "able"), ("alli", "al"), ("entli", "ent"),
        ("eli", "e"), ("ousli", "ous"), ("ization", "ize"), ("ation", "ate"),
        ("ator", "ate"), ("alism", "al"), ("iveness", "ive"), ("fulness", "ful"),
        ("ousness", "ous"), ("aliti", "al"), ("iviti", "ive"), ("biliti", "ble"),
    ):
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _p_measure(stem) > 0:
                w = stem + rep
            break
    # step 3
    for suf, rep in (
        ("icate", "ic"), ("ative", ""), ("alize", "al"), ("iciti", "ic"),
        ("ical", "ic"), ("ful", ""), ("ness", ""),
    ):
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if _p_measure(stem) > 0:
                w = stem + rep
            break
    # step 4
    for suf in (
        "al", "ance", "ence", "er", "ic", "able", "ible", "ant", "ement",
        "ment", "ent", "ion", "ou", "ism", "ate", "iti", "ous", "ive", "ize",
    ):
        if w.endswith(suf):
            stem = w[: -len(suf)]
            if suf == "ion" and (not stem or stem[-1] not in "st"):
                break
            if _p_measure(stem) > 1:
                w = stem
            break
    # step 5a
    if w.endswith("e"):
        stem = w[:-1]
        m = _p_measure(stem)
        if m > 1 or (m == 1 and not _p_cvc(stem)):
            w = stem
    # step 5b
    if len(w) >= 2 and w.endswith("ll") and _p_measure(w) > 1:
        w = w[:-1]
    return w


def _filter_porter(toks: list[str], **_) -> list[str]:
    return [porter_stem(t) for t in toks]


def _filter_stemmer_minimal_english(toks: list[str], **_) -> list[str]:
    """Minimal english s-stemmer (the reference's `minimal_english` stemmer
    option, kstem/porter are heavier variants of the same hook)."""
    out = []
    for t in toks:
        if len(t) > 3 and t.endswith("s") and not t.endswith(("ss", "us", "is")):
            if t.endswith("ies") and len(t) > 4:
                out.append(t[:-3] + "y")
            elif t.endswith("es") and t[-3] in "sxz":
                out.append(t[:-2])
            else:
                out.append(t[:-1])
        else:
            out.append(t)
    return out


def _filter_length(toks: list[str], min=1, max=255, **_) -> list[str]:  # noqa: A002
    return [t for t in toks if min <= len(t) <= max]


def _filter_unique(toks: list[str], **_) -> list[str]:
    return list(dict.fromkeys(toks))


def _filter_truncate(toks: list[str], length=10, **_) -> list[str]:
    return [t[:length] for t in toks]


def _filter_reverse(toks: list[str], **_) -> list[str]:
    return [t[::-1] for t in toks]


def _filter_synonym(toks: list[str], synonyms: dict | list | None = None, expand: bool = True, **_) -> list[str]:
    """synonym filter (AC/SynonymTokenFilterFactory.java, graph-lite):
    `synonyms` as {"term": ["syn1", ...]} or Solr-style ["a, b => c", "x, y"].
    expand=True emits the original token plus its synonyms at the same
    position (flattened — no position graph, matching how our postings
    treat multi-token positions today)."""
    table: dict[str, list[str]] = {}
    if isinstance(synonyms, dict):
        table = {k: list(v) for k, v in synonyms.items()}
    else:
        for rule in synonyms or []:
            if "=>" in rule:
                lhs, rhs = rule.split("=>")
                tgts = [t.strip() for t in rhs.split(",") if t.strip()]
                for src in (t.strip() for t in lhs.split(",")):
                    if src:
                        table[src] = tgts
            else:
                group = [t.strip() for t in rule.split(",") if t.strip()]
                for src in group:
                    # expand=false: every member of an equivalence group
                    # maps to the group's FIRST term (SynonymMap's
                    # canonical-term contract), not to the other members
                    table[src] = (
                        [t for t in group if t != src] if expand else [group[0]]
                    )
    out: list[str] = []
    for t in toks:
        if t in table:
            if expand:
                out.append(t)
            out.extend(table[t])
        else:
            out.append(t)
    return out


def _filter_lowercase(toks: list[str], **_) -> list[str]:
    return [t.lower() for t in toks]


def _filter_uppercase(toks: list[str], **_) -> list[str]:
    return [t.upper() for t in toks]


def _filter_trim(toks: list[str], **_) -> list[str]:
    return [t.strip() for t in toks]


def _filter_apostrophe(toks: list[str], **_) -> list[str]:
    """apostrophe filter (AC/ApostropheFilterFactory.java): strip the
    apostrophe and everything after it (Turkish possessives)."""
    out = []
    for t in toks:
        for ch in ("'", "’"):
            i = t.find(ch)
            if i >= 0:
                t = t[:i]
                break
        if t:
            out.append(t)
    return out


def _filter_decimal_digit(toks: list[str], **_) -> list[str]:
    """decimal_digit (AC/DecimalDigitFilterFactory.java): fold Unicode
    decimal digits (Arabic-Indic, Devanagari, …) to ASCII 0-9."""
    import unicodedata

    def fold(t: str) -> str:
        return "".join(
            str(unicodedata.decimal(c)) if unicodedata.category(c) == "Nd" else c
            for c in t
        )

    return [fold(t) for t in toks]


_WD_SPLIT = re.compile(r"[^0-9A-Za-z]+")
_WD_CASE = re.compile(r"(?<=[a-z])(?=[A-Z])|(?<=[A-Za-z])(?=[0-9])|(?<=[0-9])(?=[A-Za-z])")


def _filter_word_delimiter(
    toks: list[str],
    generate_word_parts: bool = True,
    generate_number_parts: bool = True,
    catenate_all: bool = False,
    preserve_original: bool = False,
    **_,
) -> list[str]:
    """word_delimiter (AC/WordDelimiterTokenFilterFactory.java, graph-lite):
    split on intra-word punctuation and case/letter-digit transitions
    ('PowerShot-500' → power, shot, 500); catenate_all adds the joined run,
    preserve_original keeps the input token."""
    out: list[str] = []
    for t in toks:
        parts: list[str] = []
        for chunk in _WD_SPLIT.split(t):
            if chunk:
                parts.extend(p for p in _WD_CASE.split(chunk) if p)
        emitted = [
            p.lower() for p in parts
            if (p.isdigit() and generate_number_parts) or (not p.isdigit() and generate_word_parts)
        ]
        if preserve_original and (len(parts) > 1 or (parts and parts[0] != t)):
            out.append(t.lower())
        out.extend(emitted)
        if catenate_all and len(parts) > 1:
            out.append("".join(parts).lower())
    return out


def _filter_keyword_repeat_stem(toks: list[str], **_) -> list[str]:
    """keyword_repeat + stemmer composition: emit the original and the
    stemmed form when they differ (the common exact+stemmed recall trick)."""
    out = []
    for t in toks:
        s = _filter_stemmer_minimal_english([t])[0]
        out.append(t)
        if s != t:
            out.append(s)
    return out


_CJK_SINGLE = re.compile(rf"^[{_HAN}]$")


def _filter_cjk_bigram(toks: list[str], output_unigrams: bool = False, **_) -> list[str]:
    """cjk_bigram token filter (AC/CJKBigramFilterFactory; Lucene
    CJKBigramFilter): runs of single-ideograph tokens (what the standard
    tokenizer emits for Han) re-emit as overlapping bigrams — the standard
    CJK search recall trick. ``output_unigrams`` also keeps the singles."""
    out: list[str] = []
    run: list[str] = []

    def flush():
        if len(run) == 1:
            out.append(run[0])
        else:
            if output_unigrams:
                out.extend(run)
            out.extend(run[i] + run[i + 1] for i in range(len(run) - 1))
        run.clear()

    for t in toks:
        if _CJK_SINGLE.match(t):
            run.append(t)
        else:
            if run:
                flush()
            out.append(t)
    if run:
        flush()
    return out


def cjk_analyze(text: str) -> list[str]:
    """`cjk` analyzer preset: standard tokenizer + cjk_bigram."""
    return _filter_cjk_bigram(standard_tokenize(text))


ANALYZERS["cjk"] = cjk_analyze


def fingerprint_analyze(text: str) -> list[str]:
    """fingerprint analyzer (FingerprintAnalyzerProvider.java): standard
    tokenizer → lowercase → asciifolding → fingerprint filter — one
    normalized, sorted, deduped token (OpenRefine-style clustering key)."""
    return _filter_fingerprint(_filter_asciifolding(standard_tokenize(text)))


def pattern_analyze(text: str) -> list[str]:
    """pattern analyzer (PatternAnalyzerProvider.java defaults): split on
    \\W+ and lowercase."""
    return [t.lower() for t in re.split(r"\W+", text) if t]


ANALYZERS["fingerprint"] = fingerprint_analyze
ANALYZERS["pattern"] = pattern_analyze


def _smartcn_analyze(text: str) -> list[str]:
    from .cjk import smartcn_analyze

    return smartcn_analyze(text)


def _icu_analyzer_analyze(text: str) -> list[str]:
    from .cjk import icu_analyzer_analyze

    return icu_analyzer_analyze(text)


# CJK segmentation analyzers (plugins/analysis-smartcn, analysis-icu):
# unigram-Viterbi lattice over an embedded lexicon — functions/cjk.py
ANALYZERS["smartcn"] = _smartcn_analyze
ANALYZERS["icu_analyzer"] = _icu_analyzer_analyze


def _kuromoji_analyze(text: str) -> list[str]:
    from .cjk import kuromoji_analyze

    return kuromoji_analyze(text)


def _nori_analyze(text: str) -> list[str]:
    from .cjk import nori_analyze

    return nori_analyze(text)


def _kuromoji_tokenize(text: str) -> list[str]:
    from .cjk import kuromoji_tokenize

    return kuromoji_tokenize(text)


def _nori_tokenize(text: str) -> list[str]:
    from .cjk import nori_tokenize

    return nori_tokenize(text)


def _filter_ja_stop(toks: list[str], stopwords: list[str] | str = "_japanese_", **_) -> list[str]:
    """ja_stop (analysis-kuromoji JapaneseStopTokenFilterFactory): the
    Lucene Japanese stopword set, an explicit list, or a list CONTAINING
    ``_japanese_`` plus extra words (the reference's stopword-list merge —
    KuromojiAnalysisTests pins ["_japanese_", "スピード"])."""
    from .cjk import JA_STOPWORDS

    if stopwords == "_japanese_":
        stops: set = set(JA_STOPWORDS)
    else:
        stops = set()
        for w in stopwords:
            if w == "_japanese_":
                stops |= JA_STOPWORDS
            else:
                stops.add(w)
    return [t for t in toks if t not in stops]


def _filter_kuromoji_baseform(toks: list[str], **_) -> list[str]:
    """kuromoji_baseform (JapaneseBaseFormFilter): conjugated surfaces →
    dictionary base form via the lattice lexicon (話し → 話す)."""
    from .cjk import ja_lookup

    return [ja_lookup(t).base or t for t in toks]


def _filter_kuromoji_pos(toks: list[str], stoptags: list[str] | None = None, **_) -> list[str]:
    """kuromoji_part_of_speech (JapanesePartOfSpeechStopFilter): drop
    tokens whose lexicon POS matches a stop tag (hierarchical prefix
    match; ``#``-prefixed entries are comments). Default stoptags = the
    JapaneseAnalyzer set."""
    from .cjk import DEFAULT_JA_STOPTAGS, ja_lookup, pos_matches

    tags = DEFAULT_JA_STOPTAGS if stoptags is None else stoptags
    return [t for t in toks if not pos_matches(ja_lookup(t).pos, tags)]


def _filter_kuromoji_stemmer(toks: list[str], minimum_length: int = 4, **_) -> list[str]:
    """kuromoji_stemmer (JapaneseKatakanaStemFilter): trailing ー strip."""
    from .cjk import katakana_stem

    return [katakana_stem(t, minimum_length) for t in toks]


def _filter_kuromoji_readingform(toks: list[str], use_romaji: bool = False, **_) -> list[str]:
    """kuromoji_readingform (JapaneseReadingFormFilter): tokens → their
    katakana readings from the lattice lexicon (kana surfaces katakana-ize,
    unknown kanji pass through); use_romaji adds the Lucene ToStringUtil
    ascii romanization (コンヤ → kon'ya, ロバート → robato — the reference
    vectors in KuromojiAnalysisTests testReadingFormFilterFactory)."""
    from .cjk import ja_reading, reading_to_romaji

    readings = [ja_reading(t) for t in toks]
    return [reading_to_romaji(r) for r in readings] if use_romaji else readings


def _filter_kuromoji_number(toks: list[str], **_) -> list[str]:
    from .cjk import ja_normalize_number

    return [ja_normalize_number(t) for t in toks]


def _filter_nori_number(toks: list[str], **_) -> list[str]:
    from .cjk import ko_normalize_number

    return [ko_normalize_number(t) for t in toks]


def _filter_nori_pos(toks: list[str], stoptags: list[str] | None = None, **_) -> list[str]:
    """nori_part_of_speech (KoreanPartOfSpeechStopFilter): drop tokens
    whose lexicon POS is in the stop-tag set (default = Lucene's
    DEFAULT_STOP_TAGS). Unknown hangul tokens get the documented
    josa-strip fallback (a noun outside the embedded lexicon glued to its
    particle)."""
    from .cjk import (DEFAULT_KO_STOPTAGS, KO_LEXICON, _is_hangul,
                      _strip_josa, ko_lookup, pos_matches)

    tags = DEFAULT_KO_STOPTAGS if stoptags is None else stoptags
    out = []
    for t in toks:
        if t in KO_LEXICON:
            if pos_matches(ko_lookup(t).pos, tags):
                continue
        elif t and _is_hangul(t[0]):
            t = _strip_josa(t)
        if t:
            out.append(t)
    return out


def _filter_kuromoji_completion(toks: list[str], mode: str = "index", **_) -> list[str]:
    """kuromoji_completion (JapaneseCompletionFilter): each token emits its
    surface AND the wapuro romaji of its reading; mode=query concatenates
    the tokens into one prefix unit — one shared emit step with the
    analyzer path (functions/cjk.py completion_emit; reference vectors in
    KuromojiAnalysisTests testCompletionFilterFactory)."""
    from .cjk import completion_emit

    return completion_emit(toks, mode)


def _filter_icu_collation(toks: list[str], language: str = "",
                          country: str = "", variant: str = "",
                          strength: str = "tertiary", numeric: bool = False,
                          case_first: str = "lower",
                          alternate: str = "non-ignorable",
                          case_level: bool = False,
                          variable_top: str | None = None,
                          rules: str | None = None,
                          **kw) -> list[str]:
    """icu_collation_keyword / icu_collation token filter (analysis-icu
    IcuCollationTokenFilterFactory): tokens → locale collation sort keys
    (hex-encoded UCA keys, functions/collation.py) so that lexical order
    of the emitted terms is the locale's linguistic order. The factory's
    camelCase option names (caseFirst/caseLevel/variableTop) are accepted
    alongside the snake_case forms; ``decomposition`` is accepted (input
    is always NFD-decomposed here); ``rules`` is the RuleBasedCollator
    tailoring-grammar subset (functions/collation.py)."""
    from .collation import sort_key_hex

    case_first = kw.get("caseFirst", case_first)
    case_level = kw.get("caseLevel", case_level)
    variable_top = kw.get("variableTop", variable_top)
    if isinstance(numeric, str):
        numeric = numeric == "true"
    if isinstance(case_level, str):
        case_level = case_level == "true"
    case_level = bool(case_level)
    locale = language
    if country:
        locale += "_" + country
    if variant:
        locale += "__" + variant
    return [sort_key_hex(t, locale=locale, strength=strength,
                         numeric=numeric, case_first=case_first,
                         alternate=alternate, case_level=case_level,
                         variable_top=variable_top, rules=rules)
            for t in toks]


def _filter_nori_readingform(toks: list[str], **_) -> list[str]:
    """nori_readingform (KoreanReadingFormFilter): hanja tokens → hangul
    readings (鄕歌 → 향가, NoriAnalysisTests testNoriReadingForm)."""
    from .cjk import ko_lookup

    out = []
    for t in toks:
        e = ko_lookup(t)
        out.append(e.reading if e.pos == "SH" and e.reading else t)
    return out


# Japanese/Korean analyzer presets (plugins/analysis-kuromoji,
# analysis-nori) — unigram-Viterbi lattice + POS/reading lexicon,
# functions/cjk.py (reference test vectors pinned in
# tests/test_cjk_reference_vectors.py)
ANALYZERS["kuromoji"] = _kuromoji_analyze
ANALYZERS["nori"] = _nori_analyze
TOKENIZERS["kuromoji_tokenizer"] = _kuromoji_tokenize
TOKENIZERS["nori_tokenizer"] = _nori_tokenize


def _filter_stemmer(toks: list[str], language: str = "minimal_english", name: str | None = None, **_) -> list[str]:
    """stemmer token filter with the reference's language dispatch
    (StemmerTokenFilterFactory.java): `porter` → Porter1; `english` →
    Porter1 stands in for Lucene's porter2 (documented approximation);
    `minimal_english` → the s-stemmer."""
    lang = name or language
    if lang in ("porter", "english", "light_english"):
        return _filter_porter(toks)
    # base language names map to the EXACT Snowball algorithms
    # (StemmerTokenFilterFactory.java: "german" → SnowballFilter(German),
    # "light_german" → GermanLightStemFilter, …); the light/minimal
    # variants keep the Lucene light stemmers implemented above
    from .snowball import (
        dutch_stem, french_stem, german2_stem, german_stem, italian_stem,
        portuguese_stem, russian_stem, spanish_stem)

    snowball_map = {
        "german": german_stem, "german2": german2_stem,
        "french": french_stem, "spanish": spanish_stem,
        "italian": italian_stem, "portuguese": portuguese_stem,
        "dutch": dutch_stem, "russian": russian_stem,
    }
    if lang in snowball_map:
        return [snowball_map[lang](t) for t in toks]
    if lang == "light_german":
        return [german_light_stem(t) for t in toks]
    if lang in ("light_french", "minimal_french"):
        return [french_light_stem(t) for t in toks]
    if lang == "light_spanish":
        return [spanish_light_stem(t) for t in toks]
    if lang == "light_italian":
        return [italian_light_stem(t) for t in toks]
    if lang in ("light_portuguese", "minimal_portuguese"):
        return [portuguese_light_stem(t) for t in toks]
    if lang == "dutch_kp":
        return [dutch_light_stem(t) for t in toks]
    if lang == "light_russian":
        return [russian_light_stem(t) for t in toks]
    return _filter_stemmer_minimal_english(toks)


def _filter_snowball(toks: list[str], language: str = "English", **_) -> list[str]:
    """`snowball` token filter (SnowballTokenFilterFactory.java):
    capitalized Snowball language names → the exact published algorithms;
    English falls back to Porter1 (the porter2 stand-in documented on
    `stemmer`)."""
    from .snowball import SNOWBALL

    fn = SNOWBALL.get(language)
    if fn is not None:
        return [fn(t) for t in toks]
    if language in ("English", "Porter", "Lovins"):
        return _filter_porter(toks)
    raise ValueError(f"unsupported snowball language: {language}")


def _soundex(word: str) -> str:
    """American Soundex (the classic 4-char letter+digit code)."""
    w = [c for c in word.upper() if "A" <= c <= "Z"]
    if not w:
        return ""
    codes = {
        **dict.fromkeys("BFPV", "1"), **dict.fromkeys("CGJKQSXZ", "2"),
        **dict.fromkeys("DT", "3"), "L": "4", **dict.fromkeys("MN", "5"), "R": "6",
    }
    out = w[0]
    prev = codes.get(w[0], "")
    for c in w[1:]:
        d = codes.get(c, "")
        if d and d != prev:
            out += d
            if len(out) == 4:
                break
        # H/W are transparent to the adjacency rule; vowels reset it
        if c not in "HW":
            prev = d
    return (out + "000")[:4]


_METAPHONE_VOWELS = "AEIOU"


def _metaphone(word: str) -> str:  # noqa: C901
    """Lawrence Philips' original Metaphone (1990), the `metaphone`
    encoder of the reference's phonetic plugin
    (``plugins/analysis-phonetic/.../PhoneticTokenFilterFactory.java`` →
    commons-codec ``Metaphone``). Unbounded length (the plugin default
    trims to 4; parameterized here)."""
    w = "".join(c for c in word.upper() if "A" <= c <= "Z")
    if not w:
        return ""
    # initial-letter exceptions
    if w[:2] in ("AE", "GN", "KN", "PN", "WR"):
        w = w[1:]
    elif w[:1] == "X":
        w = "S" + w[1:]
    elif w[:2] == "WH":
        w = "W" + w[2:]
    out = []
    i, n = 0, len(w)
    while i < n:
        c = w[i]
        if c in _METAPHONE_VOWELS:
            if i == 0:
                out.append(c)
            i += 1
            continue
        if i > 0 and c == w[i - 1] and c != "C":  # drop doubled letters
            i += 1
            continue
        nxt = w[i + 1] if i + 1 < n else ""
        nxt2 = w[i + 2] if i + 2 < n else ""
        if c == "B":
            if not (i == n - 1 and i > 0 and w[i - 1] == "M"):
                out.append("B")
        elif c == "C":
            if i > 0 and w[i - 1] == "S" and nxt in "IEY":
                pass  # silent in -SCI-/-SCE-/-SCY-
            elif nxt == "I" and nxt2 == "A":
                out.append("X")
            elif nxt == "H":
                out.append("K" if i > 0 and w[i - 1] == "S" else "X")
                i += 1
            elif nxt in "IEY":
                out.append("S")
            else:
                out.append("K")
        elif c == "D":
            if nxt == "G" and nxt2 in "EIY":
                out.append("J")
                i += 2
            else:
                out.append("T")
        elif c == "G":
            if nxt == "H":
                if i + 2 < n and w[i + 2] in _METAPHONE_VOWELS:
                    out.append("K")  # GH before vowel → K
                    i += 1
                # else silent (light/night)
                else:
                    i += 1
            elif nxt == "N":
                pass  # silent GN / GNED
            elif nxt in "EIY":
                out.append("J")
            else:
                out.append("K")
        elif c == "H":
            prev = w[i - 1] if i > 0 else ""
            if prev in _METAPHONE_VOWELS and nxt not in _METAPHONE_VOWELS:
                pass  # silent after vowel with no following vowel
            elif prev in "CSPTG":
                pass  # part of a digraph already handled
            else:
                out.append("H")
        elif c in "FJLMNR":
            out.append(c)
        elif c == "K":
            if not (i > 0 and w[i - 1] == "C"):
                out.append("K")
        elif c == "P":
            if nxt == "H":
                out.append("F")
                i += 1
            else:
                out.append("P")
        elif c == "Q":
            out.append("K")
        elif c == "S":
            if nxt == "H":
                out.append("X")
                i += 1
            elif nxt == "I" and nxt2 in "OA":
                out.append("X")
            else:
                out.append("S")
        elif c == "T":
            if nxt == "H":
                out.append("0")  # theta
                i += 1
            elif nxt == "I" and nxt2 in "OA":
                out.append("X")
            else:
                out.append("T")
        elif c == "V":
            out.append("F")
        elif c == "W":
            if nxt in _METAPHONE_VOWELS:
                out.append("W")
        elif c == "X":
            out.append("KS")
        elif c == "Y":
            if nxt in _METAPHONE_VOWELS:
                out.append("Y")
        elif c == "Z":
            out.append("S")
        i += 1
    return "".join(out)


# Daitch-Mokotoff soundex coding table (the published 1985 standard the
# reference's daitch_mokotoff encoder implements): pattern → (code at word
# start, code before a vowel, code otherwise); None = not coded; a list of
# tuples = BRANCHING alternatives (ambiguous groups like CH produce
# multiple codes). Longest pattern wins.
_DM_VOWELS = set("aeioujy")
_DM_RULES: dict = {
    "schtsch": [("2", "4", "4")], "schtsh": [("2", "4", "4")],
    "schtch": [("2", "4", "4")],
    "shtch": [("2", "4", "4")], "shtsh": [("2", "4", "4")],
    "stsch": [("2", "4", "4")], "szcz": [("2", "4", "4")],
    "szcs": [("2", "4", "4")], "stch": [("2", "4", "4")],
    "shch": [("2", "4", "4")], "strz": [("2", "4", "4")],
    "strs": [("2", "4", "4")], "stsh": [("2", "4", "4")],
    "schd": [("2", "43", "43")], "scht": [("2", "43", "43")],
    "zhdzh": [("2", "4", "4")], "zdzh": [("2", "4", "4")],
    "zdz": [("2", "4", "4")],
    "ttsch": [("4", "4", "4")], "ttch": [("4", "4", "4")],
    "tsch": [("4", "4", "4")], "ttsz": [("4", "4", "4")],
    "tch": [("4", "4", "4")], "trz": [("4", "4", "4")],
    "trs": [("4", "4", "4")], "tsh": [("4", "4", "4")],
    "tts": [("4", "4", "4")], "ttz": [("4", "4", "4")],
    "tzs": [("4", "4", "4")], "tsz": [("4", "4", "4")],
    "csz": [("4", "4", "4")], "czs": [("4", "4", "4")],
    "drz": [("4", "4", "4")], "drs": [("4", "4", "4")],
    "dsh": [("4", "4", "4")], "dsz": [("4", "4", "4")],
    "dzh": [("4", "4", "4")], "dzs": [("4", "4", "4")],
    "zsch": [("4", "4", "4")], "zsh": [("4", "4", "4")],
    "sch": [("4", "4", "4")], "sht": [("2", "43", "43")],
    "szt": [("2", "43", "43")], "shd": [("2", "43", "43")],
    "szd": [("2", "43", "43")],
    "chs": [("5", "54", "54")],
    "ch": [("5", "5", "5"), ("4", "4", "4")],
    "ck": [("5", "5", "5"), ("45", "45", "45")],
    "cz": [("4", "4", "4")], "cs": [("4", "4", "4")],
    "dt": [("3", "3", "3")], "ds": [("4", "4", "4")],
    "dz": [("4", "4", "4")],
    "fb": [("7", "7", "7")], "ks": [("5", "54", "54")],
    "mn": [("66", "66", "66")], "nm": [("66", "66", "66")],
    "pf": [("7", "7", "7")], "ph": [("7", "7", "7")],
    "rz": [("94", "94", "94"), ("4", "4", "4")],
    "rs": [("94", "94", "94"), ("4", "4", "4")],
    "sh": [("4", "4", "4")], "sc": [("2", "4", "4")],
    "st": [("2", "43", "43")], "sd": [("2", "43", "43")],
    "sz": [("4", "4", "4")],
    "th": [("3", "3", "3")], "ts": [("4", "4", "4")],
    "tc": [("4", "4", "4")], "tz": [("4", "4", "4")],
    "zd": [("2", "43", "43")], "zhd": [("2", "43", "43")],
    "zh": [("4", "4", "4")], "zs": [("4", "4", "4")],
    "ai": [("0", "1", None)], "aj": [("0", "1", None)],
    "ay": [("0", "1", None)],
    "ei": [("0", "1", None)], "ej": [("0", "1", None)],
    "ey": [("0", "1", None)],
    "oi": [("0", "1", None)], "oj": [("0", "1", None)],
    "oy": [("0", "1", None)],
    "ui": [("0", "1", None)], "uj": [("0", "1", None)],
    "uy": [("0", "1", None)],
    "au": [("0", "7", None)], "eu": [("1", "1", "1")],
    "ia": [("1", None, None)],
    "ie": [("1", None, None)], "io": [("1", None, None)],
    "iu": [("1", None, None)], "ue": [("0", None, None)],
    "a": [("0", None, None)], "b": [("7", "7", "7")],
    "c": [("5", "5", "5"), ("4", "4", "4")],
    "d": [("3", "3", "3")], "e": [("0", None, None)],
    "f": [("7", "7", "7")], "g": [("5", "5", "5")],
    "h": [("5", "5", None)], "i": [("0", None, None)],
    "j": [("1", None, None), ("4", "4", "4")],
    "k": [("5", "5", "5")], "l": [("8", "8", "8")],
    "m": [("6", "6", "6")], "n": [("6", "6", "6")],
    "o": [("0", None, None)], "p": [("7", "7", "7")],
    "q": [("5", "5", "5")], "r": [("9", "9", "9")],
    "s": [("4", "4", "4")], "t": [("3", "3", "3")],
    "u": [("0", None, None)], "v": [("7", "7", "7")],
    "w": [("7", "7", "7")], "x": [("5", "54", "54")],
    "y": [("1", None, None)], "z": [("4", "4", "4")],
}
_DM_MAX = max(len(p) for p in _DM_RULES)


def daitch_mokotoff(word: str) -> list[str]:
    """Daitch-Mokotoff soundex: 6-digit codes with BRANCHING on the
    ambiguous groups (CH/CK/C/J/RZ/RS), adjacent identical codes coded
    once — the reference plugin's daitch_mokotoff encoder
    (SimplePhoneticAnalysisTests pins chauptman → 473660, 573660).
    Returns the sorted distinct code set."""
    w = "".join(c for c in word.lower() if c.isalpha())
    if not w:
        return []
    codes: set = {("", None)}  # (digits so far, last emitted code)
    i, n = 0, len(w)
    while i < n:
        for ln in range(min(_DM_MAX, n - i), 0, -1):
            alts = _DM_RULES.get(w[i : i + ln])
            if alts is not None:
                break
        else:
            i += 1
            continue
        nxt_vowel = (i + ln < n and w[i + ln] in _DM_VOWELS)
        ctx = 0 if i == 0 else (1 if nxt_vowel else 2)
        new: set = set()
        for digits, last in codes:
            for alt in alts:
                code = alt[ctx]
                if code is None:
                    new.add((digits, None))  # vowel breaks the dedup chain
                elif code == last:
                    new.add((digits, last))  # adjacent same code: once
                else:
                    new.add((digits + code, code))
        codes = new
        i += ln
    return sorted({(d + "000000")[:6] for d, _ in codes})


def _filter_phonetic(
    toks: list[str], encoder: str = "metaphone", replace: bool = True,
    max_code_len: int = 4, **_,
) -> list[str]:
    """phonetic token filter (``plugins/analysis-phonetic``): soundex /
    metaphone / daitch_mokotoff encoding; ``replace=False`` keeps the
    original token next to its code (the plugin's inject mode)."""
    out: list[str] = []
    for t in toks:
        if encoder == "daitch_mokotoff":
            cs = daitch_mokotoff(t)
            if not cs:
                out.append(t)
            else:
                out.extend(cs if replace else [t, *cs])
            continue
        enc = _soundex if encoder == "soundex" else _metaphone
        code = enc(t)
        if encoder == "metaphone":
            code = code[:max_code_len]
        if not code:
            out.append(t)
            continue
        if replace:
            out.append(code)
        else:
            out.extend((t, code))
    return out


def _filter_limit(toks: list[str], max_token_count=1, consume_all_tokens=False, **_) -> list[str]:
    """limit token-count filter (LimitTokenCountFilterFactory.java): keep the
    first max_token_count tokens (default 1, the reference's default)."""
    return toks[: int(max_token_count)]


def _filter_fingerprint(toks: list[str], separator=" ", max_output_size=255, **_) -> list[str]:
    """fingerprint token filter (FingerprintTokenFilterFactory.java /
    Lucene FingerprintFilter): sort + dedupe the stream and concatenate into
    ONE token; if the result exceeds max_output_size the filter emits
    nothing (Lucene's overflow contract)."""
    joined = separator.join(sorted(set(toks)))
    return [joined] if joined and len(joined) <= int(max_output_size) else []


def _filter_common_grams(
    toks: list[str], common_words=None, query_mode=False, **_
) -> list[str]:
    """common_grams filter (CommonGramsTokenFilterFactory.java): for each
    adjacent pair where either member is a common word, emit the combined
    bigram "w1_w2" alongside the unigrams; query_mode
    (CommonGramsQueryFilter) keeps a common-word unigram only when it forms
    no bigram (bag-of-tokens rendering of Lucene's same-position graph)."""
    common = set(common_words or [])
    out: list[str] = []
    in_bigram = [False] * len(toks)
    for i, t in enumerate(toks):
        if i > 0 and (toks[i - 1] in common or t in common):
            out.append(f"{toks[i - 1]}_{t}")
            in_bigram[i - 1] = in_bigram[i] = True
    if query_mode:
        unis = [t for i, t in enumerate(toks) if not (t in common and in_bigram[i])]
    else:
        unis = list(toks)
    return unis + out


def _filter_min_hash(
    toks: list[str], bucket_count=512, hash_set_size=1, with_rotation=True, **_
) -> list[str]:
    """min_hash token filter (MinHashTokenFilterFactory.java / Lucene
    MinHashFilter): hash every input token (normally shingles), keep the
    minimum hash per bucket, and emit the surviving hashes as hex tokens —
    the per-document MinHash signature used for LSH dedup at index time.
    Documented subset: md5-derived 64-bit hashes stand in for Lucene's
    128-bit murmur; hash_count folded into bucket_count; with_rotation
    fills empty buckets from the next non-empty bucket circularly (the
    reference's default when hash_set_size == 1)."""
    import hashlib

    bucket_count = int(bucket_count)
    mins: list[int | None] = [None] * bucket_count
    for t in toks:
        h = int.from_bytes(hashlib.md5(t.encode()).digest()[:8], "big")
        b = h % bucket_count
        if mins[b] is None or h < mins[b]:
            mins[b] = h
    if with_rotation and any(m is not None for m in mins):
        filled = list(mins)
        for i in range(bucket_count):
            if filled[i] is None:
                j = (i + 1) % bucket_count
                while mins[j] is None:
                    j = (j + 1) % bucket_count
                filled[i] = mins[j]
        mins = filled
    return [f"{m:016x}" for m in mins if m is not None]


def _filter_keyword_marker(toks: list[str], keywords=None, **_) -> list[str]:
    """keyword_marker (KeywordMarkerTokenFilterFactory.java): marks tokens
    as keywords so downstream stemmers skip them. The marking itself is
    threaded through the chain by register_analyzer (the protected set);
    standalone application is the identity."""
    return toks


def _parse_override_rules(rules) -> dict[str, str]:
    out = {}
    for r in rules or []:
        lhs, _, rhs = r.partition("=>")
        out[lhs.strip()] = rhs.strip()
    return out


def _filter_stemmer_override(toks: list[str], rules=None, **_) -> list[str]:
    """stemmer_override (StemmerOverrideTokenFilterFactory.java): dictionary
    stems ("running => run") applied before algorithmic stemmers; overridden
    outputs are keyword-protected from later stemming (chain-threaded by
    register_analyzer, like keyword_marker)."""
    m = _parse_override_rules(rules)
    return [m.get(t, t) for t in toks]


def _filter_elision(toks: list[str], articles=None, articles_case: bool = False, **_) -> list[str]:
    """elision token filter (AC/ElisionTokenFilterFactory → Lucene
    ElisionFilter): strip a leading `article'` contraction. Default article
    set is the French one (the reference requires `articles` for custom
    configs; we default like the `french` preset)."""
    arts = [a.lower() for a in (articles or ["l", "m", "t", "qu", "n", "s", "j", "d", "c"])]
    out = []
    for t in toks:
        for apos in ("'", "’"):
            i = t.find(apos)
            if i > 0:
                # articles_case=true → case-INSENSITIVE matching (the stock
                # French analyzer depends on it: elision runs BEFORE
                # lowercase); false (the default) matches case-sensitively
                head = t[:i].lower() if articles_case else t[:i]
                if head in arts:
                    t = t[i + 1:]
                break
        if t:
            out.append(t)
    return out


def _filter_pattern_capture(toks: list[str], patterns=None, preserve_original: bool = True, **_) -> list[str]:
    """pattern_capture token filter (AC/PatternCaptureGroupTokenFilterFactory):
    emit every capture group of every pattern as an extra token; the original
    token is kept unless preserve_original=false (then only when nothing
    matched)."""
    pats = [re.compile(p) for p in (patterns or [])]
    out = []
    for t in toks:
        caught = []
        for p in pats:
            for m in p.finditer(t):
                caught.extend(g for g in m.groups() if g)
        if preserve_original or not caught:
            out.append(t)
            caught = [c for c in caught if c != t]
        out.extend(caught)
    return out


def _filter_delimited_payload(toks: list[str], delimiter: str = "|", **_) -> list[str]:
    """delimited_payload token filter (AC/DelimitedPayloadTokenFilterFactory):
    split `token|payload` and keep the token part (payload storage itself is
    a Lucene index detail our postings don't carry — the token stream effect
    is what analyzers observe)."""
    return [t.split(delimiter, 1)[0] for t in toks]


def _filter_pattern_replace(toks: list[str], pattern: str = "", replacement: str = "", all: bool = True, **_) -> list[str]:  # noqa: A002
    """pattern_replace TOKEN filter (AC/PatternReplaceTokenFilterFactory) —
    the token-stream sibling of the char filter; empty results are dropped."""
    pat = re.compile(pattern)
    out = []
    for t in toks:
        t2 = pat.sub(replacement, t, count=0 if all else 1)
        if t2:
            out.append(t2)
    return out




def _filter_cjk_width(toks: list[str], **_) -> list[str]:
    """cjk_width (``AC/CJKWidthFilterFactory.java`` / Lucene
    CJKWidthFilter): fold fullwidth ASCII variants (U+FF01-FF5E) to basic
    latin and halfwidth Katakana (U+FF65-FF9F) to fullwidth Katakana —
    exactly the NFKC mapping restricted to those two ranges."""
    import unicodedata

    def fold(t: str) -> str:
        return "".join(
            unicodedata.normalize("NFKC", ch)
            if ("\uff01" <= ch <= "\uff5e") or ("\uff65" <= ch <= "\uff9f")
            else ch
            for ch in t
        )

    return [fold(t) for t in toks]


_SCANDI_FOLD = {"å": "a", "ä": "a", "æ": "a", "ö": "o", "ø": "o",
                "Å": "a", "Ä": "a", "Æ": "a", "Ö": "o", "Ø": "o"}


def _filter_scandinavian_folding(toks: list[str], **_) -> list[str]:
    """scandinavian_folding (Lucene ScandinavianFoldingFilter): å/ä/æ→a,
    ö/ø→o, plus the double-vowel spellings aa→a, ae→a, ao→a, oe→o, oo→o
    (the discriminating-against-no-dialect fold)."""
    out = []
    for t in toks:
        r = "".join(_SCANDI_FOLD.get(c, c) for c in t)
        for dg, sg in (("aa", "a"), ("ae", "a"), ("ao", "a"), ("oe", "o"), ("oo", "o")):
            r = r.replace(dg, sg)
        out.append(r)
    return out


_SCANDI_NORM = {"æ": "ä", "Æ": "ä", "ø": "ö", "Ø": "ö", "å": "å", "Å": "å"}


def _filter_scandinavian_normalization(toks: list[str], **_) -> list[str]:
    """scandinavian_normalization (Lucene ScandinavianNormalizationFilter):
    unify the interchangeable Scandinavian spellings — ae→æ→ä kept as ä,
    oe/ø→ö, aa→å — WITHOUT the lossy a/o collapse of the folding filter."""
    out = []
    for t in toks:
        r = t.replace("aa", "å").replace("ae", "ä").replace("oe", "ö")
        r = "".join(_SCANDI_NORM.get(c, c) for c in r)
        out.append(r)
    return out


def _filter_german_normalization(toks: list[str], **_) -> list[str]:
    """german_normalization (Lucene GermanNormalizationFilter): ß→ss,
    umlauts folded (ä→a, ö→o, ü→u), and the digraph spellings ae/oe/ue
    reduced to a/o/u — except ue after q (quelle) per the Lucene
    heuristic."""
    out = []
    for t in toks:
        r = t.replace("ß", "ss")
        buf = []
        i = 0
        while i < len(r):
            c = r[i]
            if c in "aou" and i + 1 < len(r) and r[i + 1] == "e" and not (
                c == "u" and i > 0 and r[i - 1] == "q"
            ):
                buf.append(c)
                i += 2
                continue
            buf.append({"ä": "a", "ö": "o", "ü": "u"}.get(c, c))
            i += 1
        out.append("".join(buf))
    return out


_ARABIC_DIACRITICS = set("\u064b\u064c\u064d\u064e\u064f\u0650\u0651\u0652\u0640")


def _filter_arabic_normalization(toks: list[str], **_) -> list[str]:
    """arabic_normalization (Lucene ArabicNormalizationFilter): strip
    tashkeel diacritics + tatweel, normalize alef variants آأإ→ا, dotless
    ى→ي, and ة→ه."""
    table = {"\u0622": "\u0627", "\u0623": "\u0627", "\u0625": "\u0627",
             "\u0649": "\u064a", "\u0629": "\u0647"}
    return [
        "".join(table.get(c, c) for c in t if c not in _ARABIC_DIACRITICS)
        for t in toks
    ]


def _filter_persian_normalization(toks: list[str], **_) -> list[str]:
    """persian_normalization (Lucene PersianNormalizationFilter): Arabic
    kaf/yeh folded to the Farsi forms (ك→ک, ي/ى→ی), heh variants → ه,
    zero-width non-joiner → space-less join, tatweel stripped."""
    table = {"\u0643": "\u06a9", "\u064a": "\u06cc", "\u0649": "\u06cc",
             "\u0647\u0654": "\u0647", "\u06c0": "\u0647", "\u06be": "\u0647"}
    drop = {"\u0640", "\u200c"}
    return [
        "".join(table.get(c, c) for c in t if c not in drop) for t in toks
    ]


def _filter_keep(toks: list[str], keep_words=(), **_) -> list[str]:
    """keep (``AC/KeepWordFilterFactory.java``): keep ONLY the listed
    words — the complement of stop."""
    ks = set(keep_words)
    return [t for t in toks if t in ks]


def _filter_keep_types(toks: list[str], types=("<ALPHANUM>",), mode: str = "include", **_) -> list[str]:
    """keep_types (``AC/KeepTypesFilterFactory.java``): filter by the
    standard tokenizer's token type. Our flat token stream re-derives the
    two types the standard tokenizer emits over [a-z0-9] text: <NUM> for
    all-digit tokens, <ALPHANUM> otherwise (documented subset)."""
    want = set(types)
    def ty(t: str) -> str:
        return "<NUM>" if t.isdigit() else "<ALPHANUM>"
    if mode == "exclude":
        return [t for t in toks if ty(t) not in want]
    return [t for t in toks if ty(t) in want]


def _filter_remove_duplicates(toks: list[str], **_) -> list[str]:
    """remove_duplicates (``AC/RemoveDuplicatesTokenFilterFactory.java``):
    drop ADJACENT duplicate tokens (same term at the same position; in our
    flat position model that is consecutive repeats — unlike `unique`,
    non-adjacent repeats survive)."""
    out = []
    for t in toks:
        if not out or out[-1] != t:
            out.append(t)
    return out


class _JStr(str):
    """Java-String shim for the token-script Painless subset."""

    def length(self):  # noqa: D102
        return len(self)

    def contains(self, s):
        return s in self

    def startsWith(self, s):  # noqa: N802
        return self.startswith(s)

    def endsWith(self, s):  # noqa: N802
        return self.endswith(s)

    def matches(self, p):
        return re.fullmatch(p, self) is not None


class _ScriptToken:
    """The `token` variable of the analysis predicate script context
    (Lucene ``AnalysisPredicateScript.Token``)."""

    def __init__(self, term: str, position: int):
        self.term = _JStr(term)
        self.position = position

    def getTerm(self):  # noqa: N802
        return self.term

    def getPosition(self):  # noqa: N802
        return self.position


_STRING_LIT_RE = re.compile(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"")
_TOKEN_PRED_CACHE: dict[str, object] = {}


def _token_script_pred(script):
    """Compile a condition/predicate_token_filter script into a Python
    predicate over (term, position).

    Painless-analog subset (consistent with the engine's SQL-expr Painless
    stance elsewhere): the ``token`` variable with getTerm()/term and
    getPosition()/position, Java String methods length/contains/startsWith/
    endsWith/matches, the true/false/null literals, and &&, ||, !.
    Evaluated with no builtins and a dunder guard — a deterministic
    trusted-config evaluator (same trust model as the engine's SQL-expr
    scripts), not a hostile-input sandbox."""
    src = script["source"] if isinstance(script, dict) else script
    if src in _TOKEN_PRED_CACHE:
        return _TOKEN_PRED_CACHE[src]
    # stash string literals FIRST so '&&' / '!' inside them stay data
    # (same stash-first invariant as the ES|QL/EQL dialect rewrites)
    lits: list[str] = []

    def _stash(m):
        lits.append(m.group(0))
        return f"__lit{len(lits) - 1}__"

    expr = _STRING_LIT_RE.sub(_stash, src)
    if "__" in re.sub(r"__lit\d+__", "", expr):
        raise ValueError("analysis predicate scripts may not contain '__'")
    expr = expr.replace("&&", " and ").replace("||", " or ")
    expr = re.sub(r"!(?!=)", " not ", expr)
    for i, lit in enumerate(lits):
        expr = expr.replace(f"__lit{i}__", lit)
    code = compile(expr, "<analysis-predicate>", "eval")
    consts = {"true": True, "false": False, "null": None}

    def pred(term: str, position: int) -> bool:
        return bool(eval(  # noqa: S307 — no builtins, dunder-guarded
            code, {"__builtins__": {}},
            {"token": _ScriptToken(term, position), **consts},
        ))

    _TOKEN_PRED_CACHE[src] = pred
    return pred


def _resolve_subchain(filters):
    """[name | (name, params) | "name1, name2"] → list of bound filter fns
    (the multiplexer's comma-chain spelling included)."""
    steps = []
    for fspec in filters or []:
        if isinstance(fspec, str):
            for part in fspec.split(","):
                steps.append((TOKEN_FILTERS[part.strip()], {}))
        else:
            fname, params = fspec
            steps.append((TOKEN_FILTERS[fname], params))
    return steps


def _filter_condition(toks: list[str], filter: list | None = None, script=None, **_) -> list[str]:  # noqa: A002
    """condition filter (AC/ScriptedConditionTokenFilterFactory.java): apply
    the wrapped filter chain only to tokens the script predicate accepts;
    other tokens pass through untouched. The sub-chain runs per accepted
    token (the common single-token filters: stemmers, case, reverse, …);
    stream-wide wrapped filters (shingle/cjk_bigram) would need the gated
    SUBSEQUENCE view the reference builds and are refused by shape here —
    they see one-token streams and emit accordingly."""
    pred = _token_script_pred(script or {"source": "true"})
    steps = _resolve_subchain(filter)
    out: list[str] = []
    for i, t in enumerate(toks):
        if pred(t, i):
            sub = [t]
            for ff, params in steps:
                sub = ff(sub, **params)
            out.extend(sub)
        else:
            out.append(t)
    return out


def _filter_predicate(toks: list[str], script=None, **_) -> list[str]:
    """predicate_token_filter (AC/PredicateTokenFilterScriptFactory.java):
    keep only tokens the script predicate accepts."""
    pred = _token_script_pred(script or {"source": "true"})
    return [t for i, t in enumerate(toks) if pred(t, i)]


def _filter_multiplexer(
    toks: list[str], filters: list | None = None, preserve_original: bool = True, **_
) -> list[str]:
    """multiplexer (AC/MultiplexerTokenFilterFactory.java): emit each token
    through EACH comma-separated filter chain at the same position (plus the
    original when preserve_original), deduping identical same-position
    outputs — the reference's RemoveDuplicatesTokenFilter step."""
    chains = [_resolve_subchain([spec]) for spec in (filters or [])]
    out: list[str] = []
    for t in toks:
        seen: list[str] = []
        if preserve_original:
            seen.append(t)
        for steps in chains:
            sub = [t]
            for ff, params in steps:
                sub = ff(sub, **params)
            for s in sub:
                if s not in seen:
                    seen.append(s)
        out.extend(seen)
    return out


def _filter_dictionary_decompounder(
    toks: list[str], word_list=(), min_word_size: int = 5,
    min_subword_size: int = 2, max_subword_size: int = 15,
    only_longest_match: bool = False, **_,
) -> list[str]:
    """dictionary_decompounder (AC/DictionaryCompoundWordTokenFilterFactory
    .java): for each token of at least min_word_size, emit the original plus
    every dictionary word found as a substring within the subword size
    bounds; only_longest_match keeps just the longest hit per start offset
    (Lucene's DictionaryCompoundWordTokenFilter contract)."""
    words = [w.lower() for w in word_list
             if min_subword_size <= len(w) <= max_subword_size]
    out: list[str] = []
    for t in toks:
        out.append(t)
        if len(t) < min_word_size:
            continue
        for i in range(len(t)):
            best = None
            for w in words:
                if t.startswith(w, i) and len(w) <= len(t):
                    if only_longest_match:
                        if best is None or len(w) > len(best):
                            best = w
                    else:
                        out.append(w)
            if only_longest_match and best is not None:
                out.append(best)
    return out


def _filter_hyphenation_decompounder(toks: list[str], **kw) -> list[str]:
    """hyphenation_decompounder (AC/HyphenationCompoundWordTokenFilter
    Factory.java): the reference intersects FOP hyphenation-pattern break
    points with the dictionary; no hyphenation-pattern XML ships in this
    environment, so candidates degrade to the dictionary substring scan —
    same word_list/size/only_longest_match contract, a documented SUPERSET
    of the hyphenation-gated output (every pattern-gated subword is also a
    dictionary substring)."""
    return _filter_dictionary_decompounder(toks, **kw)


_KSTEM_ENDINGS = (
    # (suffix, replacement, min stem length) — the dictionary-free core of
    # Lucene's KStemmer (kstem filter, AC/KStemTokenFilterFactory.java):
    # inflectional plurals and -ed/-ing with e-restoration heuristics. The
    # reference additionally consults a built-in exception lexicon;
    # divergences are the lexicon's irregulars (documented, pinned by tests).
    ("ies", "y", 2), ("sses", "ss", 2), ("ches", "ch", 2), ("shes", "sh", 2),
    ("xes", "x", 2), ("zes", "z", 2),
    ("ied", "y", 2), ("ing", "", 3), ("ed", "", 3),
)


def kstem(w: str) -> str:
    if len(w) < 4 or not w.isalpha():
        # KStemmer's 3-char minimum stem: words shorter than 4 never change
        return w
    if w.endswith(("ss", "us", "is")):
        return w
    for suf, rep, minlen in _KSTEM_ENDINGS:
        if w.endswith(suf) and len(w) - len(suf) >= minlen:
            stem = w[: len(w) - len(suf)] + rep
            # undo consonant doubling: "fitted" → "fit", "running" → "run"
            # (e-restoration like "hoping" → "hope" needs the reference's
            # lexicon to separate it from "hoping" vs "hopping"; divergence
            # documented above)
            if suf in ("ing", "ed") and len(stem) >= 2 \
                    and stem[-1] == stem[-2] and stem[-1] not in "lsz":
                stem = stem[:-1]
            return stem
    # plain plural: "tables" → "table", "makes" → "make" (the -es words the
    # suffix table doesn't claim still strip one 's' — Lucene KStem strips
    # the plural then consults its lexicon; we keep the strip)
    if w.endswith("s") and len(w) >= 4:
        return w[:-1]
    return w


def _filter_kstem(toks: list[str], **_) -> list[str]:
    return [kstem(t) for t in toks]


def _parse_hunspell(dic: list[str], aff: list[str]):
    """Parse the SFX/PFX subset of hunspell .aff rules plus a .dic word list.

    Returns (words: {word: flagset}, sfx: [(flag, strip, add, cond_re)],
    pfx likewise). Supported .aff grammar (the part Lucene's Dictionary.java
    exercises for stemming): ``SFX F Y n`` headers followed by
    ``SFX F strip add condition`` rules, 0 meaning empty strip; same for PFX.
    Unsupported directives are ignored (REP/MAP/TRY are suggestion-side)."""
    words: dict[str, frozenset] = {}
    for line in dic:
        line = line.strip()
        if not line or line.isdigit() or line.startswith("#"):
            continue
        word, _, flags = line.partition("/")
        words[word.lower()] = frozenset(flags.strip())
    sfx, pfx = [], []
    for line in aff:
        parts = line.split()
        # headers are 4 fields (``SFX F Y count``); rules are ≥5
        if len(parts) >= 5 and parts[0] in ("SFX", "PFX"):
            kind, flag, strip, add, cond = parts[0], parts[1], parts[2], parts[3], parts[4]
            strip = "" if strip == "0" else strip.lower()
            add = "" if add == "0" else add.split("/")[0].lower()
            try:
                # hunspell conditions anchor to where the affix attaches:
                # suffix conditions match the END of the root, prefix
                # conditions its BEGINNING
                if cond == ".":
                    cond_re = None
                elif kind == "SFX":
                    cond_re = re.compile(cond.lower() + "$")
                else:
                    cond_re = re.compile("^" + cond.lower())
            except re.error:
                continue
            (sfx if kind == "SFX" else pfx).append((flag, strip, add, cond_re))
    return words, sfx, pfx


_HUNSPELL_CACHE: dict[tuple, tuple] = {}


def make_hunspell_filter(dictionary_rules: list[str] | None = None,
                         dictionary: list[str] | None = None,
                         dedup: bool = True, longest_only: bool = False, **_):
    """hunspell filter (AC/HunspellTokenFilterFactory.java → Lucene
    HunspellStemFilter): dictionary-driven stemming. The reference loads
    locale dictionaries from config/hunspell/<lang>; none ship in this
    environment, so the dictionary is INLINE — ``dictionary`` (.dic lines)
    + ``dictionary_rules`` (.aff lines) — with the same stemming semantics:
    a token stems to every dictionary word that regenerates it through one
    suffix/prefix rule carrying that word's flag; dictionary words map to
    themselves; unknown tokens pass through. Parsed dictionaries are cached
    per (dic, aff) so per-document filter calls don't re-parse."""
    ck = (tuple(dictionary or []), tuple(dictionary_rules or []))
    if ck not in _HUNSPELL_CACHE:
        _HUNSPELL_CACHE[ck] = _parse_hunspell(dictionary or [], dictionary_rules or [])
    words, sfx, pfx = _HUNSPELL_CACHE[ck]

    def stems(t: str) -> list[str]:
        out = []
        if t in words:
            out.append(t)
        for flag, strip, add, cond in sfx:
            if add and t.endswith(add):
                stem = t[: len(t) - len(add)] + strip
                if stem in words and flag in words[stem] \
                        and (cond is None or cond.search(stem)):
                    out.append(stem)
        for flag, strip, add, cond in pfx:
            if add and t.startswith(add):
                stem = strip + t[len(add):]
                if stem in words and flag in words[stem] \
                        and (cond is None or cond.search(stem)):
                    out.append(stem)
        return out

    def fn(toks: list[str], **__) -> list[str]:
        out: list[str] = []
        for t in toks:
            st = stems(t)
            if not st:
                out.append(t)
            elif longest_only:
                out.append(max(st, key=len))
            else:
                seen = []
                for s in st:
                    if not dedup or s not in seen:
                        seen.append(s)
                out.extend(seen)
        return out

    return fn


def _filter_hunspell(toks: list[str], **kw) -> list[str]:
    return make_hunspell_filter(**kw)(toks)


def _filter_classic(toks: list[str], **_) -> list[str]:
    """classic filter (Lucene ClassicFilter): strip trailing possessive 's
    and remove dots from acronyms produced by the classic tokenizer."""
    out = []
    for t in toks:
        if t.endswith("'s") or t.endswith("’s"):
            t = t[:-2]
        if re.fullmatch(r"(?:[^\W\d_]\.){2,}", t):
            t = t.replace(".", "")
        out.append(t)
    return out


TOKEN_FILTERS = {
    "phonetic": _filter_phonetic,
    "elision": _filter_elision,
    "pattern_capture": _filter_pattern_capture,
    "delimited_payload": _filter_delimited_payload,
    "pattern_replace": _filter_pattern_replace,
    # graph-flattening is an index-time no-op for our position model (we
    # already emit a flat stream); registered so chains naming it resolve
    "flatten_graph": lambda toks, **_: toks,
    "synonym": _filter_synonym,
    "stop": _filter_stop,
    "asciifolding": _filter_asciifolding,
    "icu_normalizer": _filter_icu_normalizer,
    "icu_folding": _filter_icu_folding,
    "shingle": _filter_shingle,
    "ngram": _filter_ngram,
    "edge_ngram": _filter_edge_ngram,
    "stemmer": _filter_stemmer,
    "snowball": _filter_snowball,
    "porter_stem": _filter_porter,
    "cjk_bigram": _filter_cjk_bigram,
    "cjk_width": _filter_cjk_width,
    "scandinavian_folding": _filter_scandinavian_folding,
    "scandinavian_normalization": _filter_scandinavian_normalization,
    "german_normalization": _filter_german_normalization,
    "arabic_normalization": _filter_arabic_normalization,
    "persian_normalization": _filter_persian_normalization,
    "keep": _filter_keep,
    "keep_types": _filter_keep_types,
    "remove_duplicates": _filter_remove_duplicates,
    "length": _filter_length,
    "unique": _filter_unique,
    "truncate": _filter_truncate,
    "reverse": _filter_reverse,
    "lowercase": _filter_lowercase,
    "uppercase": _filter_uppercase,
    "trim": _filter_trim,
    "apostrophe": _filter_apostrophe,
    "decimal_digit": _filter_decimal_digit,
    "word_delimiter": _filter_word_delimiter,
    "word_delimiter_graph": _filter_word_delimiter,
    "keyword_repeat_stem": _filter_keyword_repeat_stem,
    "limit": _filter_limit,
    "fingerprint": _filter_fingerprint,
    "common_grams": _filter_common_grams,
    "min_hash": _filter_min_hash,
    "keyword_marker": _filter_keyword_marker,
    "stemmer_override": _filter_stemmer_override,
    "condition": _filter_condition,
    "predicate_token_filter": _filter_predicate,
    "multiplexer": _filter_multiplexer,
    "dictionary_decompounder": _filter_dictionary_decompounder,
    "hyphenation_decompounder": _filter_hyphenation_decompounder,
    "kstem": _filter_kstem,
    "classic": _filter_classic,
    "hunspell": _filter_hunspell,
    # synonym_graph differs from synonym only in emitting a position GRAPH
    # for multi-token rules; our postings flatten positions (same stance as
    # flatten_graph above), so the flat expansion is the whole contract here
    "synonym_graph": _filter_synonym,
    # Japanese/Korean dictionary-free filters (analysis-kuromoji,
    # analysis-nori) — functions/cjk.py; kuromoji_baseform and the POS-tag
    # filters need the lattice dictionary and stay unregistered (unknown
    # filter names raise in the config path)
    "ja_stop": _filter_ja_stop,
    "kuromoji_stemmer": _filter_kuromoji_stemmer,
    "kuromoji_readingform": _filter_kuromoji_readingform,
    "kuromoji_number": _filter_kuromoji_number,
    "kuromoji_baseform": _filter_kuromoji_baseform,
    "kuromoji_part_of_speech": _filter_kuromoji_pos,
    "kuromoji_completion": _filter_kuromoji_completion,
    "nori_number": _filter_nori_number,
    "nori_part_of_speech": _filter_nori_pos,
    "nori_readingform": _filter_nori_readingform,
    "icu_collation_keyword": _filter_icu_collation,
}

# stemming filters that honor the keyword-protected set threaded through a
# custom chain by keyword_marker / stemmer_override
_STEMMER_FILTERS = (
    _filter_stemmer, _filter_porter, _filter_stemmer_minimal_english,
    # kstem/hunspell honor KeywordAttribute in the reference too — omitting
    # them let keyword_marker-protected tokens be stemmed anyway
    _filter_kstem, _filter_hunspell,
)


# --- normalizers (keyword-field normalization; no tokenization) -------------
# CustomNormalizerProvider.java: char filters + a non-splitting subset of
# token filters applied to the WHOLE keyword value

NORMALIZERS: dict = {
    "lowercase": lambda v: v.lower(),
}


def register_normalizer(
    name: str, filters: list | None = None, char_filters: list | None = None
) -> None:
    cf_fns = []
    for cf in char_filters or []:
        if isinstance(cf, str):
            cf_fns.append(CHAR_FILTER_FACTORIES[cf]())
        else:
            cf_name, params = cf
            cf_fns.append(CHAR_FILTER_FACTORIES[cf_name](**params))
    specs = []
    for fspec in filters or []:
        if isinstance(fspec, str):
            specs.append((TOKEN_FILTERS[fspec], {}))
        else:
            fname, params = fspec
            specs.append((TOKEN_FILTERS[fname], params))

    def fn(value: str) -> str:
        for cf in cf_fns:
            value = cf(value)
        toks = [value]
        for ff, params in specs:
            toks = ff(toks, **params)
        return toks[0] if toks else ""

    NORMALIZERS[name] = fn


def normalize(value: str, normalizer: str = "lowercase") -> str:
    return NORMALIZERS[normalizer](value)


# configs of registered custom analyzers — shipped to executors so a chain
# registered on the driver can be re-materialized inside a task (executors
# import this module fresh from the --py-files zip)
ANALYZER_CONFIGS: dict[str, tuple] = {}


def register_analyzer(
    name: str,
    tokenizer="standard",
    filters: list | None = None,
    char_filters: list | None = None,
) -> None:
    """Register a custom analyzer chain (the CustomAnalyzer /
    AnalysisRegistry model, ``S/index/analysis/AnalysisRegistry.java:646``):
    char filters (raw-string stage) → tokenizer → ordered token filters.
    The tokenizer is a name or a (name, params) pair for the parameterized
    tokenizers (pattern / char_group / path_hierarchy); filters and char
    filters likewise name or (name, params)."""
    ANALYZER_CONFIGS[name] = (tokenizer, list(filters or []), list(char_filters or []))
    cf_fns, base, specs = _build_chain(tokenizer, filters, char_filters)

    def fn(text: str) -> list[str]:
        return _run_chain(text, cf_fns, base, specs)

    ANALYZERS[name] = fn


def _build_chain(tokenizer, filters, char_filters):
    """Resolve a (tokenizer, filters, char_filters) config to callables."""
    if isinstance(tokenizer, (list, tuple)):
        tk_name, tk_params = tokenizer
        base = TOKENIZER_FACTORIES[tk_name](**tk_params)
    elif tokenizer in TOKENIZERS:
        base = TOKENIZERS[tokenizer]
    else:
        base = ANALYZERS[tokenizer]
    cf_fns = []
    for cf in char_filters or []:
        if isinstance(cf, str):
            cf_fns.append(CHAR_FILTER_FACTORIES[cf]())
        else:
            cf_name, params = cf
            cf_fns.append(CHAR_FILTER_FACTORIES[cf_name](**params))
    specs = []
    for fspec in filters or []:
        if isinstance(fspec, str):
            specs.append((TOKEN_FILTERS[fspec], {}))
        elif isinstance(fspec, dict):
            # ES inline-definition form: {"type": name, ...params}
            params = dict(fspec)
            fname = params.pop("type")
            specs.append((TOKEN_FILTERS[fname], params))
        else:
            fname, params = fspec
            specs.append((TOKEN_FILTERS[fname], params))
    return cf_fns, base, specs


def _run_chain(text: str, cf_fns, base, specs, stages: list | None = None):
    """Execute one analyzer chain; ``stages`` (when given) collects the
    token stream after each filter stage — the ``explain=true`` detail."""
    for cf in cf_fns:
        text = cf(text)
        if stages is not None:
            stages.append(("charfilter", text))
    toks = base(text)
    if stages is not None:
        stages.append(("tokenizer", list(toks)))
    # keyword protection (KeywordAttribute analog): keyword_marker and
    # stemmer_override outputs are skipped by downstream stemmers
    protected: set[str] = set()
    for ff, params in specs:
        if ff is _filter_keyword_marker:
            protected |= set(params.get("keywords") or [])
        elif ff is _filter_stemmer_override:
            rules = _parse_override_rules(params.get("rules"))
            toks = [rules.get(t, t) for t in toks]
            protected |= set(rules.values())
        elif protected and ff in _STEMMER_FILTERS:
            toks = [
                t if t in protected else ff([t], **params)[0] for t in toks
            ]
        else:
            toks = ff(toks, **params)
        if stages is not None:
            stages.append(("tokenfilter", list(toks)))
    return toks


def analyze(text: str, analyzer: str = "standard") -> list[str]:
    return ANALYZERS[analyzer](text)


def analyze_explain(text: str, analyzer: str = "standard") -> dict:
    """``_analyze`` with ``explain=true``
    (TransportAnalyzeAction.detailAnalyze → DetailAnalyzeResponse): the
    char-filtered text, the tokenizer's output, then each token filter's
    stream, each stage named by its configured filter."""
    cfg = ANALYZER_CONFIGS.get(analyzer)
    if cfg is None:
        # built-in preset: one analyzer-level stream (the reference reports
        # non-custom analyzers the same way)
        return {"detail": {"custom_analyzer": False, "analyzer": {
            "name": analyzer, "tokens": analyze_detail(text, analyzer)}}}
    tokenizer, filters, char_filters = cfg
    cf_fns, base, specs = _build_chain(tokenizer, filters, char_filters)
    stages: list = []
    _run_chain(text or "", cf_fns, base, specs, stages=stages)

    def _name(spec):
        if isinstance(spec, str):
            return spec
        if isinstance(spec, dict):
            return spec.get("type", "?")
        return spec[0]

    filtered_text = text or ""
    for kind, payload in stages:
        if kind == "charfilter":
            filtered_text = payload

    def _toks(toks, prev):
        """Token dicts with offsets (greedy text alignment, like
        analyze_detail) and positions CARRIED from the previous stage:
        1:1 stages keep positions element-wise, removing stages (stop /
        predicate) keep each surviving token's old position; expanding
        stages renumber sequentially (documented approximation)."""
        if prev is not None and len(toks) == len(prev):
            positions = [p["position"] for p in prev]
        elif prev is not None and len(toks) < len(prev):
            positions, pi = [], 0
            prev_toks = [p["token"] for p in prev]
            for t in toks:
                while pi < len(prev_toks) and prev_toks[pi] != t:
                    pi += 1
                if pi < len(prev_toks):
                    positions.append(prev[pi]["position"])
                    pi += 1
                else:
                    positions.append((positions[-1] + 1) if positions else 0)
        else:
            positions = list(range(len(toks)))
        low = filtered_text.lower()
        out, cursor = [], 0
        for t, pos in zip(toks, positions):
            tl = t.lower()  # case-preserving tokenizers still align
            i = low.find(tl, cursor)
            if i < 0:
                i = low.find(tl)
            if i >= 0:
                start, end = i, i + len(t)
                cursor = max(cursor, end)
            else:
                start = end = cursor
            out.append({"token": t, "start_offset": start,
                        "end_offset": end, "position": pos})
        return out

    out = {"custom_analyzer": True, "charfilters": [], "tokenfilters": []}
    ci = iter([_name(c) for c in (char_filters or [])])
    fi = iter([_name(f) for f in (filters or [])])
    prev_tokens = None
    for kind, payload in stages:
        if kind == "charfilter":
            out["charfilters"].append(
                {"name": next(ci), "filtered_text": [payload]})
        elif kind == "tokenizer":
            tk = tokenizer if isinstance(tokenizer, str) else tokenizer[0]
            out["tokenizer"] = {"name": tk, "tokens": _toks(payload, None)}
            prev_tokens = out["tokenizer"]["tokens"]
        else:
            toks = _toks(payload, prev_tokens)
            out["tokenfilters"].append({"name": next(fi), "tokens": toks})
            prev_tokens = toks
    return {"detail": out}


def analyze_detail(text: str, analyzer: str = "standard") -> list[dict]:
    """``_analyze``-shaped introspection: per-token
    {token, start_offset, end_offset, position}, mirroring
    ``TransportAnalyzeAction.simpleAnalyze``
    (``server/.../analyze/TransportAnalyzeAction.java:236-240``).

    Tokens and positions come from the REAL named chain — identical to
    ``analyze()`` and therefore to what the index stores (the old path
    always used the standard tokenizer, so ``_analyze`` with "english" or
    "whitespace" reported tokens the index never produced). Offsets are a
    greedy case-insensitive alignment of each output token against the
    source text; tokens a filter synthesized or rewrote beyond recognition
    (stems not prefixing their surface form, shingles across odd spacing)
    anchor at the scan cursor with a zero-width span — a documented
    approximation of the reference's tokenizer-carried offsets."""
    if analyzer == "regex_simple":
        toks = []
        low = (text or "").lower()
        for pos, m in enumerate(_SIMPLE_RE.finditer(low)):
            toks.append(
                {"token": m.group(0), "start_offset": m.start(), "end_offset": m.end(), "position": pos}
            )
        return toks
    chain_toks = ANALYZERS[analyzer](text or "")
    low = (text or "").lower()
    out: list[dict] = []
    cursor = 0
    for pos, t in enumerate(chain_toks):
        i = low.find(t, cursor)
        if i < 0:
            i = low.find(t)  # filter reordered/duplicated (unique, shingle)
        if i >= 0:
            start, end = i, i + len(t)
            cursor = max(cursor, end)
        else:
            start = end = cursor  # synthesized token (stem/decompound/ngram)
        out.append(
            {"token": t, "start_offset": start, "end_offset": end, "position": pos}
        )
    return out


# --- Spark UDF surface (Arrow-batched) ---------------------------------------

def tokens_udf(analyzer: str = "standard"):
    """pandas UDF: string column → array<string> of analyzed tokens.

    Custom chains registered on the driver travel to executors in the UDF
    closure: the resolved analyzer FUNCTION is captured at definition time
    (cloudpickle ships the chain closure by value), with the
    (tokenizer, filters, char_filters) config as a re-registration fallback.
    Looking the name up inside the task would fail — the executor's fresh
    module import knows only the built-in ANALYZERS."""
    cfg = ANALYZER_CONFIGS.get(analyzer)
    fn0 = ANALYZERS.get(analyzer)

    @F.pandas_udf(ArrayType(StringType()))
    def _udf(s: pd.Series) -> pd.Series:
        fn = fn0
        if fn is None:
            if analyzer not in ANALYZERS and cfg is not None:
                register_analyzer(analyzer, *cfg)
            fn = ANALYZERS[analyzer]
        return s.map(lambda x: fn(x) if x is not None else [])

    return _udf


@F.pandas_udf(StringType())
def html_strip_udf(s: pd.Series) -> pd.Series:
    """pandas UDF: html (binary or string) column → extracted text."""
    return s.map(html_strip)


# ---- keyword normalizers (AnalysisRegistry normalizers, applied to keyword
# fields whole-string — no tokenizer). Two mirrored implementations: a
# Column-side chain (JVM codegen, used on the stored column at query time)
# and a Python-side one (used on query literals/patterns so wildcard
# metacharacters survive). Both MUST agree — tested pairwise.

_ASCII_FOLD_MULTI = [("ß", "ss"), ("ẞ", "SS"), ("æ", "ae"), ("Æ", "AE"),
                     ("œ", "oe"), ("Œ", "OE")]
_ASCII_FOLD_SINGLE = {"ø": "o", "Ø": "O", "đ": "d", "Đ": "D", "ł": "l",
                      "Ł": "L", "ħ": "h", "Ħ": "H", "þ": "th"}


def _ascii_fold_tables() -> tuple[str, str]:
    """translate() tables for 1→1 accent stripping (NFKD + drop marks),
    generated from unicodedata — the same data Lucene's ASCIIFolding
    hardcodes (a documented subset: Latin-1 Supplement … Latin Extended-B)."""
    import unicodedata

    frm, to = [], []
    for cp in range(0xC0, 0x250):
        ch = chr(cp)
        d = unicodedata.normalize("NFKD", ch)
        stripped = "".join(c for c in d if not unicodedata.combining(c))
        if len(stripped) == 1 and stripped != ch and ord(stripped) < 128:
            frm.append(ch)
            to.append(stripped)
    return "".join(frm), "".join(to)


_FOLD_FROM, _FOLD_TO = _ascii_fold_tables()


def ascii_fold_col(c):
    """asciifolding as a Column chain (translate + the multi-char pairs)."""
    for a, b in _ASCII_FOLD_MULTI + list(_ASCII_FOLD_SINGLE.items()):
        c = F.replace(c, F.lit(a), F.lit(b))
    return F.translate(c, _FOLD_FROM, _FOLD_TO)


def ascii_fold_str(s: str) -> str:
    for a, b in _ASCII_FOLD_MULTI + list(_ASCII_FOLD_SINGLE.items()):
        s = s.replace(a, b)
    return s.translate(str.maketrans(_FOLD_FROM, _FOLD_TO))


_NORMALIZER_COL_FNS = {
    "lowercase": F.lower,
    "uppercase": F.upper,
    "trim": F.trim,
    "asciifolding": ascii_fold_col,
}
_NORMALIZER_STR_FNS = {
    "lowercase": str.lower,
    "uppercase": str.upper,
    "trim": str.strip,
    "asciifolding": ascii_fold_str,
}


def normalize_col(c, filters: list[str]):
    """Apply a normalizer filter chain to a Column (order preserved)."""
    for f in filters:
        c = _NORMALIZER_COL_FNS[f](c)  # unknown filter = loud KeyError
    return c


def normalize_str(s: str, filters: list[str]) -> str:
    for f in filters:
        s = _NORMALIZER_STR_FNS[f](s)
    return s

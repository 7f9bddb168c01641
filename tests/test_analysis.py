import numpy as np

from elasticsearch_spark.functions.analysis import (
    MAX_TOKEN_LENGTH,
    analyze_detail,
    html_strip,
    regex_simple_tokenize,
    standard_tokenize,
)
from elasticsearch_spark.sources.pages import pages_pdf


def test_uax29_word_joins():
    toks = standard_tokenize("The quick fox visits example.com, don't stop at 3.14 or 1,000!")
    assert "example.com" in toks
    assert "don't" in toks
    assert "3.14" in toks
    assert "1,000" in toks
    assert "the" in toks  # lowercased


def test_letters_digits_join_directly():
    assert standard_tokenize("abc123 x2y") == ["abc123", "x2y"]


def test_midletter_not_between_digits_and_letters():
    # comma joins digits only; trailing mid chars are dropped
    assert standard_tokenize("a,b 5,6 end.") == ["a", "b", "5,6", "end"]


def test_extendnumlet_underscore():
    assert standard_tokenize("foo_bar _lead trail_") == ["foo_bar", "_lead", "trail_"]
    assert standard_tokenize("___") == []


def test_cjk_segmentation():
    assert standard_tokenize("例子") == ["例", "子"]  # Han: one token per ideograph
    assert standard_tokenize("する") == ["す", "る"]  # Hiragana: per char
    assert standard_tokenize("カタカナ") == ["カタカナ"]  # Katakana: runs
    assert standard_tokenize("한국어") == ["한국어"]  # Hangul: runs


def test_max_token_length_split():
    long = "x" * 300
    toks = standard_tokenize(long)
    assert toks == ["x" * MAX_TOKEN_LENGTH, "x" * (300 - MAX_TOKEN_LENGTH)]


def test_unicode_lowercase():
    assert standard_tokenize("Zürich CAFÉ") == ["zürich", "café"]


def test_analyze_detail_offsets_positions():
    d = analyze_detail("Hello, wörld 42")
    assert [t["token"] for t in d] == ["hello", "wörld", "42"]
    assert [t["position"] for t in d] == [0, 1, 2]
    assert d[0]["start_offset"] == 0 and d[0]["end_offset"] == 5
    assert d[1]["start_offset"] == 7 and d[1]["end_offset"] == 12


def test_html_strip_basics():
    html = (
        b"<html><head><title>T</title><script>if(x<1){}</script></head>"
        b"<body><h1>Head</h1><p>hello &amp; world</p><b>bold <i>it</i></b>"
        b"<!-- comment --> <br>tail</body></html>"
    )
    text = html_strip(html)
    assert "hello & world" in text
    assert "script" not in text and "if(x" not in text
    assert "comment" not in text
    assert "bold it" in text
    assert "\ntail" in text  # <br> is a block tag → newline


def test_html_strip_broken_markup():
    assert "abc" in html_strip("<p>abc<b unterminated")
    assert html_strip(None) == ""


def test_pages_text_byte_identity():
    """The input_hint invariant: stored text == html_strip(html) per url."""
    pdf = pages_pdf(100)
    for h, t in zip(pdf.html, pdf.text):
        assert html_strip(h) == t


def test_uax29_spec_goldens():
    """Adversarial word-break cases with expected tokens HAND-DERIVED from
    the UAX#29 spec (rule cited per case in the golden file) — not
    generated from the implementation under test."""
    import json
    import os

    p = os.path.join(os.path.dirname(__file__), "goldens", "uax29_spec_goldens.json")
    with open(p, encoding="utf-8") as f:
        cases = json.load(f)["cases"]
    assert len(cases) >= 20
    for c in cases:
        got = standard_tokenize(c["input"])
        assert got == c["expected"], (c["rule"], c["input"], got, c["expected"])


def test_combining_marks_join_word(spark=None):
    """WB4: Extend (Mn/Mc/Me) glues to the preceding char — decomposed
    forms tokenize as single words, same count as precomposed."""
    import unicodedata

    nfc = "café résumé"
    nfd = unicodedata.normalize("NFD", nfc)
    assert len(standard_tokenize(nfd)) == len(standard_tokenize(nfc)) == 2
    # marked and unmarked forms are DIFFERENT tokens (no normalization —
    # Lucene's StandardTokenizer does not normalize either)
    assert standard_tokenize(nfd) != standard_tokenize(nfc)


def test_regex_simple_matches_sql_semantics():
    assert regex_simple_tokenize("Hello, World-42 foo") == ["hello", "world", "42", "foo"]


def test_determinism():
    pdf1, pdf2 = pages_pdf(50), pages_pdf(50)
    assert pdf1.equals(pdf2)
    assert (pdf1.url.iloc[99:0:-1] != "").all() if len(pdf1) > 99 else True
    assert np.array_equal(pdf1.dtypes.index, pdf2.dtypes.index)


# --- fuzz: chain invariants over arbitrary unicode ---------------------------

from hypothesis import given, settings as hyp_settings
from hypothesis import strategies as st


@hyp_settings(max_examples=300, deadline=None)
@given(st.text(max_size=400))
def test_standard_tokenize_invariants_fuzz(text):
    from elasticsearch_spark.functions.analysis import (
        MAX_TOKEN_LENGTH, standard_tokenize)

    toks = standard_tokenize(text)
    assert all(toks), "no empty tokens"
    assert all(len(t) <= MAX_TOKEN_LENGTH for t in toks), "255-char cap"
    assert all(t == t.lower() for t in toks), "lowercased"
    # idempotence: re-tokenizing the joined output never raises and stays
    # within the same invariants (a token is made of token-safe chars)
    toks2 = standard_tokenize(" ".join(toks))
    assert all(len(t) <= MAX_TOKEN_LENGTH for t in toks2)


@hyp_settings(max_examples=150, deadline=None)
@given(st.text(max_size=300))
def test_html_strip_and_classic_never_raise_fuzz(text):
    from elasticsearch_spark.functions.analysis import (
        classic_tokenize, html_strip, uax_url_email_tokenize)

    html_strip(text)
    assert all(t for t in classic_tokenize(text))
    assert all(t for t in uax_url_email_tokenize(text))


@hyp_settings(max_examples=100, deadline=None)
@given(st.lists(st.text(min_size=1, max_size=30), max_size=12))
def test_filter_chain_fuzz(toks):
    """Every registered single-token filter accepts any token list without
    raising and returns a list of strings (params left at defaults; filters
    whose defaults need configuration are exercised with minimal params)."""
    from elasticsearch_spark.functions import analysis as a

    needs_params = {
        "synonym": {"synonyms": ["a, b"]}, "keep": {"keep_words": ["x"]},
        "pattern_capture": {"patterns": ["(\\d+)"]},
        "pattern_replace": {"pattern": "x", "replacement": "y"},
        "condition": {"filter": ["reverse"], "script": {"source": "true"}},
        "predicate_token_filter": {"script": {"source": "true"}},
        "multiplexer": {"filters": ["lowercase"]},
        "dictionary_decompounder": {"word_list": ["spark"]},
        "hyphenation_decompounder": {"word_list": ["spark"]},
        "hunspell": {"dictionary": ["1", "walk/S"],
                     "dictionary_rules": ["SFX S Y 1", "SFX S 0 s ."]},
        "stemmer_override": {"rules": ["running => run"]},
        "keyword_marker": {"keywords": ["spark"]},
        "min_hash": {}, "phonetic": {}, "keep_types": {},
    }
    for name, fn in a.TOKEN_FILTERS.items():
        out = fn(list(toks), **needs_params.get(name, {}))
        assert isinstance(out, list)
        assert all(isinstance(t, str) for t in out)


def test_analyze_detail_honors_named_chain():
    """_analyze must report the tokens the NAMED chain (and therefore the
    index) actually produces — not the standard tokenizer regardless."""
    from elasticsearch_spark.functions.analysis import analyze

    d = analyze_detail("The Running Foxes", "english")
    assert [t["token"] for t in d] == analyze("The Running Foxes", "english")
    assert "the" not in [t["token"] for t in d]  # stop filter applied
    # stems anchor at their surface prefix
    run = next(t for t in d if t["token"].startswith("run"))
    assert run["start_offset"] == 4
    d2 = analyze_detail("Hello, wörld 42")
    assert [(t["token"], t["start_offset"], t["end_offset"]) for t in d2] == [
        ("hello", 0, 5), ("wörld", 7, 12), ("42", 13, 15)]


def test_analyze_explain_stages():
    """_analyze explain=true (TransportAnalyzeAction.detailAnalyze): the
    char-filtered text, the tokenizer stream, then every filter's output in
    chain order."""
    from elasticsearch_spark.functions import analysis

    analysis.register_analyzer(
        "expl_t", tokenizer="standard",
        filters=["lowercase", "stop", ("stemmer", {"language": "porter"})],
        char_filters=["html_strip"])
    try:
        out = analysis.analyze_explain(
            "<b>The QUICK foxes</b>", "expl_t")["detail"]
        assert out["custom_analyzer"] is True
        assert out["charfilters"][0]["name"] == "html_strip"
        assert "<b>" not in out["charfilters"][0]["filtered_text"][0]
        assert out["tokenizer"]["name"] == "standard"
        toks = lambda stage: [t["token"] for t in stage["tokens"]]
        assert toks(out["tokenizer"]) == ["the", "quick", "foxes"]
        names = [s["name"] for s in out["tokenfilters"]]
        assert names == ["lowercase", "stop", "stemmer"]
        assert toks(out["tokenfilters"][1]) == ["quick", "foxes"]  # stop
        assert toks(out["tokenfilters"][2]) == ["quick", "fox"]    # stemmer
        # the final stage equals analyze()'s result
        assert toks(out["tokenfilters"][-1]) == analysis.analyze(
            "<b>The QUICK foxes</b>", "expl_t")
    finally:
        analysis.ANALYZERS.pop("expl_t", None)
        analysis.ANALYZER_CONFIGS.pop("expl_t", None)

    # built-in preset: single analyzer-level stream
    d = analysis.analyze_explain("Hello World", "standard")["detail"]
    assert d["custom_analyzer"] is False
    assert [t["token"] for t in d["analyzer"]["tokens"]] == ["hello", "world"]

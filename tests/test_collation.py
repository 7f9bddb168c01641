"""icu_collation_keyword (functions/collation.py): UCA sort keys whose
byte order is the locale's linguistic order — the PyICU-free analog of
plugins/analysis-icu IcuCollationTokenFilterFactory /
ICUCollationKeywordFieldMapper (RuleBasedCollator.getSortKey)."""

from __future__ import annotations

import pytest

from elasticsearch_spark.functions.collation import collation_key as K


def _order(words, **kw):
    return sorted(words, key=lambda w: K(w, **kw))


def test_root_accent_secondary_case_tertiary():
    # primary = base letter, accents secondary, case tertiary (lower first)
    assert _order(["Zebra", "apfel", "Äpfel", "Apfel", "über", "ol", "Öl"]) == [
        "apfel", "Apfel", "Äpfel", "ol", "Öl", "über", "Zebra"]
    assert _order(["B", "a", "A", "b"]) == ["a", "A", "b", "B"]
    assert _order(["B", "a", "A", "b"], case_first="upper") == [
        "A", "a", "B", "b"]


def test_swedish_trailing_vowels():
    # å < ä < ö AFTER z — the Scandinavian tailoring
    assert _order(["zebra", "åker", "ängel", "öl", "apple", "orm"],
                  locale="sv") == [
        "apple", "orm", "zebra", "åker", "ängel", "öl"]


def test_danish_ae_o_aa():
    assert _order(["zebra", "æble", "øl", "århus", "abe"], locale="da") == [
        "abe", "zebra", "æble", "øl", "århus"]


def test_german_standard_vs_phonebook():
    words = ["Arm", "Ärmel", "Arzt"]
    # DIN 5007-1: ä = a (umlaut only secondary) → Arm < Ärmel < Arzt
    assert _order(words, locale="de") == ["Arm", "Ärmel", "Arzt"]
    # DIN 5007-2 (phonebook): ä → ae → Ärmel (Aermel) sorts first
    assert _order(words, locale="de__phonebook") == ["Ärmel", "Arm", "Arzt"]


def test_spanish_traditional_enye():
    assert _order(["nube", "ñandú", "noche", "obra"],
                  locale="es__traditional") == [
        "noche", "nube", "ñandú", "obra"]
    # modern Spanish keeps ñ as a distinct letter too (the 1994 RAE
    # reform only demoted the ch/ll digraphs)
    assert _order(["nube", "ñandú", "noche"], locale="es") == [
        "noche", "nube", "ñandú"]


def test_strength_primary_folds_accents_and_case():
    assert K("Äpfel", strength="primary") == K("apfel", strength="primary")
    assert K("Äpfel") != K("apfel")
    assert K("resume", strength="secondary") != K("résumé", strength="secondary")
    assert K("Resume", strength="secondary") == K("resume", strength="secondary")


def test_numeric_collation():
    assert _order(["item2", "item10", "item1"], numeric=True) == [
        "item1", "item2", "item10"]
    assert _order(["item2", "item10", "item1"]) == ["item1", "item10", "item2"]
    # leading zeros equal at primary strength
    assert K("007", numeric=True, strength="primary") == K(
        "7", numeric=True, strength="primary")


def test_key_prefix_free_ordering():
    # "ab" < "abc" (shorter string that is a prefix sorts first)
    assert _order(["abc", "ab", "a"]) == ["a", "ab", "abc"]


def test_token_filter_registration():
    from elasticsearch_spark.functions.analysis import TOKEN_FILTERS

    keys = TOKEN_FILTERS["icu_collation_keyword"](
        ["öl", "apple"], language="sv")
    assert keys == sorted(keys, reverse=True)  # öl after apple in sv


def test_spark_binary_sort(spark):
    """BinaryType ordering in Spark reproduces the collator order — the
    doc-values sort the reference field type provides."""
    from elasticsearch_spark.functions.collation import collation_key_udf

    df = spark.createDataFrame(
        [("zebra",), ("åker",), ("apple",), ("öl",)], "word string")
    key = collation_key_udf(locale="sv")
    got = [r["word"] for r in
           df.withColumn("k", key("word")).orderBy("k").collect()]
    assert got == ["apple", "zebra", "åker", "öl"]


def test_accent_position_distinguishes():
    """UCA common secondary weights: strings differing only in WHICH
    character carries the accent get distinct keys, unaccented-first."""
    assert K("aá") != K("áa")
    assert sorted(["áa", "aá"], key=K) == ["aá", "áa"]
    assert sorted(["résume", "resumé"], key=K) == ["resumé", "résume"]


# ---- reference vectors: plugins/analysis-icu SimpleIcuCollationTokenFilterTests


def _same(a, b, **kw):
    return K(a, **kw) == K(b, **kw)


def test_icu_vectors_basic_and_turkish_primary():
    # testBasicUsage / testNormalization (primary folds case; Turkish
    # dotted/dotless İ-ı fold to the same primary, incl. the DECOMPOSED
    # I + U+0307 form)
    assert _same("FOO", "foo", strength="primary")
    assert _same("I WİLL USE TURKİSH CASING",
                 "ı will use turkish casıng", locale="tr", strength="primary")
    assert _same("I WİLL USE TURKİSH CASING",
                 "ı will use turkish casıng", locale="tr", strength="primary")


def test_icu_vectors_secondary_strength():
    # testSecondaryStrength: case folds at secondary
    assert _same("TESTING", "testing", locale="en", strength="secondary")


def test_icu_vectors_ignore_punctuation_shifted():
    # testIgnorePunctuation: alternate=shifted makes punctuation/space
    # ignorable at primary
    kw = dict(locale="en", strength="primary", alternate="shifted")
    assert _same("foo-bar", "foo bar", **kw)


def test_icu_vectors_ignore_whitespace_variable_top():
    # testIgnoreWhitespace: variableTop=' ' shifts only chars up to space —
    # space ignorable, hyphen kept (foo-bar sorts before foo bar)
    kw = dict(locale="en", strength="primary", alternate="shifted",
              variable_top=" ")
    assert _same("foo bar", "foobar", **kw)
    assert K("foo-bar", **kw) < K("foo bar", **kw)


def test_icu_vectors_numerics():
    # testNumerics: foobar-9 < foobar-10
    kw = dict(locale="en", numeric=True)
    assert K("foobar-9", **kw) < K("foobar-10", **kw)


def test_icu_vectors_ignore_accents_but_not_case():
    # testIgnoreAccentsButNotCase: primary + caseLevel
    kw = dict(locale="en", strength="primary", case_level=True)
    assert _same("résumé", "resume", **kw)
    assert _same("Résumé", "Resume", **kw)
    assert K("resume", **kw) < K("Resume", **kw)


def test_icu_vectors_upper_case_first():
    # testUpperCaseFirst
    kw = dict(locale="en", strength="tertiary", case_first="upper")
    assert K("Resume", **kw) < K("resume", **kw)


def test_icu_filter_registration_options():
    from elasticsearch_spark.functions.analysis import TOKEN_FILTERS

    a, b = TOKEN_FILTERS["icu_collation_keyword"](
        ["foo-bar", "foo bar"], language="en", strength="primary",
        alternate="shifted")
    assert a == b
    a, b = TOKEN_FILTERS["icu_collation_keyword"](
        ["resume", "Resume"], language="en", strength="primary",
        caseLevel="true")
    assert a < b


def test_shifted_quaternary_keeps_variable_distinction():
    """UCA shifted mode moves variables to the QUATERNARY level rather
    than deleting them: primary strength ignores punctuation, full
    strength still orders punctuation-only differences deterministically."""
    kw = dict(alternate="shifted")
    assert _same("foo-bar", "foobar", strength="primary", **kw)
    assert K("foo-bar", strength="quaternary", **kw) != K(
        "foobar", strength="quaternary", **kw)
    # UCA: variables take LOW quaternary weights, non-variables 0xFFFF —
    # so the punctuated string sorts first at full strength
    assert K("foo-bar", strength="quaternary", **kw) < K(
        "foobar", strength="quaternary", **kw)


def test_case_level_string_forms():
    from elasticsearch_spark.functions.analysis import TOKEN_FILTERS

    off = TOKEN_FILTERS["icu_collation_keyword"](
        ["resume", "Resume"], strength="primary", caseLevel="false")
    assert off[0] == off[1]
    on = TOKEN_FILTERS["icu_collation_keyword"](
        ["resume", "Resume"], strength="primary", caseLevel="true")
    assert on[0] < on[1]


# ---- round 5: full-codepoint punctuation, custom rules, Greek/Cyrillic


def test_punctuation_full_codepoint_fidelity():
    """Distinct punctuation never collides (U+2020 dagger aliased U+0020
    space when only the low codepoint byte carried weight)."""
    assert K("a†b") != K("a b")
    assert K("a†b", strength="primary") != K("a b", strength="primary")
    assert K("a!") != K("a.")
    assert K("a!", strength="primary") != K("a.", strength="primary")
    # codepoint order within the punctuation band
    assert K("!") < K(".") < K("†")


def test_variable_top_still_character_scoped():
    # the two-element punct scheme must not break variableTop semantics:
    # space (U+0020) variable, dagger (U+2020) NOT under variableTop=' '
    kw = dict(strength="primary", alternate="shifted", variable_top=" ")
    assert _same("foo bar", "foobar", **kw)
    assert not _same("foo†bar", "foobar", **kw)


def test_custom_rules_basic():
    # SimpleIcuCollationTokenFilterTests.testBasicCustomRules:
    # rules "&a < g" => "green" collates before "bird"
    r = "&a < g"
    assert K("green", rules=r) < K("bird", rules=r)
    assert K("bird") < K("green")  # without rules, natural order


def test_custom_rules_din5007_2_phonebook():
    # SimpleIcuCollationTokenFilterTests.testCustomRules: DIN 5007-2
    # (phonebook) tailorings "& ae , ä & AE , Ä ..." => Töne == Toene
    din = ("& ae , ä & AE , Ä"
           "& oe , ö & OE , Ö"
           "& ue , ü & UE , ü")
    kw = dict(strength="primary", rules=din)
    assert _same("Töne", "Toene", **kw)
    assert _same("Müller", "Mueller", **kw)
    # DIN 5007-1 (no rules): ö = o at primary (umlaut is secondary)
    assert _same("Töne", "Tone", strength="primary")
    assert not _same("Töne", "Toene", strength="primary")


def test_custom_rules_chain_and_secondary():
    r = "&b < q < x"
    # q between b and c, x just after q
    assert K("b", rules=r) < K("q", rules=r) < K("x", rules=r) < K("c", rules=r)
    r2 = "&e << y"
    assert _same("y", "e", strength="primary", rules=r2)
    assert K("e", rules=r2) < K("y", rules=r2)


def test_custom_rules_primary_chain_past_rank_spacing_raises():
    # base letters are 4 primary ranks apart: 3 '<' steps off one reset
    # fit between b and c, a 4th would collide with c's primary
    r = "&b < q < x < y"
    assert K("b", rules=r) < K("q", rules=r) < K("x", rules=r) < K("y", rules=r) < K("c", rules=r)
    with pytest.raises(ValueError, match="<"):
        K("b", rules="&b < q < x < y < z")
    # a reset on an earlier target continues that target's chain
    with pytest.raises(ValueError, match="<"):
        K("b", rules="&b < q < x & x < y < z")


def test_custom_rules_filter_registration():
    from elasticsearch_spark.functions.analysis import TOKEN_FILTERS

    a, b = TOKEN_FILTERS["icu_collation_keyword"](
        ["Töne", "Toene"], strength="primary",
        rules="& ae , ä & oe , ö & ue , ü")
    assert a == b


def test_cyrillic_linguistic_order():
    """Russian collation is alphabet order, not codepoint order: ё (U+0451,
    above я U+044F in codepoints) ties е at primary and follows it at
    secondary — codepoint order would sort ёлка LAST."""
    words = ["ёлка", "елка", "жук", "яблоко", "ель"]
    assert _order(words, locale="ru") == [
        "елка", "ёлка", "ель", "жук", "яблоко"]
    assert sorted(words)[-1] == "ёлка"  # codepoint order is wrong
    # primary tie е=ё, secondary breaks it
    assert _same("ёлка", "елка", strength="primary", locale="ru")
    assert not _same("ёлка", "елка", strength="secondary", locale="ru")
    # case is tertiary: Москва vs москва
    assert _same("Москва", "москва", strength="secondary", locale="ru")
    assert not _same("Москва", "москва", locale="ru")


def test_greek_linguistic_order():
    # Greek alphabet order (η θ ι κ λ μ ν ξ ο π ρ σ τ υ φ χ ψ ω), accents
    # fold at primary (ά = α + tonos), final sigma ς = σ + secondary
    words = ["βήτα", "άλφα", "ωμέγα", "γάμμα", "ζήτα", "σίγμα"]
    assert _order(words, locale="el") == [
        "άλφα", "βήτα", "γάμμα", "ζήτα", "σίγμα", "ωμέγα"]
    assert _same("άλφα", "αλφα", strength="primary", locale="el")
    assert _same("ς", "σ", strength="primary")
    assert K("ς") != K("σ")


def test_script_order_latin_greek_cyrillic():
    # UCA script order: Latin < Greek < Cyrillic < Han
    assert K("zebra") < K("αλφα") < K("москва") < K("漢字")

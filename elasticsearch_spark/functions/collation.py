"""icu_collation_keyword: locale-aware binary sort keys (UCA subset).

The reference maps a field to ICU collation sort keys so that BINARY order
equals linguistic order (``plugins/analysis-icu/src/main/java/org/
elasticsearch/plugin/analysis/icu/IcuCollationTokenFilterFactory.java`` and
``ICUCollationKeywordFieldMapper.java`` — RuleBasedCollator.getSortKey).
This module is a PyICU-free implementation of the Unicode Collation
Algorithm's sort-key form (UTS #10) over a DUCET SUBSET:

- three weight levels exactly like UCA sort keys: primary (base letter),
  secondary (accents, in NFD combining-mark order), tertiary (case,
  lowercase-first like ICU's default), concatenated with 0x0000 level
  separators — byte order of the key IS collation order;
- locale tailorings as primary re-rankings/expansions, the same mechanism
  ICU rules use: ``sv``/``da``/``no`` sort å ä/æ ö/ø after z, ``de__phonebook``
  expands ä→ae ö→oe ü→ue ß→ss, ``es__traditional`` ranks ñ after n,
  the root/``en``/``de`` locales use plain DUCET order (ä = a + umlaut);
- custom ``rules`` in the RuleBasedCollator tailoring-grammar subset the
  reference factory accepts (IcuCollationTokenFilterFactory "rules"
  setting): ``& reset < primary << secondary <<< tertiary , tertiary
  = equal`` chains, with multi-character resets/targets (``& ae , ä`` —
  the DIN 5007-2 phonebook form from
  SimpleIcuCollationTokenFilterTests.testCustomRules). Tertiary-relation
  targets collapse to the reset's elements (equal through secondary
  strength), a documented approximation;
- scripts: Latin, Greek and Cyrillic carry LINGUISTIC primary weights
  (alphabet order, Latin < Greek < Cyrillic like the UCA script order),
  with the classic secondary tailorings (ё = е + secondary, ς = σ +
  secondary); everything else falls back to codepoint-order implicit
  weights (= DUCET's implicit-weight rule for Han);
- punctuation / symbols / whitespace keep their FULL codepoint (two
  primary elements, high byte then low byte) so distinct characters never
  collide (U+2020 dagger ≠ U+0020 space at every strength);
- ``strength``: primary | secondary | tertiary (default tertiary, the ICU
  default) truncates key levels — primary gives accent- and
  case-insensitive equality, matching the factory's option;
- ``numeric``: digit runs collate by numeric value ("2" < "10"), the
  factory's numeric option, via length-prefixed primary elements;
- ``case_first``: "lower" (default) or "upper" flips the tertiary weights;
- ``alternate="shifted"`` demotes VARIABLE elements (punctuation/space/
  symbols, or only characters up to ``variable_top``) to the QUATERNARY
  level — variability is decided per source CHARACTER (codepoint ≤
  variable_top), so "up to space" keeps the hyphen.

Spark-side: ``collation_key_udf`` is an Arrow-batched pandas UDF producing
a BinaryType column; Spark compares BinaryType unsigned-lexicographically,
so ``ORDER BY icu_key(col)`` is the reference's doc-values sort.
"""

from __future__ import annotations

import functools
import unicodedata

__all__ = ["collation_key", "collation_key_udf", "sort_key_hex"]

# base-letter primary ranks (group 3); digits are group 2, everything
# lower (punct/space) group 1, non-Latin scripts group 4+ by codepoint
# ranks are spaced by 4 so locale tailorings can slot a letter BETWEEN
# two base letters (traditional-Spanish ñ between n and o)
_RANK_SPACING = 4
_LATIN_RANK = {c: (i + 1) * _RANK_SPACING for i, c in enumerate("abcdefghijklmnopqrstuvwxyz")}

# NFD-resistant base-letter maps (these don't decompose to ASCII + mark)
_BASE_MAP = {
    "ø": ("o",), "æ": ("a", "e"), "ß": ("s", "s"), "đ": ("d",),
    "ð": ("d",), "þ": ("t", "h"), "ł": ("l",), "œ": ("o", "e"),
    "ı": ("i",), "ŋ": ("n",), "ħ": ("h",), "ŧ": ("t",), "ĸ": ("k",),
}
# secondary weights for the special bases above (accent-like distinction
# from the plain letter; DUCET gives them secondary/tertiary differences)
_BASE_MAP_SECONDARY = {"ø": 0x40, "æ": 0x41, "ß": 0x42, "œ": 0x41}

_GROUP_PUNCT = 0x0200       # two elements/char: hi-byte then lo-byte
_GROUP_PUNCT_LO = 0x0900    # second (low-byte) element of a punct char
_GROUP_DIGIT = 0x1000
_GROUP_LATIN = 0x2000
_GROUP_GREEK = 0x3000       # UCA script order: Latin < Greek < Cyrillic
_GROUP_CYRIL = 0x3400
_GROUP_OTHER = 0x4000

# Greek: alphabet-order primaries (DUCET gives Greek its own primary
# block right after Latin); ς is σ with a secondary difference
_GREEK_RANK = {c: _GROUP_GREEK + (i + 1) * 4
               for i, c in enumerate("αβγδεζηθικλμνξοπρστυφχψω")}
# Cyrillic: the Russian alphabet order carries the shared Slavic core in
# DUCET; ё is е + secondary (the classic "е < ё < ж" case codepoint order
# gets wrong — ё is U+0451, far above я U+044F)
_CYRIL_RANK = {c: _GROUP_CYRIL + (i + 1) * 4
               for i, c in enumerate("абвгдежзийклмнопрстуфхцчшщъыьэюя")}
# other-Slavic letters slotted between their Russian neighbours (the
# rank spacing of 4 leaves 3 slots), per the root collation order
_CYRIL_EXTRA = {
    "ґ": ("г", 1), "ђ": ("д", 1), "ѓ": ("д", 2), "є": ("е", 2),
    "ѕ": ("з", 1), "і": ("и", 1), "ї": ("и", 2), "ј": ("й", 1),
    "љ": ("л", 1), "њ": ("н", 1), "ћ": ("т", 1), "ќ": ("к", 1),
    "џ": ("ч", 1), "ѣ": ("ь", 1), "ѳ": ("я", 1), "ѵ": ("я", 2),
}
for _c, (_base, _off) in _CYRIL_EXTRA.items():
    _CYRIL_RANK[_c] = _CYRIL_RANK[_base] + _off

# secondary-difference letters: collate as (base letter, secondary)
_SECONDARY_LETTER = {"ё": ("е", 0x21), "ў": ("у", 0x21), "ѐ": ("е", 0x22),
                     "ѝ": ("и", 0x22), "ς": ("σ", 0x21)}

# unified letter → absolute primary across the three scripted groups
_LETTER_PRIMARY: dict = {c: _GROUP_LATIN + r for c, r in _LATIN_RANK.items()}
_LETTER_PRIMARY.update(_GREEK_RANK)
_LETTER_PRIMARY.update(_CYRIL_RANK)

# locale tailorings: char → list of (primary, secondary) elements.
# Primary values > z's rank place a letter after z (the Scandinavian rule).
_Z = _GROUP_LATIN + _LATIN_RANK["z"]


def _tailoring(locale: str) -> dict:
    loc = (locale or "").replace("-", "_").lower()
    lang = loc.split("_")[0]
    variant = loc.split("__")[-1] if "__" in loc else ""
    t: dict = {}
    if lang in ("sv", "fi"):            # å < ä < ö after z
        t["å"] = [(_Z + 1, 0)]
        t["ä"] = [(_Z + 2, 0)]
        t["ö"] = [(_Z + 3, 0)]
    elif lang in ("da", "no", "nb", "nn"):  # æ < ø < å after z
        t["æ"] = [(_Z + 1, 0)]
        t["ø"] = [(_Z + 2, 0)]
        t["å"] = [(_Z + 3, 0)]
    elif lang == "de" and variant == "phonebook":
        for src, exp in (("ä", "ae"), ("ö", "oe"), ("ü", "ue"), ("ß", "ss")):
            t[src] = [(_GROUP_LATIN + _LATIN_RANK[c], 0x45 if i == 0 else 0)
                      for i, c in enumerate(exp)]
    elif lang == "es":
        # ñ is a distinct letter between n and o in BOTH modern and
        # traditional Spanish (the 1994 reform only demoted ch/ll)
        t["ñ"] = [(_GROUP_LATIN + _LATIN_RANK["n"] + 2, 0)]
    return t


# --------------------------------------------------------------------------
# custom rules (RuleBasedCollator tailoring-grammar subset)
# --------------------------------------------------------------------------

def _lex_rules(rules: str) -> list[tuple[str, str]]:
    """(kind, text) tokens: kind ∈ {'&', '<', '<<', '<<<', ',', '=',
    'text'}. Text runs are NFC-normalized and lowercased (tailorings key
    on the case-folded form; ICU rules list both cases)."""
    out: list[tuple[str, str]] = []
    i, n = 0, len(rules)
    while i < n:
        ch = rules[i]
        if ch.isspace():
            i += 1
        elif ch == "&":
            out.append(("&", "&"))
            i += 1
        elif ch == "<":
            j = i
            while j < n and rules[j] == "<" and j - i < 3:
                j += 1
            out.append(("<" * (j - i), "<"))
            i = j
        elif ch in ",=":
            out.append((ch, ch))
            i += 1
        elif ch == "'":
            # ICU quoting: '...' literal ('' = one quote)
            j = i + 1
            buf = []
            while j < n:
                if rules[j] == "'":
                    if j + 1 < n and rules[j + 1] == "'":
                        buf.append("'")
                        j += 2
                        continue
                    j += 1
                    break
                buf.append(rules[j])
                j += 1
            out.append(("text", unicodedata.normalize(
                "NFC", "".join(buf)).lower()))
            i = j
        else:
            j = i
            while j < n and rules[j] not in "&<,='" and not rules[j].isspace():
                j += 1
            # keep trailing combining marks that follow the run's spaces
            # attached (rule text like "ä" parses as one token)
            out.append(("text", unicodedata.normalize(
                "NFC", rules[i:j]).lower()))
            i = j
    return out


@functools.lru_cache(maxsize=256)
def _parse_rules(rules: str) -> tuple:
    """Rules string → ((key, ((p, s), ...)), ...) tailoring entries.

    Relations: ``<`` bumps the reset's last primary (+1 per step, the
    rank spacing of 4 leaves room for 3 steps; a 4th raises ValueError
    rather than collide with the next letter), ``<<`` bumps its secondary,
    ``<<<`` / ``,`` / ``=`` reuse the reset's elements verbatim (tertiary
    collapse — equal through secondary strength, the DIN 5007-2
    use-case)."""
    toks = _lex_rules(rules)
    entries: list[tuple[str, tuple]] = []
    steps_of: dict[str, int] = {}  # target -> '<' steps above its base letter
    i, n = 0, len(toks)
    while i < n:
        if toks[i][0] != "&":
            i += 1
            continue
        i += 1
        if i >= n or toks[i][0] != "text":
            continue
        reset = toks[i][1]
        i += 1
        # reset elements under the rules built SO FAR (chained resets)
        base = [(p, s) for p, s, _, _ in
                _elements(reset, dict(entries), False)]
        if not base:
            continue
        steps = steps_of.get(reset, 0)
        while i + 1 < n and toks[i][0] in ("<", "<<", "<<<", ",", "=") \
                and toks[i + 1][0] == "text":
            rel, target = toks[i][0], toks[i + 1][1]
            i += 2
            els = list(base)
            lp, ls = els[-1]
            if rel == "<":
                steps += 1
                if steps > _RANK_SPACING - 1:
                    raise ValueError(
                        f"collation rules: {target!r} is {steps} '<' steps above "
                        f"the base letter of reset {reset!r}; the primary rank "
                        f"spacing holds {_RANK_SPACING - 1}")
                els[-1] = (lp + 1, ls)
            elif rel == "<<":
                els[-1] = (lp, (ls or 0x20) + 1)
            # <<< , = : elements verbatim (tertiary collapse)
            if target:
                entries.append((target, tuple(els)))
                steps_of[target] = steps
            base = els  # chains relate to the PREVIOUS target
    return tuple(entries)


@functools.lru_cache(maxsize=256)
def _effective_tailor(locale: str, rules: str | None) -> dict:
    t = _tailoring(locale)
    if rules:
        t.update({k: list(v) for k, v in _parse_rules(rules)})
    return t


# --------------------------------------------------------------------------
# collation elements
# --------------------------------------------------------------------------

def _elements(text: str, tailor: dict, numeric: bool):
    """(primary, secondary, tertiary, variable_cp) collation elements for
    one string; ``variable_cp`` is the source codepoint for VARIABLE
    (punct/symbol/space) elements, -1 otherwise — shifted/variableTop
    filtering is per source character, never per masked byte."""
    out: list[tuple[int, int, int, int]] = []
    maxk = max((len(k) for k in tailor), default=1)
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if numeric and ch.isdigit() and ch.isascii():
            j = i
            while j < n and text[j].isdigit() and text[j].isascii():
                j += 1
            run = text[i:j].lstrip("0") or "0"
            # length-prefixed value: shorter number < longer number, then
            # digit order — the UCA numeric-collation element shape
            out.append((_GROUP_DIGIT + len(run), 0, 1, -1))
            for d in run:
                out.append((_GROUP_DIGIT + 0x100 + int(d), 0, 1, -1))
            i = j
            continue
        if unicodedata.combining(ch) and out:
            # freestanding combining mark (NFD input like I + U+0307):
            # fold into the previous letter's secondary, same as the
            # precomposed form decomposing here
            p, s, t, v = out[-1]
            if _GROUP_LATIN <= p < _GROUP_OTHER:
                add = (ord(ch) & 0xFF)
                out[-1] = (p, ((s or 0x20) + add) & 0x7FFF, t, v)
                i += 1
                continue
        lo = ch.lower()
        tert = 2 if ch != lo else 1  # lowercase-first (ICU default)
        # multi-character tailoring keys (contractions like "ch", and
        # custom-rule targets) take the LONGEST match first
        if maxk > 1:
            matched = False
            for L in range(min(maxk, n - i), 1, -1):
                seg = text[i:i + L].lower()
                t_els = tailor.get(seg)
                if t_els is not None:
                    for k, (p, s) in enumerate(t_els):
                        out.append((p, s, tert if k == 0 else 1, -1))
                    i += L
                    matched = True
                    break
            if matched:
                continue
        tailored = tailor.get(lo)
        if tailored is not None:
            for k, (p, s) in enumerate(tailored):
                out.append((p, s, tert if k == 0 else 1, -1))
            i += 1
            continue
        if lo in _SECONDARY_LETTER:
            base_ch, sec = _SECONDARY_LETTER[lo]
            out.append((_LETTER_PRIMARY[base_ch], sec, tert, -1))
            i += 1
            continue
        if lo in _BASE_MAP:
            sec = _BASE_MAP_SECONDARY.get(lo, 0x48)
            for k, b in enumerate(_BASE_MAP[lo]):
                out.append((_GROUP_LATIN + _LATIN_RANK[b],
                            sec if k == 0 else 0, tert if k == 0 else 1, -1))
            i += 1
            continue
        if lo in _LETTER_PRIMARY:
            out.append((_LETTER_PRIMARY[lo], 0, tert, -1))
            i += 1
            continue
        decomp = unicodedata.normalize("NFD", ch)
        base = decomp[0]
        marks = decomp[1:]
        blo = base.lower()
        if blo in _LETTER_PRIMARY:
            sec = 0
            for m in marks:
                sec = sec * 0x100 + (ord(m) & 0xFF)
            # accents add ABOVE the common weight 0x20 so the unaccented
            # letter sorts first at secondary strength (UCA direction)
            sec = 0x20 + (sec & 0x7F00) // 4 + (sec & 0xFF) if sec else 0
            out.append((_LETTER_PRIMARY[blo], sec & 0x7FFF,
                        2 if base != blo else 1, -1))
        elif base.isdigit() and base.isascii():
            out.append((_GROUP_DIGIT + ord(base), 0, 1, -1))
        elif base.isspace() or unicodedata.category(base).startswith(("P", "S", "Z", "C")):
            # FULL codepoint fidelity: high byte then low byte, two
            # primary elements in adjacent sub-bands (distinct punctuation
            # never collides — U+2020 dagger ≠ U+0020 space)
            cp = ord(base)
            out.append((_GROUP_PUNCT + min(cp >> 8, 0x6FF), 0, 1, cp))
            out.append((_GROUP_PUNCT_LO + (cp & 0xFF), 0, 1, cp))
        else:
            # implicit weights: codepoint order (DUCET's implicit-weight
            # rule collapses to codepoint order for Han)
            cp = ord(base)
            out.append((_GROUP_OTHER + (cp >> 8), (cp & 0xFF) + 1, 1, -1))
        i += 1
    return out


def collation_key(text: str, locale: str = "", strength: str = "tertiary",
                  numeric: bool = False, case_first: str = "lower",
                  alternate: str = "non-ignorable",
                  variable_top: str | None = None,
                  case_level: bool = False,
                  rules: str | None = None) -> bytes:
    """UCA sort key for ``text``: byte order == collation order (the
    RuleBasedCollator.getSortKey analog). ``alternate="shifted"`` makes
    VARIABLE elements (punctuation/space, or only characters up to
    ``variable_top``) ignorable — the icu_collation factory's alternate /
    variableTop options; ``case_level`` inserts a case level so
    strength=primary can still distinguish case while folding accents
    (the caseLevel option); ``rules`` is the RuleBasedCollator
    tailoring-grammar subset. See module docstring."""
    if text is None:
        return b""
    all_els = _elements(str(text), _effective_tailor(locale, rules), numeric)
    els = all_els
    is_var = None
    if alternate == "shifted":
        vt = ord(variable_top[0]) if variable_top else None

        def is_var(e, _vt=vt):
            return e[3] >= 0 and (_vt is None or e[3] <= _vt)

        els = [e for e in all_els if not is_var(e)]
    key = bytearray()
    for p, _, _, _ in els:
        key += p.to_bytes(2, "big")
    if strength in ("secondary", "tertiary", "quaternary", "identical"):
        key += b"\x00\x00"
        for p, s, _, _ in els:
            # letters carry UCA's COMMON secondary weight (0x20) when
            # unaccented so accent POSITION distinguishes (aá ≠ áa);
            # non-letter elements skip zero weights like UCA key build
            if _GROUP_LATIN <= p < _GROUP_OTHER:
                key += (s or 0x20).to_bytes(2, "big")
            elif s:
                key += s.to_bytes(2, "big")
    if case_level and strength not in ("tertiary", "quaternary", "identical"):
        key += b"\x00\x00"
        for _, _, t, _ in els:
            key.append(t if case_first != "upper" else (3 - t))
    if strength in ("tertiary", "quaternary", "identical"):
        key += b"\x00\x00"
        for _, _, t, _ in els:
            tt = t if case_first != "upper" else (3 - t)
            key.append(tt)
    if strength in ("quaternary", "identical") and is_var is not None:
        # UCA shifted mode: variables reappear at the QUATERNARY level
        # (non-variables weigh 0xFFFF), so punctuation-only differences
        # still order deterministically at full strength
        key += b"\x00\x00"
        for e in all_els:
            key += (e[0] if is_var(e) else 0xFFFF).to_bytes(2, "big")
    return bytes(key)


def sort_key_hex(text: str, **kw) -> str:
    return collation_key(text, **kw).hex()


def collation_key_udf(locale: str = "", strength: str = "tertiary",
                      numeric: bool = False, case_first: str = "lower",
                      rules: str | None = None):
    """Arrow-batched pandas UDF: string column → BinaryType sort-key
    column (Spark compares BinaryType unsigned-lexicographically, so
    ordering by the key column reproduces the collator order)."""
    import pandas
    from pyspark.sql.functions import pandas_udf

    def keys(s: "pandas.Series") -> "pandas.Series":
        return s.map(lambda v: collation_key(
            v, locale=locale, strength=strength,
            numeric=numeric, case_first=case_first, rules=rules))

    keys.__annotations__ = {"s": pandas.Series, "return": pandas.Series}
    return pandas_udf(keys, "binary")

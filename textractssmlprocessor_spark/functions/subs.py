"""Deterministic substitution tables.

The reference delegates these rewrites to GPT prompts (reference
utils.py:96-101 asks for Roman-numeral conversion + abbreviation expansion;
utils.py:113-115 asks for 'ibid.' replacement and full Bible-book names).
Our engine replaces the non-deterministic LLM with versioned, ordered
substitution tables so output is a pure function of input.

Order matters: Bible-book renames run before generic abbreviation expansion
(so "1 Cor." resolves as a book, not as a stray abbreviation), and Roman
numerals run last (book renames consume forms like "II Samuel" first).
"""

from __future__ import annotations

import re
from typing import List, Tuple

RULESET_VERSION = "subs-v1"

_ORDINALS = {"1": "First", "2": "Second", "3": "Third"}

# Numbered Bible books that appear with a leading arabic or roman numeral.
_NUMBERED_BOOKS = [
    "Samuel", "Kings", "Chronicles", "Corinthians", "Thessalonians",
    "Timothy", "Peter", "John", "Maccabees", "Esdras",
]

_ROMAN_TO_ORDINAL = {"I": "First", "II": "Second", "III": "Third"}

# (pattern, replacement) pairs applied in order, all case-sensitive unless
# the pattern says otherwise. Kept small and auditable; extendable per corpus.
_ABBREVIATIONS: List[Tuple[str, str]] = [
    (r"\bibid\.", "in the same place"),
    (r"\be\.g\.", "for example"),
    (r"\bi\.e\.", "that is"),
    (r"\betc\.", "et cetera"),
    (r"\bcf\.", "compare"),
    (r"\bviz\.", "namely"),
    (r"\bvs\.", "versus"),
    (r"\bca\.", "circa"),
    (r"\bfl\.", "flourished"),
    (r"\bet al\.", "and others"),
    (r"\bch\.\s*(?=\d)", "chapter "),
    (r"\bvol\.\s*(?=\d)", "volume "),
    (r"\bp\.\s*(?=\d)", "page "),
    (r"\bpp\.\s*(?=\d)", "pages "),
]

_COMPILED_ABBREV = [(re.compile(p, re.IGNORECASE), r) for p, r in _ABBREVIATIONS]

# Single-pass fused form of the table above: one alternation with named
# groups, replacement picked by which branch matched. The branches are
# mutually exclusive at any given position (each is anchored on a distinct
# literal prefix), so one left-to-right pass produces the same output as the
# sequential per-pattern passes — at 1/14th the scan cost. Fast-path guard:
# every branch requires a '.', so text without one skips the scan entirely.
# Every branch starts with \b, which is hoisted out of the alternation, and
# then with a letter: a lookahead on the class of those letters ([cefipv])
# rejects almost every position before sre tries the 14 IGNORECASE
# branches. Under IGNORECASE the class matches every codepoint the
# branches' first letters do (İ and ı included; checked over all of
# Unicode), so the output is unchanged.
_ABBREV_BODIES = [p.replace(r"\b", "", 1) for p, _ in _ABBREVIATIONS]
_FUSED_ABBREV = re.compile(
    r"\b(?=[%s])(?:%s)" % (
        "".join(sorted({b[0] for b in _ABBREV_BODIES})),
        "|".join(f"(?P<g{i}>{b})" for i, b in enumerate(_ABBREV_BODIES)),
    ),
    re.IGNORECASE,
)
_FUSED_REPL = {f"g{i}": r for i, (_, r) in enumerate(_ABBREVIATIONS)}

_BOOK_ARABIC = re.compile(
    r"\b([123])\s+(%s)\b" % "|".join(_NUMBERED_BOOKS)
)
_BOOK_ROMAN = re.compile(
    r"\b(I{1,3})\s+(%s)\b" % "|".join(_NUMBERED_BOOKS)
)

_ROMAN_NUMERAL = re.compile(
    r"\b(?=[IVXLCDM]{2,}\b)(M{0,3})(CM|CD|D?C{0,3})(XC|XL|L?X{0,3})(IX|IV|V?I{0,3})\b"
)

_ROMAN_VALUES = {"I": 1, "V": 5, "X": 10, "L": 50, "C": 100, "D": 500, "M": 1000}
_ROMAN_GATE = re.compile(r"[IVXLCDM]{2}")


def roman_to_int(s: str) -> int:
    total = 0
    prev = 0
    for ch in reversed(s):
        v = _ROMAN_VALUES[ch]
        total = total - v if v < prev else total + v
        prev = max(prev, v)
    return total


def expand_bible_books(text: str) -> str:
    """'1 Corinthians' / 'II Samuel' -> 'First Corinthians' / 'Second Samuel'."""
    # both patterns are case-sensitive and require a book name verbatim: a
    # memchr scan proves the alternation can't match (common case: no scan)
    if not any(map(text.__contains__, _NUMBERED_BOOKS)):
        return text
    text = _BOOK_ARABIC.sub(lambda m: f"{_ORDINALS[m.group(1)]} {m.group(2)}", text)
    text = _BOOK_ROMAN.sub(
        lambda m: f"{_ROMAN_TO_ORDINAL[m.group(1)]} {m.group(2)}", text
    )
    return text


# Literal cores: every branch of _FUSED_ABBREV requires one of these as a
# case-insensitive substring of any match ("pp." is covered by "p."), so a
# memchr-speed scan of the lowercased text proves the expensive alternation
# can't match. Exotic codepoints that re.IGNORECASE folds onto core letters
# (derived by probing sre: İ U+0130, ı U+0131 -> i; ſ U+017F -> s; plus the
# combining dot U+0307 that 'İ'.lower() emits) are normalized first so the
# guard never skips a text the regex would rewrite.
_ABBREV_CORES = (
    "ibid.", "e.g.", "i.e.", "etc.", "cf.", "viz.", "vs.", "ca.", "fl.",
    "et al.", "ch.", "vol.", "p.",
)
_FOLD_EXOTIC = str.maketrans({0x130: "i", 0x131: "i", 0x17F: "s", 0x307: None})


def expand_abbreviations(text: str) -> str:
    if "." not in text:
        return text
    if "İ" in text or "ı" in text or "ſ" in text or "̇" in text:
        low = text.translate(_FOLD_EXOTIC).lower()
    else:
        low = text.lower()
    # any(map(...)) keeps the 13 memchr scans free of per-item generator
    # frames (measurably faster at millions of chunks per executor)
    if not any(map(low.__contains__, _ABBREV_CORES)):
        return text
    return _FUSED_ABBREV.sub(lambda m: _FUSED_REPL[m.lastgroup], text)


def expand_abbreviations_sequential(text: str) -> str:
    """Reference-shaped sequential form kept as the equivalence oracle for
    the fused single-pass implementation (tests assert identical output)."""
    for pat, repl in _COMPILED_ABBREV:
        text = pat.sub(repl, text)
    return text


def convert_roman_numerals(text: str) -> str:
    """Standalone Roman numerals (len >= 2, so the pronoun 'I' and single
    letters survive) -> arabic digits."""

    def repl(m: re.Match) -> str:
        s = m.group(0)
        if not s:
            return s
        return str(roman_to_int(s))

    # any match needs >= 2 consecutive roman chars: a single character-class
    # scan (C loop) gates the backtracking alternation
    if _ROMAN_GATE.search(text) is None:
        return text
    return _ROMAN_NUMERAL.sub(repl, text)


def expand_substitutions(text: str) -> str:
    """Full deterministic rewrite chain (book names -> abbreviations ->
    roman numerals), replacing the reference's LLM prompt behaviors."""
    text = expand_bible_books(text)
    text = expand_abbreviations(text)
    text = convert_roman_numerals(text)
    return text

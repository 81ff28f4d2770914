"""SSML validation rule suite -> findings DataFrame (url, chunk_number,
rule, message).

Spark restatement of reference pipeline_support/ssml_validator.py (SURVEY.md
§2.7). Rules that are pure regex run as native JVM expressions (whole-stage
codegen, zero Python); the two stack-automaton rules and the positional
rfind rule run as Arrow-batched pandas UDFs over the pure functions.

Reference quirks replicated on purpose:
- test_non_standard_characters checks only EVEN-indexed tag-split segments
  (ssml_validator.py:64-65 splits with a non-capturing pattern, so the
  ``j % 2 == 0`` guard silently skips every other text segment);
- duplicate detection is order-dependent first-wins across the whole corpus
  (ssml_validator.py:47 a single ``seen_lines`` set) -> window by first
  (url, chunk_number) occurrence.
"""

from __future__ import annotations

from typing import List, Tuple

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

from ..functions.cleaning import remove_ssml_tags_keep_words

_EXCLUDED_PUNCT_TAGS = ["<phoneme>", "</phoneme>", "<lang>", "</lang>"]

# [B-HJ-NP-Zb-hj-np-ru-z] == reference's [B-HJ-NP-Zb-hj-np-z] minus the
# s/t lookahead exclusions (ssml_validator.py:168) — no lookahead needed, so
# the same pattern runs in Java regex, RE2 (DuckDB oracle), and Python.
SINGLE_LETTER_RE = r"\b[B-HJ-NP-Zb-hj-np-ru-z]\b"
_TAG_RE = r"<[^>]+>"
# shared with dedup.drop_duplicate_sentences (the write side): detection and
# removal must split sentences identically
SENTENCE_SPLIT_RE = r"(?<=\.|\?|!)\s+"


_FINDINGS = ArrayType(
    StructType(
        [StructField("rule", StringType()), StructField("message", StringType())]
    )
)


def _findings(rule: str, messages: Column) -> Column:
    """A row's array<string> of messages -> its array<struct<rule, message>>
    of findings (NULL stays NULL: no match, or a NULL input)."""
    return F.transform(
        messages, lambda m: F.struct(F.lit(rule).alias("rule"), m.alias("message"))
    )


def _finding_if(rule: str, cond: Column, message: Column) -> Column:
    """One finding where ``cond`` holds, else NULL (NULL counts as false)."""
    return _findings(rule, F.when(cond, F.array(message)))


def _concat(findings: list[Column]) -> Column:
    """Concatenate per-row findings arrays, skipping NULL ones."""
    return F.flatten(F.filter(F.array(*findings), lambda a: a.isNotNull()))


def _explode(chunks: DataFrame, findings: Column) -> DataFrame:
    """Per-row findings -> one (url, chunk_number, rule, message) row each."""
    return chunks.select(
        "url", "chunk_number", F.explode(findings).alias("f")
    ).select("url", "chunk_number", "f.rule", "f.message")


# --- per-row rules: each is ONE column expression over a chunk's ssml --------
# validate concatenates them into a single projection (one scan, one
# explode); rule_* explodes its own expression alone.


def punctuation_findings(col: str = "ssml") -> Column:
    """Tag immediately followed by .,:; except phoneme/lang
    (ssml_validator.py:32-41)."""
    matches = F.regexp_extract_all(
        F.col(col), F.lit(r"(</?[^>]+>)\s*([.,:;])"), F.lit(0)
    )

    def tag(m: Column) -> Column:
        return F.regexp_extract(m, r"^(</?[^>]+>)", 1)

    kept = F.filter(matches, lambda m: ~tag(m).isin(_EXCLUDED_PUNCT_TAGS))
    return _findings(
        "punctuation",
        F.transform(
            kept,
            lambda m: F.concat(
                F.lit("Suspicious punctuation: '"), tag(m),
                F.lit("' followed by '"), F.substring(m, -1, 1), F.lit("'"),
            ),
        ),
    )


def speak_tags_findings(col: str = "ssml") -> Column:
    """Exactly one <speak>...</speak>, at start and end
    (ssml_validator.py:71-84)."""
    c = F.col(col)
    opens = F.size(F.split(c, "<speak>", -1)) - 1
    closes = F.size(F.split(c, "</speak>", -1)) - 1
    open_at, close_at = F.instr(c, "<speak>"), F.instr(c, "</speak>")
    stripped = F.trim(c)
    one_each = (opens == 1) & (closes == 1)
    # the three cases are disjoint: at most one finding per chunk
    message = (
        F.when(
            (opens != 1) | (closes != 1),
            F.concat(
                F.lit("Incorrect number of <speak> tags. Found "),
                opens.cast("string"), F.lit(" opening and "),
                closes.cast("string"), F.lit(" closing tags."),
            ),
        )
        .when(
            one_each & (open_at > close_at),
            F.lit("Closing </speak> tag appears before opening <speak> tag."),
        )
        .when(
            one_each
            & (open_at <= close_at)
            & (~stripped.startswith("<speak>") | ~stripped.endswith("</speak>")),
            F.lit("<speak> tags are not at the start and end of the SSML."),
        )
    )
    return _finding_if("speak_tags", message.isNotNull(), message)


def non_standard_characters_findings(col: str = "ssml") -> Column:
    """Non-ASCII outside tags — EVEN tag-split segments only
    (ssml_validator.py:57-69, quirk preserved)."""
    even = F.filter(F.split(F.col(col), _TAG_RE, -1), lambda p, j: j % 2 == 0)
    runs = F.flatten(
        F.transform(
            even, lambda p: F.regexp_extract_all(p, F.lit(r"[^\x00-\x7F]+"), F.lit(0))
        )
    )
    return _findings(
        "non_standard_characters",
        F.transform(
            runs,
            lambda r: F.concat(
                F.lit("Non-standard character(s) found outside tags: '"), r, F.lit("'")
            ),
        ),
    )


def misplaced_closing_tags_findings(col: str = "ssml") -> Column:
    """Closing tag followed by punctuation/paren (ssml_validator.py:151-163)."""
    matches = F.regexp_extract_all(
        F.col(col), F.lit(r"</[^>]+>\s*[(.,:;!?)]"), F.lit(0)
    )
    return _findings(
        "misplaced_closing_tags",
        F.transform(
            matches,
            lambda m: F.concat(
                F.lit("Misplaced closing tag detected: '"), m, F.lit("'")
            ),
        ),
    )


def malformed_closing_tags_findings(col: str = "ssml") -> Column:
    """Punctuation inside a closing tag (ssml_validator.py:131-149)."""
    matches = F.regexp_extract_all(
        F.col(col), F.lit(r"</\s*(\w+)[^>]*[.,:;!?][^>]*>"), F.lit(0)
    )
    return _findings(
        "malformed_closing_tags",
        F.transform(
            matches,
            lambda m: F.concat(
                F.lit("Malformed closing tag detected: '"), m, F.lit("'")
            ),
        ),
    )


def random_single_letters_findings(col: str = "ssml") -> Column:
    """Stray single letters outside tags (ssml_validator.py:165-183); checks
    every non-empty tag-split segment."""
    parts = F.filter(F.split(F.col(col), _TAG_RE, -1), lambda p: F.trim(p) != "")
    hits = F.flatten(
        F.transform(
            parts, lambda p: F.regexp_extract_all(p, F.lit(SINGLE_LETTER_RE), F.lit(0))
        )
    )
    return _findings(
        "random_single_letters",
        F.transform(
            hits,
            lambda m: F.concat(
                F.lit("Random single letter detected: '"), m, F.lit("'")
            ),
        ),
    )


def translation_length_findings(
    original_col: str = "extracted_text",
    ssml_col: str = "ssml",
    low: float = 0.95,
    high: float = 3.0,
) -> Column:
    """EN/LA word-count ratio outside [low, high]
    (ssml_validator.py:105-129). Word counting = \\b[\\w-]+\\b, and SSML is
    stripped (<sub> with content removed first) before counting."""
    word_re = r"\b[\w-]+\b"
    clean_en = F.regexp_replace(
        F.regexp_replace(F.col(ssml_col), r"(?s)<\s*sub\s+[^>]*>.*?</\s*sub\s*>", ""),
        _TAG_RE, "",
    )
    latin_words = F.size(F.regexp_extract_all(F.col(original_col), F.lit(word_re), F.lit(0)))
    english_words = F.size(F.regexp_extract_all(clean_en, F.lit(word_re), F.lit(0)))
    ratio = F.when(latin_words > 0, english_words / latin_words).otherwise(
        F.lit(float("inf"))
    )
    return _finding_if(
        "translation_length",
        (ratio > high) | (ratio < low),
        F.concat(
            F.lit("Translation length issue detected. Ratio: "),
            F.round(ratio, 2).cast("string"),
        ),
    )


def rule_punctuation(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    return _explode(chunks, punctuation_findings(col))


def rule_speak_tags(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    return _explode(chunks, speak_tags_findings(col))


def rule_non_standard_characters(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    return _explode(chunks, non_standard_characters_findings(col))


def rule_misplaced_closing_tags(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    return _explode(chunks, misplaced_closing_tags_findings(col))


def rule_malformed_closing_tags(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    return _explode(chunks, malformed_closing_tags_findings(col))


def rule_random_single_letters(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    return _explode(chunks, random_single_letters_findings(col))


def rule_translation_length(
    chunks: DataFrame,
    original_col: str = "extracted_text",
    ssml_col: str = "ssml",
    low: float = 0.95,
    high: float = 3.0,
) -> DataFrame:
    return _explode(
        chunks, translation_length_findings(original_col, ssml_col, low, high)
    )


def rule_duplicates(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    """Corpus-wide first-wins duplicate sentences (ssml_validator.py:44-55):
    explode sentences, keep every occurrence of a cleaned line after its
    first (url, chunk_number, position) appearance."""
    sentences = F.split(F.col(col), SENTENCE_SPLIT_RE, -1)
    df = chunks.select(
        "url", "chunk_number", F.posexplode(sentences).alias("pos", "line")
    ).withColumn(
        "clean_line", F.trim(F.regexp_replace("line", _TAG_RE, ""))
    )
    # first-wins WITHOUT a per-line window: a boilerplate line repeated 10^9
    # times would funnel one window partition through one task; min-struct
    # aggregation gets map-side partial aggs, and the join back is AQE
    # skew-splittable. Multiplicity-exact vs row_number > 1: occurrences are
    # pre-aggregated per (line, occurrence key) with a count, and the first
    # occurrence key re-emits count-1 findings (physically-duplicated input
    # rows still flag their extra copies).
    occ = F.struct("url", "chunk_number", "pos")
    grouped = df.groupBy("clean_line", "url", "chunk_number", "pos").agg(
        F.count(F.lit(1)).alias("_m")
    )
    firsts = (
        grouped.groupBy("clean_line")
        .agg(F.min(occ).alias("_first"), F.sum("_m").alias("_cnt"))
        .filter(F.col("_cnt") > 1)  # unique lines never produce findings
        .select("clean_line", "_first")
    )
    n_emit = F.when(occ == F.col("_first"), F.col("_m") - 1).otherwise(F.col("_m"))
    df = (
        grouped.join(firsts, "clean_line")
        .withColumn("_k", n_emit)
        .filter(F.col("_k") > 0)
        .select(
            "url",
            "chunk_number",
            "clean_line",
            F.explode(F.sequence(F.lit(1), F.col("_k"))).alias("_i"),
        )
        .drop("_i")
    )
    return df.select(
        "url", "chunk_number", F.lit("duplicates").alias("rule"),
        F.concat(F.lit("Possible duplicate: '"), F.col("clean_line"), F.lit("'"))
        .alias("message"),
    )


# --- UDF-backed rules (stack automata / positional logic) --------------------


def _english_word_findings(ssml: str) -> List[str]:
    """rfind-based containment (ssml_validator.py:17-29)."""
    import re

    out = []
    for m in re.finditer(r"\b(?:E|e)nglish\b", ssml, re.IGNORECASE):
        open_tag = ssml.rfind("<lang", 0, m.start())
        close_tag = ssml.rfind("</lang>", 0, m.start())
        if not (open_tag > close_tag):
            out.append(f"Found '{m.group()}' outside language tags")
    return out


def _balanced_findings(ssml: str) -> List[str]:
    """Stack-based open/close matching (ssml_validator.py:185-219)."""
    import re

    allowed = {"break", "lang", "p", "phoneme", "s", "speak", "w"}
    out: List[str] = []
    stack: List[str] = []
    for m in re.finditer(r"<(/?)(\w+)([^>]*?)(/?)>", ssml):
        closing, name, self_closing = m.group(1) == "/", m.group(2), m.group(4) == "/"
        if name not in allowed:
            continue
        if closing:
            if stack and stack[-1] == name:
                stack.pop()
            else:
                out.append(f"Unmatched closing tag: </{name}>")
        elif not self_closing:
            stack.append(name)
    while stack:
        out.append(f"Unmatched opening tag: <{stack.pop()}>")
    return out


def _nested_findings(ssml: str) -> List[str]:
    """Same-tag nesting detection (ssml_validator.py:221-251)."""
    import re

    tags = {"lang", "p", "phoneme", "s", "speak", "w"}
    out: List[str] = []
    stack: List[str] = []
    for m in re.finditer(r"<(/?)(\w+)[^>]*?>", ssml):
        closing, name = m.group(1) == "/", m.group(2)
        if name not in tags:
            continue
        if closing:
            if stack and stack[-1] == name:
                stack.pop()
            else:
                out.append(f"Unmatched closing tag: </{name}>")
        else:
            if stack and stack[-1] == name:
                out.append(f"Nested <{name}> tag detected.")
            stack.append(name)
    return out


def _udf_rule(fn) -> Column:
    @F.pandas_udf(ArrayType(StringType()))
    def rule_udf(s: pd.Series) -> pd.Series:
        return s.map(lambda t: [] if t is None else fn(t))

    return rule_udf


def rule_english_word(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    msgs = _udf_rule(_english_word_findings)(F.col(col))
    return _explode(chunks, _findings("english_word", msgs))


def rule_balanced_tags(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    msgs = _udf_rule(_balanced_findings)(F.col(col))
    return _explode(chunks, _findings("balanced_tags", msgs))


def rule_nested_tags(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    msgs = _udf_rule(_nested_findings)(F.col(col))
    return _explode(chunks, _findings("nested_tags", msgs))


def udf_findings(col: str = "ssml") -> Column:
    """The three Python-automaton rules in ONE Arrow round trip (each value
    crosses the JVM<->Python boundary once instead of three times)."""

    @F.pandas_udf(_FINDINGS)
    def fused(s: pd.Series) -> pd.Series:
        def run(t):
            if t is None:
                return []
            return (
                [{"rule": "english_word", "message": m} for m in _english_word_findings(t)]
                + [{"rule": "balanced_tags", "message": m} for m in _balanced_findings(t)]
                + [{"rule": "nested_tags", "message": m} for m in _nested_findings(t)]
            )

        return s.map(run)

    return fused(F.col(col))


def rules_udf_fused(chunks: DataFrame, col: str = "ssml") -> DataFrame:
    return _explode(chunks, udf_findings(col))


# the per-row rules validate runs in its one projection; rule_duplicates is
# corpus-wide (a shuffle) and stays a union branch
ROW_RULES = [
    punctuation_findings,
    speak_tags_findings,
    non_standard_characters_findings,
    misplaced_closing_tags_findings,
    malformed_closing_tags_findings,
    random_single_letters_findings,
    udf_findings,
]


def validate(chunks: DataFrame, include_translation_length: bool = False) -> DataFrame:
    """All rule findings (ssml_validator.py:255-270) in one scan of the
    chunks: every per-row rule is a column expression, concatenated into
    one array per chunk and exploded once (the native rules codegen'd, the
    three UDF rules in one Arrow pass); rule_duplicates joins as the only
    union branch. Identical findings to running each rule_* alone."""
    per_row = [rule() for rule in ROW_RULES]
    if include_translation_length:
        per_row.append(translation_length_findings())
    return _explode(chunks, _concat(per_row)).unionByName(rule_duplicates(chunks))


# --- pure-python mirrors for tier-1 parity tests ------------------------------


def single_letter_findings_py(ssml: str) -> List[Tuple[str]]:
    import re

    parts = re.split(_TAG_RE, ssml)
    out = []
    for part in parts:
        if not part.strip():
            continue
        out.extend(re.findall(SINGLE_LETTER_RE, part))
    return out


def words_after_ssml_strip(ssml: str) -> int:
    from .textstats import count_words_py

    return count_words_py(remove_ssml_tags_keep_words(ssml))

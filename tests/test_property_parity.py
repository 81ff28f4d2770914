"""Property-based parity: randomized inputs (hypothesis) through our
functions vs the reference oracles — catches packing/boundary edge cases the
fixed fixtures miss."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from reference_oracle import ref_ssml_processing, ref_timestamp, ref_utils
from textractssmlprocessor_spark.functions import chunking, cleaning, ssml, subtitles

# text made of words, punctuation, newlines — printable ASCII plus a little
# unicode to exercise isupper/word-boundary semantics
_WORD = st.text(
    alphabet=st.characters(
        whitelist_categories=("Lu", "Ll", "Nd"), max_codepoint=0x24F
    ),
    min_size=1,
    max_size=10,
)
_SEP = st.sampled_from([" ", " ", " ", ". ", "! ", "? ", "\n", ", "])
_TEXT = st.lists(st.tuples(_WORD, _SEP), min_size=0, max_size=80).map(
    lambda ps: "".join(w + s for w, s in ps)
)


@settings(max_examples=150, deadline=None)
@given(_TEXT, st.integers(min_value=10, max_value=300))
def test_chunk_text_property(text, size):
    assert chunking.chunk_text(text, size) == ref_utils().chunk_text(text, size)


@settings(max_examples=150, deadline=None)
@given(_TEXT)
def test_remove_headers_property(text):
    assert cleaning.remove_headers(text) == ref_utils().remove_headers(text)


@settings(max_examples=150, deadline=None)
@given(_TEXT)
def test_preprocess_ssml_property(text):
    assert ssml.preprocess_ssml_tags(text) == ref_utils().preprocess_ssml_tags(text)


_TAGS = st.sampled_from(
    ["<p>", "</p>", "<s>", "</s>", "<break/>", "<lang xml:lang='en'>", "</lang>",
     "<speak>", "</speak>", "<em>", "</em>"]
)
_SSML = st.lists(
    st.one_of(_TAGS, _WORD.map(lambda w: w + " ")), min_size=0, max_size=60
).map("".join)


@settings(max_examples=150, deadline=None)
@given(_SSML, st.integers(min_value=15, max_value=200))
def test_split_ssml_property(text, size):
    assert chunking.split_ssml(text, size) == ref_ssml_processing().split_ssml(
        text, size
    )


@settings(max_examples=100, deadline=None)
@given(
    _TEXT.filter(lambda t: len(t.strip()) > 0),
    st.floats(min_value=0.0, max_value=100.0, allow_nan=False),
    st.floats(min_value=0.1, max_value=500.0, allow_nan=False),
)
def test_subtitles_property(text, start, dur):
    end = start + dur
    ref = ref_timestamp().split_into_subtitles(text, start, end)
    assert subtitles.split_into_subtitles(text, start, end) == ref


@settings(max_examples=100, deadline=None)
@given(
    _TEXT.filter(lambda t: len(t.strip()) > 0),
    st.floats(min_value=0.0, max_value=100.0, allow_nan=False),
    st.floats(min_value=0.1, max_value=500.0, allow_nan=False),
)
def test_latin_subtitles_property(text, start, dur):
    end = start + dur
    assert subtitles.split_latin_subtitles(
        text, start, end
    ) == ref_timestamp().split_latin_subtitles(text, start, end)


@settings(max_examples=200, deadline=None)
@given(st.floats(min_value=0, max_value=200000, allow_nan=False))
def test_format_time_property(seconds):
    assert cleaning.format_time(seconds) == ref_timestamp().format_time(seconds)


_ABBR_TEXT = st.lists(
    st.sampled_from(
        ["ibid.", "e.g.", "i.e.", "etc.", "cf.", "viz.", "vs.", "ca.", "fl.",
         "et al.", "ch. 3", "vol. 2", "p. 14", "pp. 14", "word", "P. 9",
         "Etc.", "1 Corinthians", "II Samuel", "XIV", "I", "A.B.", ".",
         # codepoints re.IGNORECASE folds onto (or next to) branch letters
         "\u0130", "\u0131", "\u017f", "\u0307", "\u0131bid.", "\u0130.e.",
         "v\u017f.", "\u0130\u0307.e.", "e\u0307.g."]
    ),
    min_size=0,
    max_size=40,
).map(" ".join)


@settings(max_examples=300, deadline=None)
@given(_ABBR_TEXT)
def test_fused_abbreviations_equal_sequential(text):
    from textractssmlprocessor_spark.functions import subs

    assert subs.expand_abbreviations(text) == subs.expand_abbreviations_sequential(
        text
    )


# --- sessionize gap-split property (pure function, no Spark) ----------------

from hypothesis import given, settings, strategies as st


@settings(deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10**7),
            st.floats(min_value=-100, max_value=100, allow_nan=False),
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(min_value=1, max_value=10**6),
)
def test_split_sessions_matches_bruteforce(events, gap_us):
    from textractssmlprocessor_spark.streaming.sessionize import _split_sessions

    events = sorted(events)
    ts = [e[0] for e in events]
    vals = [e[1] for e in events]
    got = _split_sessions(ts, vals, gap_us)

    # brute force: split where the inter-event delta exceeds the gap
    sessions, cur = [], [0]
    for i in range(1, len(ts)):
        if ts[i] - ts[i - 1] > gap_us:
            sessions.append(cur)
            cur = []
        cur.append(i)
    sessions.append(cur)
    expected = [
        (ts[s[0]], ts[s[-1]], len(s), sum(vals[i] for i in s)) for s in sessions
    ]
    assert [(g[0], g[1], g[2]) for g in got] == [
        (e[0], e[1], e[2]) for e in expected
    ]
    for g, e in zip(got, expected):
        assert abs(g[3] - e[3]) < 1e-9

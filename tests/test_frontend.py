"""The text front end (html -> text, sentence segmentation) is linear in
its input and byte-identical to the regex references in tests/oracle.py;
out-of-range character references cannot fail a run."""

from __future__ import annotations

import time

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from relation_extraction_spark.functions.htmltext import (
    _extract_series,
    extract_text_py,
)
from relation_extraction_spark.functions.segment import segment_py

from .oracle import reference_extract_text, reference_segment

# markup-heavy alphabet: openers with and without closers, case and
# Unicode case-folding variants (``ſ`` folds to ``s`` under re.I), bare
# angle brackets, entities, and the punctuation segmentation keys on
_TOKENS = [
    "<!--", "-->", "<script", "</script >", "<SCRIPT x>", "<ſcript>",
    "<head>", "</head>", "<style>", "</style\n>", "<>", "<", ">",
    "&#65;", "&amp;", "\n", " ", ".", "!?", ")", '"', "Mr", "e.g", "U.S",
    "a", "b", "J", "x",
]
markup = st.lists(st.sampled_from(_TOKENS), max_size=60).map("".join)


@settings(max_examples=2000, deadline=None)
@given(markup)
def test_extract_text_equals_regex_reference(html):
    assert extract_text_py(html) == reference_extract_text(html)


@settings(max_examples=2000, deadline=None)
@given(markup)
def test_segment_equals_regex_reference(text):
    assert segment_py(text) == reference_segment(text)
    clean = reference_extract_text(text)
    assert segment_py(clean) == reference_segment(clean)


def test_segment_abbrev_before_final_newline():
    # the reference's `$` also matches before a final "\n", so the "a"
    # left of "\n." is a single-letter initial and no boundary follows
    text = "x a\n. b c."
    assert segment_py(text) == reference_segment(text) == [text]


def test_extract_series_maps_extract_text_py():
    html = pd.Series(
        [b"<p>caf\xc3\xa9 &amp; \xff</p>", None, "<b>x</b> y", b"<!-- a"]
    )
    got = _extract_series(html).tolist()
    assert got == ["café & \ufffd", "", "x y", "<!-- a"]


@pytest.mark.parametrize(
    "ref,want",
    [
        ("&#99999999;", "\ufffd"),    # past U+10FFFF: used to raise ValueError
        ("&#55296;", "\ufffd"),       # lone surrogate: UTF-8 cannot encode it
        ("&#57343;", "\ufffd"),
        ("&#1114111;", chr(0x10FFFF)),
        ("&#55295;", chr(0xD7FF)),
        ("&#0000065;", "A"),
        ("&#" + "0" * 5000 + "65;", "A"),  # longer than int() converts
        ("&#" + "9" * 5000 + ";", "\ufffd"),
    ],
)
def test_numeric_reference_bounds(ref, want):
    assert extract_text_py(f"<p>{ref}</p>") == want


_N = 256 * 1024


def _repeat(unit: str) -> str:
    return (unit * (_N // len(unit) + 1))[:_N]


# Shapes on which the regex references take tens of seconds to minutes
# at this size (quadratic); each must finish well under a second. The
# bound is loose because single-thread speed varies ~2x on shared hosts.
@pytest.mark.parametrize(
    "fn,text",
    [
        (extract_text_py, _repeat("<!-- open ")),
        (extract_text_py, _repeat("<script>var v=1;")),
        (extract_text_py, _repeat("<head>")),
        (extract_text_py, _repeat("<style>")),
        (extract_text_py, "<" * _N),
        (segment_py, "." * _N + "x"),
        (segment_py, "a" * _N + " b. c"),
        (segment_py, _repeat("A. ")),
    ],
    ids=[
        "comment", "script", "head", "style", "bare-lt",
        "dot-run", "long-word", "initials",
    ],
)
def test_linear_time_on_adversarial_input(fn, text):
    t0 = time.perf_counter()
    fn(text)
    assert time.perf_counter() - t0 < 1.0

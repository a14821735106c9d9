"""D2 — sentence segmentation (SURVEY.md §2.10 D2; BASELINE.json:L6).

Rule-based, deterministic: split after sentence terminators ``. ! ?``
(optionally followed by closing quotes/parens) when followed by whitespace,
guarding a fixed abbreviation list. Texts with no terminators at all (the
driver's ``documents`` fixture is punctuation-free word soup — FIXTURES.md
§1) fall back to fixed-length word windows so downstream stages always see
sentence-sized units.

Core is pure-Python (golden oracle shares it); Spark wrapper is a pandas
UDF returning ``array<string>`` which callers ``posexplode``.

Segmentation runs in time linear in the text length, so hostile text
cannot stall a task:

- ``_BOUNDARY`` is tried from the first terminator of each run only (its
  lookbehind fails at once inside a run). A failed try scans the run
  and the closers after it once; without the lookbehind every position
  of the run retried that scan, so ``'.' * n + 'x'`` took O(n²).
- ``_is_abbrev`` scans backward from the boundary over ASCII letters
  and dots and stops at ``start`` or at any other character. Two
  boundaries are separated by the whitespace of the earlier match, so
  no character is scanned for two boundaries. Slicing ``text[start:i]``
  per boundary and searching it with a ``$``-anchored regex was O(n)
  per boundary, and O(n²) when the slice grows (``'A. ' * n``) or ends
  in one long word.
- Each sentence is sliced once, when its boundary is accepted.
"""

from __future__ import annotations

import re
import string

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

WINDOW_WORDS = 12  # fallback window size for terminator-free text

_ABBREVS = {
    "mr", "mrs", "ms", "dr", "prof", "sr", "jr", "st", "vs", "etc",
    "e.g", "i.e", "inc", "ltd", "co", "corp", "no", "dept", "fig",
    "jan", "feb", "mar", "apr", "jun", "jul", "aug", "sep", "sept",
    "oct", "nov", "dec", "u.s", "u.k",
}

# candidate boundary: terminator run + optional close quote/paren + spaces.
# The lookbehind lets a match start only at the first terminator of a run;
# a match starting inside a run would imply one at its start, so the
# matches are those of the pattern without it.
_BOUNDARY = re.compile(r"(?<![.!?])([.!?]+[\"')\]]*)(\s+)")

_WORD_CHARS = frozenset(string.ascii_letters + ".")


def _is_abbrev(text: str, start: int, end: int) -> bool:
    """True if ``text[start:end]``, the text left of a '.', ends in a
    guarded abbreviation: its trailing run of ASCII letters and dots,
    from the run's first letter on, with trailing dots dropped. As with
    a ``$``-anchored regex, a final newline is skipped first."""
    if end > start and text[end - 1] == "\n":
        end -= 1
    i = end
    while i > start and text[i - 1] in _WORD_CHARS:
        i -= 1
    while i < end and text[i] == ".":
        i += 1
    w = text[i:end].rstrip(".").lower()
    return w in _ABBREVS or len(w) == 1  # single-letter initials ("J. Smith")


def segment_py(text: str) -> list[str]:
    """Deterministic segmentation of one document (oracle core)."""
    if not text:
        return []
    text = text.strip()
    sents: list[str] = []
    start = 0
    for m in _BOUNDARY.finditer(text):
        end = m.end(1)
        term = m.group(1)
        if term.startswith(".") and "!" not in term and "?" not in term:
            if _is_abbrev(text, start, m.start(1)):
                continue
        piece = text[start:end].strip()
        if piece:
            sents.append(piece)
        start = m.end()
    tail = text[start:].strip()
    if tail:
        sents.append(tail)
    if len(sents) == 1 and not re.search(r"[.!?]", text):
        # terminator-free word soup -> fixed word windows (FIXTURES.md §1)
        words = text.split(" ")
        if len(words) > WINDOW_WORDS:
            sents = [
                " ".join(words[i : i + WINDOW_WORDS])
                for i in range(0, len(words), WINDOW_WORDS)
            ]
    return sents


@pandas_udf(ArrayType(StringType()))
def segment(text: pd.Series) -> pd.Series:
    return text.fillna("").map(segment_py)

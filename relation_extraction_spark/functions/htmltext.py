"""D1 — html -> text extraction (SURVEY.md §2.10 D1; BASELINE.json:L15).

The binding per-row invariant is that ``extract_text(html)`` equals the
``text`` column byte-identically per url. The reference repo was empty at
survey time (SURVEY.md §0), so the authoritative definition of "extracted
text" is this module + the corpus generator in sources/corpus.py, which are
designed as exact inverses: the generator entity-escapes ``text`` into the
page body; this extractor drops head/script/style/comments/tags, unescapes,
and collapses whitespace.

``extract_text_py`` is the one implementation: the golden oracle in tests
calls it directly, and the Spark wrapper is an Arrow-batched scalar pandas
UDF that maps it over each batch's rows.

Every step runs in time linear in the page size, so malformed crawl pages
cannot stall an extract task. A lazy ``<script\\b.*?</script\\s*>`` regex
substitution is quadratic in unclosed openers: it retries the closer
search from every opener. ``_strip_blocks`` gives the same result in one
forward scan (see there), and the generic tag regex only sees the prefix
that ends at the last ``>``, since every ``<`` after it fails to match
after scanning to the end of the string.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

# (opener, closer) of each block that is replaced by one space, in order:
# comments and container blocks go before generic tags.
_BLOCKS = [
    (re.compile(r"<!--"), re.compile(r"-->")),
    (re.compile(r"<head\b", re.IGNORECASE), re.compile(r"</head\s*>", re.IGNORECASE)),
    (re.compile(r"<script\b", re.IGNORECASE), re.compile(r"</script\s*>", re.IGNORECASE)),
    (re.compile(r"<style\b", re.IGNORECASE), re.compile(r"</style\s*>", re.IGNORECASE)),
]
_RE_TAG = re.compile(r"<[^>]+>")
_RE_WS = re.compile(r"\s+")
_RE_NUMERIC_ENT = re.compile(r"&#(\d+);")

_NAMED_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # must be last: escapes of escapes
]


def _strip_blocks(s: str, opener: re.Pattern, closer: re.Pattern) -> str:
    """``re.sub(opener + ".*?" + closer, " ", s, flags=re.DOTALL)`` in one
    forward scan. Each opener matches a fixed number of characters, so a
    later opener ends later; if no closer follows one opener, none
    follows any later opener either, and the scan stops there."""
    parts = []
    pos = 0
    while (o := opener.search(s, pos)) and (c := closer.search(s, o.end())):
        parts += (s[pos : o.start()], " ")
        pos = c.end()
    if not parts:
        return s
    parts.append(s[pos:])
    return "".join(parts)


def _numeric_ref(m: re.Match) -> str:
    """``&#N;`` -> chr(N); like HTML5, a code point past U+10FFFF or a
    surrogate (which UTF-8 cannot encode) becomes U+FFFD. The value is
    read from the last 7 digits so that ``int`` never sees a digit string
    too long to convert."""
    digits = m.group(1)
    if any(map(int, digits[:-7])):
        return "\ufffd"
    cp = int(digits[-7:])
    if cp > 0x10FFFF or 0xD800 <= cp <= 0xDFFF:
        return "\ufffd"
    return chr(cp)


def extract_text_py(html: str) -> str:
    """Deterministic single-string extraction (golden-oracle core)."""
    if html is None:
        return ""
    s = html
    for opener, closer in _BLOCKS:
        s = _strip_blocks(s, opener, closer)
    cut = s.rfind(">") + 1
    s = _RE_TAG.sub(" ", s[:cut]) + s[cut:]
    s = _RE_NUMERIC_ENT.sub(_numeric_ref, s)
    for ent, ch in _NAMED_ENTITIES:
        s = s.replace(ent, ch)
    return _RE_WS.sub(" ", s).strip()


def _extract_cell(html: str | bytes | None) -> str:
    if isinstance(html, (bytes, bytearray)):
        html = html.decode("utf-8", "replace")
    return extract_text_py(html)


def _extract_series(html: pd.Series) -> pd.Series:
    """Extraction over one Arrow batch; binary html is decoded as UTF-8
    with replacement characters."""
    return html.map(_extract_cell)


@pandas_udf(StringType())
def extract_text(html: pd.Series) -> pd.Series:
    return _extract_series(html)

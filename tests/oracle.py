"""Single-node golden oracle for the KG pipeline (SURVEY.md §5.2).

The reference tree is empty (SURVEY.md §0), so the pinned stand-in for
"what the reference would emit" is this plain-Python, driver-side
re-execution of the pipeline semantics: generate pages -> as-of dedup of
recrawls -> extract text from html -> filter lang -> segment -> extract
triples/mentions. It deliberately shares the *leaf* functions
(extract_text_py, segment_py, extract_from_sentence) with the Spark path
— what it independently re-implements is everything Spark distributes:
the recrawl dedup, the explode/sent_id bookkeeping, and batching — so a
bug in mapInPandas batching, posexplode indexing, window dedup, or
partitioning shows up as a P/R miss (BASELINE.json:L2 P/R>=0.95).
"""

from __future__ import annotations

import re

from relation_extraction_spark.functions.htmltext import extract_text_py
from relation_extraction_spark.functions.nlp import (
    detect_mentions,
    extract_from_sentence,
)
from relation_extraction_spark.functions.segment import (
    _ABBREVS,
    WINDOW_WORDS,
    segment_py,
)
from relation_extraction_spark.sources.corpus import (
    make_page,
    make_stale_recrawl,
)


def golden_pages(
    n: int,
    seed: int = 42,
    skew: float = 0.1,
    dup_frac: float = 0.05,
    lang_en: float = 0.85,
) -> list[dict]:
    """Corpus incl. stale recrawls, then as-of deduped: latest ts per url."""
    rows = []
    for i in range(n):
        rows.append(make_page(seed, i, skew, lang_en))
        if dup_frac > 0 and (i * 2654435761 % 10_000) < dup_frac * 10_000:
            rows.append(make_stale_recrawl(seed, i, skew, lang_en))
    latest: dict[str, dict] = {}
    for r in rows:
        cur = latest.get(r["url"])
        if cur is None or r["warc_ts"] > cur["warc_ts"]:
            latest[r["url"]] = r
    return sorted(latest.values(), key=lambda r: r["url"])


def golden_text(pages: list[dict]) -> dict[str, str]:
    """url -> reference-extracted text (the byte-identity golden)."""
    return {p["url"]: extract_text_py(p["html"].decode("utf-8")) for p in pages}


def golden_triples(pages: list[dict], lang: str = "en") -> set[tuple]:
    """Set of (url, sent_id, subj, pred, obj) the reference would emit."""
    out = set()
    for p in pages:
        if lang is not None and p["lang"] != lang:
            continue
        text = extract_text_py(p["html"].decode("utf-8"))
        for sid, sent in enumerate(segment_py(text)):
            for t in extract_from_sentence(sent):
                out.add((p["url"], sid, t["subj"], t["pred"], t["obj"]))
    return out


def golden_mentions(pages: list[dict], lang: str = "en") -> set[tuple]:
    out = set()
    for p in pages:
        if lang is not None and p["lang"] != lang:
            continue
        text = extract_text_py(p["html"].decode("utf-8"))
        for sid, sent in enumerate(segment_py(text)):
            for m in detect_mentions(sent):
                out.add((p["url"], sid, m["mention"], m["start"], m["end"]))
    return out


# ------------------------------------------------------------------
# Regex references for the linear-time text front end. These are the
# straightforward regex formulations of html->text and segmentation that
# functions/htmltext.py and functions/segment.py replaced with linear
# scans; tests/test_functions.py asserts byte equality with them. They
# are quadratic on unclosed openers and long terminator runs, so they
# are for small inputs only, and ``reference_extract_text`` still raises
# or returns a lone surrogate on out-of-range ``&#N;`` references.

_REF_COMMENT = re.compile(r"<!--.*?-->", re.DOTALL)
_REF_HEAD = re.compile(r"<head\b.*?</head\s*>", re.DOTALL | re.IGNORECASE)
_REF_SCRIPT = re.compile(r"<script\b.*?</script\s*>", re.DOTALL | re.IGNORECASE)
_REF_STYLE = re.compile(r"<style\b.*?</style\s*>", re.DOTALL | re.IGNORECASE)
_REF_TAG = re.compile(r"<[^>]+>")
_REF_WS = re.compile(r"\s+")
_REF_NUMERIC_ENT = re.compile(r"&#(\d+);")

_REF_NAMED_ENTITIES = [
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&apos;", "'"),
    ("&nbsp;", " "),
    ("&amp;", "&"),  # must be last: escapes of escapes
]


def reference_extract_text(html: str) -> str:
    """Regex-chain html -> text."""
    if html is None:
        return ""
    s = _REF_COMMENT.sub(" ", html)
    s = _REF_HEAD.sub(" ", s)
    s = _REF_SCRIPT.sub(" ", s)
    s = _REF_STYLE.sub(" ", s)
    s = _REF_TAG.sub(" ", s)
    s = _REF_NUMERIC_ENT.sub(lambda m: chr(int(m.group(1))), s)
    for ent, ch in _REF_NAMED_ENTITIES:
        s = s.replace(ent, ch)
    return _REF_WS.sub(" ", s).strip()


_REF_BOUNDARY = re.compile(r"([.!?]+[\"')\]]*)(\s+)")


def reference_is_abbrev(left: str) -> bool:
    """True if the text left of a '.' ends in a guarded abbreviation."""
    m = re.search(r"([A-Za-z][A-Za-z.]*)$", left)
    if not m:
        return False
    w = m.group(1).rstrip(".").lower()
    if w in _ABBREVS or (w + ".") in _ABBREVS or w in {"e.g", "i.e", "u.s", "u.k"}:
        return True
    return len(w) == 1  # single-letter initials ("J. Smith")


def reference_segment(text: str) -> list[str]:
    """Regex segmentation of one document."""
    if not text:
        return []
    text = text.strip()
    sents: list[str] = []
    start = 0
    for m in _REF_BOUNDARY.finditer(text):
        end = m.end(1)
        term = m.group(1)
        if term.startswith(".") and "!" not in term and "?" not in term:
            if reference_is_abbrev(text[start : m.start(1)]):
                continue
        piece = text[start:end].strip()
        if piece:
            sents.append(piece)
        start = m.end()
    tail = text[start:].strip()
    if tail:
        sents.append(tail)
    if len(sents) == 1 and not re.search(r"[.!?]", text):
        words = text.split(" ")
        if len(words) > WINDOW_WORDS:
            sents = [
                " ".join(words[i : i + WINDOW_WORDS])
                for i in range(0, len(words), WINDOW_WORDS)
            ]
    return sents

"""Workload inputs, job drivers and output checks.

Every input is generated from the workload seed inside the run
directory; the program under test only ever sees the generated parquet.

- ``kg`` feeds ``plans.pipeline`` a ``web_pages`` corpus from the repo's
  own seeded generator (``sources.corpus.synthetic_pages``: 3-10
  sentences per page, head-entity skew 0.1, recrawl dups 0.05), plus
  pages whose html ends in a long run of unclosed ``<!--`` or
  ``<script>`` openers, which the html->text regexes scan in quadratic
  time.
- ``mixture`` feeds ``plans.mixture`` a ``documents`` table shaped like
  the sf0.1 fixture (punctuation-free word-soup docs over a 31-word
  vocabulary, 10-99 words, ~41% en, ~5% near-duplicates), 2000 docs
  rather than its 5000, replicated with shifted doc ids so every doc
  also has exact copies. The near-dup stage runs as one skewed task
  whose time grows with the distinct docs, so 2000 keeps a run near
  4 s and several runs fit in one invocation.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SKEW = 0.1
DUP_FRAC = 0.05
LANG_EN = 0.85

HOSTILE_KINDS = ("comment", "script")

DOC_VOCAB = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = ("en", "zh", "es", "fr", "de")
DOC_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
NEAR_DUP_FRAC = 0.047
EXACT_DUP_FRAC = 0.002
REPLICA_ID_SHIFT = 1_000_000


@dataclass(frozen=True)
class Workload:
    name: str
    job: str  # "kg" or "mixture"
    pages: int = 0
    bulk_pages: int = 0  # larger corpus of the same pages, for the fit
    hostile_pages: int = 0
    hostile_tail_kb: int = 0
    base_docs: int = 0
    replicas: int = 0
    # untimed runs before the clock: the JVM keeps compiling the job's
    # code for dozens of runs, and the early runs fall fastest
    warmups: int = 1

    @property
    def docs(self) -> int:
        """Stated input size: pages, or documents after replication."""
        if self.job == "kg":
            return self.pages + self.hostile_pages
        return self.base_docs * self.replicas


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "kg", "kg", pages=8000, bulk_pages=32000,
            hostile_pages=8, hostile_tail_kb=40,
        ),
        Workload(
            "mixture", "mixture", base_docs=2000, replicas=8, warmups=4,
        ),
    )
}

# Tiny sizes with the same shape, for the benchmark's own tests.
SMOKE = {
    "kg": Workload(
        "kg", "kg", pages=600, bulk_pages=1200,
        hostile_pages=4, hostile_tail_kb=4,
    ),
    "mixture": Workload(
        "mixture", "mixture", base_docs=200, replicas=2
    ),
}


# ------------------------------------------------------------------ inputs


def _hostile_tail(kind: str, kb: int) -> str:
    # no '-->' or '</script' follows any opener, so every one is
    # unclosed. The comment unit has no '>', so the generic tag regex
    # later swallows that tail whole (up to the '>' of '</body>'); a
    # script tail leaves its statement text behind.
    unit = "<!-- open " if kind == "comment" else "<script>var v=1;"
    return unit * (kb * 1024 // len(unit))


def hostile_pages(seed: int, first_id: int, n: int, tail_kb: int) -> list[dict]:
    """``n`` English pages from the corpus generator (ids past the corpus),
    each with an unclosed-opener tail inserted before ``</body>``.
    Kinds alternate comment / script."""
    from relation_extraction_spark.sources.corpus import make_page

    out = []
    i = first_id
    while len(out) < n:
        page = make_page(seed, i, SKEW, LANG_EN)
        i += 1
        if page["lang"] != "en":
            continue
        kind = HOSTILE_KINDS[len(out) % 2]
        html = page["html"].decode("utf-8")
        cut = html.rindex("</body>")
        tail = _hostile_tail(kind, tail_kb)
        page["html"] = (html[:cut] + tail + html[cut:]).encode("utf-8")
        page["kind"] = kind
        out.append(page)
    return out


def write_kg_corpus(spark, pages: int, seed: int, path: str) -> None:
    """Write the first ``pages`` regular pages of the seed's corpus (a
    page depends only on the seed and its row id)."""
    from relation_extraction_spark.sources.corpus import synthetic_pages

    synthetic_pages(
        spark, pages, seed=seed, skew=SKEW, dup_frac=DUP_FRAC, lang_en=LANG_EN
    ).write.parquet(path)


def add_hostile_pages(w: Workload, seed: int, path: str) -> list[dict]:
    """Write the workload's hostile pages to ``path`` as one parquet file
    (``part-hostile.parquet``); return them."""
    hostile = hostile_pages(seed, w.pages, w.hostile_pages, w.hostile_tail_kb)
    cols = ["url", "warc_ts", "html", "text", "lang"]
    table = pa.Table.from_pandas(
        pd.DataFrame([{c: p[c] for c in cols} for p in hostile]),
        schema=pa.schema([
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us", tz="UTC")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]),
        preserve_index=False,
    )
    pq.write_table(table, os.path.join(path, "part-hostile.parquet"))
    return hostile


def documents(seed: int, n: int) -> pd.DataFrame:
    """Seeded word-soup documents with the sf0.1 fixture's shape,
    including its planted duplicates: NEAR_DUP_FRAC of the docs copy an
    earlier doc with its last word dropped or one word appended, and
    EXACT_DUP_FRAC copy one verbatim."""
    rng = np.random.default_rng(seed)
    n_words = rng.integers(10, 100, size=n)
    words = rng.integers(0, len(DOC_VOCAB), size=int(n_words.sum()))
    langs = rng.choice(len(DOC_LANGS), size=n, p=DOC_LANG_P)
    vocab = np.array(DOC_VOCAB, dtype=object)
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    docs = [list(vocab[words[bounds[i] : bounds[i + 1]]]) for i in range(n)]
    kind = rng.random(n)
    for i in range(1, n):
        if kind[i] >= NEAR_DUP_FRAC + EXACT_DUP_FRAC:
            continue
        src = docs[int(rng.integers(0, i))]
        if kind[i] < EXACT_DUP_FRAC:
            docs[i] = list(src)
        elif rng.random() < 0.5:
            docs[i] = src[:-1]
        else:
            docs[i] = src + [DOC_VOCAB[int(rng.integers(0, len(DOC_VOCAB)))]]
    texts = [" ".join(d) for d in docs]
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": [DOC_LANGS[k] for k in langs],
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def write_documents(w: Workload, seed: int, path: str) -> None:
    """``replicas`` copies of the seeded documents, ids shifted by
    REPLICA_ID_SHIFT per copy (copy 0 keeps the original ids, so the
    mixture job's eval set, doc_id < 10, stays the first docs)."""
    base = documents(seed, w.base_docs)
    os.makedirs(path)
    for r in range(w.replicas):
        part = base.assign(doc_id=base["doc_id"] + r * REPLICA_ID_SHIFT)
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            os.path.join(path, f"part-{r:05d}.parquet"),
        )


# --------------------------------------------------------------------- jobs


def kg_config(w: Workload, seed: int, corpus: str, out: str, run_id: str):
    from relation_extraction_spark.plans.pipeline import PipelineConfig

    return PipelineConfig(
        out=out,
        pages=w.pages,
        seed=seed,
        skew=SKEW,
        dup_frac=DUP_FRAC,
        lang_en=LANG_EN,
        input_parquet=corpus,
        resume=False,
        run_id=run_id,
    )


def mixture_config(corpus: str, out: str, run_id: str):
    from relation_extraction_spark.plans.mixture import MixtureConfig

    return MixtureConfig(out=out, input_parquet=corpus, run_id=run_id)


# ------------------------------------------------------------ output checks


def read_table(out: str, table: str) -> pd.DataFrame:
    """Latest committed snapshot of ``table`` under ``out``, via pyarrow."""
    from relation_extraction_spark.sources.lakehouse import SnapshotTable

    t = SnapshotTable(out, table)
    files = t.latest_manifest()["files"]
    return pa.concat_tables(
        [pq.read_table(os.path.join(t.dir, f)) for f in files]
    ).to_pandas()


def multiset_hash(df: pd.DataFrame) -> str:
    """Order-insensitive content hash: sum of per-row hashes mod 2**64,
    with the row count. List cells are hashed by their string form."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object and len(df) and isinstance(
            df[c].iloc[0], (list, np.ndarray)
        ):
            df[c] = df[c].map(lambda v: "\x1f".join(map(str, v)))
    h = pd.util.hash_pandas_object(df, index=False).to_numpy(dtype=np.uint64)
    total = int(h.sum(dtype=np.uint64))
    return hashlib.sha1(f"{len(df)}:{total}".encode()).hexdigest()[:16]


def kg_outputs(out: str, hostile_urls: frozenset[str]) -> dict:
    """Digest of one KG run's committed outputs. ``hostile_sentences``
    holds, per hostile page that reached the sentences table, its
    sentences in order."""
    triples = read_table(out, "triples")
    metrics = read_table(out, "metrics")
    sentences = read_table(out, "sentences")
    m = {
        r.metric: r.value
        for r in metrics.itertuples()
        if r.metric in ("text_invariant_mismatches", "pages_ingested")
    }
    regular = triples[~triples["url"].isin(hostile_urls)]
    hostile = sentences[sentences["url"].isin(hostile_urls)].sort_values("sent_id")
    return {
        "triples": multiset_hash(triples),
        "regular_triples": multiset_hash(regular),
        "entities": multiset_hash(read_table(out, "entities")),
        "edges": multiset_hash(read_table(out, "edges")),
        "mismatches": int(m["text_invariant_mismatches"]),
        "hostile_sentences": {
            url: list(g["sentence"]) for url, g in hostile.groupby("url")
        },
    }


def check_kg(
    digest: dict,
    same_as: dict | None,
    expected: dict | None,
    hostile_segments: dict[str, list[str]],
    reference_triples: str | None = None,
) -> list[str]:
    """Problems with one KG run's outputs (empty list = correct).

    ``same_as`` is an earlier run's digest on the same input: every output
    must repeat within an invocation. ``expected`` is the recorded digest
    for the seed (None when absent) and ``reference_triples`` the triples
    hash of the same corpus without its hostile pages; the triples of the
    regular pages must equal both. ``hostile_segments`` maps each hostile
    page's url to the segmentation of its stored text. A hostile page
    must be quarantined or extracted to exactly its stored text, and the
    regular pages must have no text-invariant mismatches."""
    problems = []
    for k in ("triples", "entities", "edges", "mismatches"):
        if same_as is not None and digest[k] != same_as[k]:
            problems.append(f"{k} differs from an earlier run")
    if expected is not None and digest["regular_triples"] != expected["regular_triples"]:
        problems.append("triples of regular pages differ from the recorded value")
    if reference_triples is not None and digest["regular_triples"] != reference_triples:
        problems.append("triples of regular pages differ from the plain corpus")
    extracted = digest["hostile_sentences"]
    for url, sentences in extracted.items():
        if sentences != hostile_segments.get(url):
            problems.append(f"hostile page {url} extracted to other text")
    quarantined = len(hostile_segments) - len(extracted)
    if digest["mismatches"] != quarantined:
        problems.append(
            f"{digest['mismatches']} text invariant mismatches, "
            f"{quarantined} of them hostile pages"
        )
    return problems


def mixture_outputs(counts: dict, out: str) -> dict:
    return {
        "counts": {k: int(v) for k, v in sorted(counts.items())},
        "mixture_docs": multiset_hash(read_table(out, "mixture_docs")),
    }


def check_mixture(
    digest: dict, same_as: dict | None, expected: dict | None
) -> list[str]:
    problems = []
    for k in ("counts", "mixture_docs"):
        if same_as is not None and digest[k] != same_as[k]:
            problems.append(f"{k} differs from an earlier run")
        if expected is not None and digest[k] != expected[k]:
            problems.append(f"{k} differs from the recorded value")
    c = digest["counts"]
    dropped = (
        c["n_quality_dropped"] + c["n_eval_held_out"] + c["n_contaminated"]
        + c["n_exact_dup_dropped"] + c["n_near_dup_dropped"]
    )
    if c["n_input"] != dropped + c["n_output"]:
        problems.append("audit counts do not conserve documents")
    return problems

"""The benchmark's own tests: span arithmetic, event-log folding, input
shapes, and a smoke run of every workload at tiny size.

    python3 -m pytest kgbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

from kgbench import spans as sp
from kgbench import workloads as wl
from kgbench.run import END_TO_END_UNITS, per_layer_units

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SMOKE_TIMEOUT_S = 150


def _span(sid, parent, kind, start, end, **kw):
    return {"id": sid, "parent": parent, "name": str(sid), "kind": kind,
            "start": start, "end": end, **kw}


def test_self_times_subtract_union_of_children():
    spans = [
        _span(1, None, "run", 0.0, 10.0),
        _span(2, 1, "stage", 0.0, 6.0),
        _span(3, 2, "lakehouse", 1.0, 3.0),
        _span(4, 2, "spark_job", 2.0, 4.0),  # overlaps the lakehouse call
        _span(5, 1, "stage", 6.0, 9.5),
    ]
    self_s = sp.self_times(spans, 1)
    assert self_s["run"] == pytest.approx(0.5)
    assert self_s["stage"] == pytest.approx(3.0 + 3.5)
    assert self_s["lakehouse"] == pytest.approx(2.0)
    assert self_s["spark_job"] == pytest.approx(2.0)


def test_attach_jobs_nests_under_innermost_open_span():
    tracer = sp.Tracer()
    tracer.spans = [
        _span(1, None, "run", 0.0, 10.0),
        _span(2, 1, "stage", 0.0, 6.0),
        _span(3, 2, "lakehouse", 1.0, 3.0),
    ]
    jobs = {
        0: {"group": "g:a", "start": 1.5, "end": 2.5, "tasks": []},
        1: {"group": "g:a", "start": 4.0, "end": 5.0, "tasks": []},
        2: {"group": None, "start": 4.0, "end": 5.0, "tasks": []},
    }
    sp.attach_jobs(tracer, jobs, {"g:a": 2})
    added = {s["name"]: s["parent"] for s in tracer.spans if s["kind"] == "spark_job"}
    assert added == {"job-0": 3, "job-1": 2}


def test_group_metrics_from_tasks():
    def task(ms, **kw):
        return {"ms": ms, "failed": False, "shuffle_bytes": 0,
                "spill_bytes": 0, "python_ms": 0, **kw}

    jobs = [
        {"tasks": [task(100, shuffle_bytes=2**20), task(300)]},
        {"tasks": [task(200, python_ms=150, failed=True)]},
    ]
    m = sp.group_metrics(jobs, wall_s=1.0, cores=4)
    assert m["jobs"] == 2 and m["tasks"] == 3
    assert m["task_busy_s"] == pytest.approx(0.6)
    assert m["idle_slot_s"] == pytest.approx(3.4)
    assert m["task_max_over_p50"] == pytest.approx(1.5)
    assert m["shuffle_mb"] == pytest.approx(1.0)
    assert m["python_s"] == pytest.approx(0.15)
    assert m["failed_tasks"] == 1


def test_multiset_hash_ignores_row_order_and_sees_duplicates():
    df = pd.DataFrame({"a": [1, 2, 3], "b": [["x"], ["y", "z"], []]})
    assert wl.multiset_hash(df) == wl.multiset_hash(df.iloc[::-1])
    assert wl.multiset_hash(df) != wl.multiset_hash(pd.concat([df, df.iloc[:1]]))


def test_hostile_pages_keep_or_break_byte_identity_by_kind():
    from relation_extraction_spark.functions.htmltext import extract_text_py

    # every opener is unclosed; the comment tail has no '>' at all
    assert ">" not in wl._hostile_tail("comment", 2)
    assert "</script" not in wl._hostile_tail("script", 2)
    pages = wl.hostile_pages(seed=3, first_id=1000, n=2, tail_kb=2)
    assert [p["kind"] for p in pages] == list(wl.HOSTILE_KINDS)
    for p in pages:
        html = p["html"].decode()
        assert p["lang"] == "en"
        same = extract_text_py(html) == p["text"]
        # a comment tail is stripped whole, a script tail leaks its text
        assert same == (p["kind"] == "comment")


def test_check_kg_accepts_quarantined_or_exact_hostile_pages():
    segments = {"h1": ["One.", "Two."], "h2": ["Three."]}
    run = {"triples": "t", "regular_triples": "r", "entities": "e",
           "edges": "g", "mismatches": 1, "hostile_sentences": {"h1": ["One.", "Two."]}}
    recorded = {"regular_triples": "r"}
    assert wl.check_kg(run, run, recorded, segments, "r") == []
    # the same outputs with every hostile page extracted exactly also pass
    clean = {**run, "mismatches": 0,
             "hostile_sentences": {"h1": ["One.", "Two."], "h2": ["Three."]}}
    assert wl.check_kg(clean, None, recorded, segments, "r") == []
    # an extracted hostile page whose text differs from its stored text
    leaked = {**clean, "hostile_sentences": {"h1": ["One.", "Two."], "h2": ["var v=1;"]}}
    assert wl.check_kg(leaked, None, recorded, segments, "r")
    # a regular page quarantined too
    assert wl.check_kg({**run, "mismatches": 2}, None, recorded, segments, "r")
    # regular-page triples that differ from the record or the plain corpus
    assert wl.check_kg({**run, "regular_triples": "x"}, None, recorded, segments, "x")
    assert wl.check_kg(run, None, recorded, segments, "x")
    # any output that changes between runs of one invocation
    assert wl.check_kg({**run, "edges": "g2"}, run, recorded, segments, "r")


def test_documents_are_seeded_and_fixture_shaped():
    a, b = wl.documents(7, 500), wl.documents(7, 500)
    pd.testing.assert_frame_equal(a, b)
    assert not a.equals(wl.documents(8, 500))
    words = a["text"].str.split()
    assert words.str.len().between(9, 100).all()
    assert set(w for ws in words for w in ws) <= set(wl.DOC_VOCAB)
    assert (a["n_chars"] == a["text"].str.len()).all()


def _run(args, cwd=ROOT, timeout=SMOKE_TIMEOUT_S):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "kgbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def _result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(wl.SMOKE))
def test_smoke_traced_run(workload):
    proc = _run(["--workload", workload, "--seed", "5", "--seconds", "1",
                 "--trace", "1", "--smoke"])
    res = _result(proc)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 2
    units = per_layer_units()
    metrics = res["metrics"]
    assert {k: v["unit"] for k, v in metrics.items()} == units
    value = {k: v["value"] for k, v in metrics.items()}
    assert value["trace.unattributed_jobs"] == 0
    stage_s = value["mixture.wall_s"] if workload == "mixture" else sum(
        value[k] for k in value if k.startswith("pipeline.") and k.endswith(".wall_s")
    )
    run_s = stage_s + value["trace.unattributed_s"]
    assert 0 <= value["trace.unattributed_s"] <= max(0.02 * run_s, 0.1)
    if workload == "mixture":
        assert value["mixture.jobs"] > 0 and value["connected_components_s"] > 0
    else:
        assert value["pipeline.canonicalize.jobs"] > 0
        assert value["lakehouse.commits"] > 0
    if workload == "kg":
        # the output check passed, so each hostile page was quarantined
        # or extracted exactly, and only hostile pages were quarantined
        assert value["extract.quarantined_pages"] <= wl.SMOKE["kg"].hostile_pages
        assert value["htmltext.max_ms_per_page"] > 0
        assert value["fit.bulk_run_s"] > 0


def test_smoke_untraced_run_reports_end_to_end_metrics():
    res = _result(_run(["--workload", "mixture", "--seed", "5", "--seconds", "1",
                        "--smoke"]))
    assert res["correct"] and res["attempted"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == END_TO_END_UNITS
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "kgbench"), tmp_path / "kgbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = _run(["--workload", "kg", "--seed", "1", "--seconds", "1"],
                cwd=str(tmp_path), timeout=60)
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout

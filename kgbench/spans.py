"""Spans recorded from outside the program, and Spark's event log folded
into per-layer metrics.

A traced run nests spans as run -> pipeline stage -> lakehouse call or
Spark job. The benchmark opens the run and stage spans around its own
calls into ``Pipeline.stage_*``; ``wrap_lakehouse`` opens one span per
call of a ``SnapshotTable`` public method; Spark jobs come from the
event log afterwards and are attached to the innermost span of their
job group that was open when the job was submitted.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict

LAKEHOUSE_METHODS = (
    "commit", "append", "append_rows", "read", "latest_manifest", "exists",
)
WRITE_METHODS = ("commit", "append", "append_rows")
PYTHON_RUN_METRIC = "time to run Python workers"  # milliseconds per task


class Tracer:
    """In-memory span recorder; spans are written out at the end."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, kind: str, **attrs):
        rec = {
            "id": len(self.spans) + 1,
            "parent": self._open[-1]["id"] if self._open else None,
            "name": name,
            "kind": kind,
            "start": time.time(),
            "end": None,
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()

    def add(self, name: str, kind: str, start: float, end: float,
            parent: int | None, **attrs) -> dict:
        rec = {
            "id": len(self.spans) + 1, "parent": parent, "name": name,
            "kind": kind, "start": start, "end": end, **attrs,
        }
        self.spans.append(rec)
        return rec

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, sort_keys=True) + "\n")


@contextlib.contextmanager
def wrap_lakehouse(tracer: Tracer):
    """Record a span per ``SnapshotTable`` public-method call while active.
    A write span notes the snapshot it published; ``account_writes``
    sizes the files afterwards, outside every span."""
    from relation_extraction_spark.sources.lakehouse import SnapshotTable

    originals = {m: getattr(SnapshotTable, m) for m in LAKEHOUSE_METHODS}

    def wrapped(method: str):
        orig = originals[method]

        def call(self, *args, **kwargs):
            with tracer.span(
                f"{self.name}.{method}", "lakehouse", table=self.name, op=method
            ) as rec:
                result = orig(self, *args, **kwargs)
            if method in WRITE_METHODS:
                rec["snapshot"] = result["snapshot_id"]
                rec["table_dir"] = self.dir
                rec["manifest_dir"] = self.manifest_dir
            return result

        return call

    for m in LAKEHOUSE_METHODS:
        setattr(SnapshotTable, m, wrapped(m))
    try:
        yield
    finally:
        for m, orig in originals.items():
            setattr(SnapshotTable, m, orig)


def account_writes(spans: list[dict]) -> None:
    """Add (data files, data bytes, manifest bytes) of the snapshot each
    write span published, while the run's output still exists."""
    for rec in spans:
        if rec["kind"] != "lakehouse" or rec["op"] not in WRITE_METHODS:
            continue
        snap = rec["snapshot"]
        files = glob.glob(
            os.path.join(rec["table_dir"], "data", f"snap-{snap}-*", "**", "*.parquet"),
            recursive=True,
        )
        rec["files"] = len(files)
        rec["bytes"] = sum(os.path.getsize(f) for f in files)
        rec["manifest_bytes"] = os.path.getsize(
            os.path.join(rec["manifest_dir"], f"snapshot-{snap}.json")
        )


# ---------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (single, uncompressed) application log."""
    paths = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    with open(paths[0]) as fh:
        return [json.loads(line) for line in fh]


def spark_jobs(events: list[dict]) -> dict[int, dict]:
    """Job id -> {group, start, end, tasks: [...]} from the event log.
    A Spark stage's tasks go to the lowest-numbered job listing it."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            jid = e["Job ID"]
            jobs[jid] = {
                "group": (e.get("Properties") or {}).get("spark.jobGroup.id"),
                "start": e["Submission Time"] / 1000,
                "end": None,
                "tasks": [],
            }
            for sid in e["Stage IDs"]:
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd":
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000
        elif kind == "SparkListenerTaskEnd":
            info = e["Task Info"]
            tm = e.get("Task Metrics") or {}
            python_ms = sum(
                float(a.get("Update", 0))
                for a in info.get("Accumulables", [])
                if a.get("Name") == PYTHON_RUN_METRIC
            )
            jobs[stage_job[e["Stage ID"]]]["tasks"].append({
                "ms": info["Finish Time"] - info["Launch Time"],
                "failed": bool(info.get("Failed"))
                or e["Task End Reason"]["Reason"] != "Success",
                "shuffle_bytes": (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ),
                "spill_bytes": tm.get("Disk Bytes Spilled", 0),
                "python_ms": python_ms,
            })
    return jobs


def attach_jobs(tracer: Tracer, jobs: dict[int, dict], groups: dict[str, int]) -> None:
    """Add a span per Spark job of a known group, under the innermost
    span of that group's subtree open at the job's submission."""
    children = defaultdict(list)
    for s in tracer.spans:
        children[s["parent"]].append(s)

    def innermost(span: dict, t: float) -> dict:
        for c in children[span["id"]]:
            if c["kind"] != "spark_job" and c["start"] <= t <= c["end"]:
                return innermost(c, t)
        return span

    by_id = {s["id"]: s for s in tracer.spans}
    for jid, job in sorted(jobs.items()):
        if job["group"] not in groups:
            continue
        parent = innermost(by_id[groups[job["group"]]], job["start"])
        tracer.add(
            f"job-{jid}", "spark_job", job["start"], job["end"] or job["start"],
            parent["id"], group=job["group"], tasks=len(job["tasks"]),
        )


def group_metrics(jobs: list[dict], wall_s: float, cores: int) -> dict[str, float]:
    """The per-stage block for the Spark jobs of one job group."""
    tasks = [t for j in jobs for t in j["tasks"]]
    ms = sorted(t["ms"] for t in tasks)
    busy_s = sum(ms) / 1000
    p50 = statistics.median(ms) if ms else 0
    return {
        "wall_s": wall_s,
        "jobs": len(jobs),
        "tasks": len(tasks),
        "task_busy_s": busy_s,
        "idle_slot_s": cores * wall_s - busy_s,
        "task_max_over_p50": (ms[-1] / max(p50, 1)) if ms else 0.0,
        "shuffle_mb": sum(t["shuffle_bytes"] for t in tasks) / 2**20,
        "spill_mb": sum(t["spill_bytes"] for t in tasks) / 2**20,
        "python_s": sum(t["python_ms"] for t in tasks) / 1000,
        "failed_tasks": sum(t["failed"] for t in tasks),
    }


def lakehouse_metrics(spans: list[dict]) -> dict[str, float]:
    lh = [s for s in spans if s["kind"] == "lakehouse"]
    writes = [s for s in lh if s["op"] in WRITE_METHODS]
    return {
        "commits": len(writes),
        "commit_s": sum(s["end"] - s["start"] for s in writes),
        "reads": sum(1 for s in lh if s["op"] == "read"),
        "manifest_reads": sum(1 for s in lh if s["op"] == "latest_manifest"),
        "files_written": sum(s["files"] for s in writes),
        "mb_written": sum(s["bytes"] for s in writes) / 2**20,
        "manifest_kb_written": sum(s["manifest_bytes"] for s in writes) / 1024,
    }


def self_times(spans: list[dict], root_id: int) -> dict[str, float]:
    """Self time per span kind in the subtree of ``root_id``: each span's
    duration minus the union of its children's intervals inside it."""
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out: dict[str, float] = defaultdict(float)

    def visit(span: dict) -> None:
        lo, hi = span["start"], span["end"]
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children[span["id"]], key=lambda c: c["start"]):
            a, b = max(c["start"], lo), min(c["end"], hi)
            if b <= a:
                continue
            if cur_hi is None or a > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = a, b
            else:
                cur_hi = max(cur_hi, b)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[span["kind"]] += (hi - lo) - covered
        for c in children[span["id"]]:
            visit(c)

    visit(next(s for s in spans if s["id"] == root_id))
    return dict(out)

"""Benchmark of the repo's two batch jobs, KG construction
(``plans.pipeline``) and training-mixture cleaning (``plans.mixture``).

    python3 kgbench/run.py --workload kg --seed 1 --seconds 24 --trace 0

Run from the repository root. One invocation starts one Spark session on
``local[N]`` (N = usable cores), generates the workload's input from
``--seed`` into ``.kgbench_run/``, runs the job a fixed number of times
untimed (warm-up, ``Workload.warmups``), then runs it closed loop, one
job at a time, starting another run while at least half of it fits in
``--seconds`` of job time. Every run writes
into a fresh output directory and is checked (see ``workloads.check_*``)
after its clock stops; ``run_s`` is the median of the runs that passed.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` does the same
timed runs, then one traced run (Spark event log on, one job group per
pipeline stage, every lakehouse call wrapped) and reports the per-layer
metrics; for ``kg`` it also times a run on a four-times-larger corpus
and prints the fixed-cost / marginal-throughput fit. Spans and the per-layer
block are written under ``.kgbench_run/trace/``. The last line of stdout
is the result JSON; lines starting with ``#`` before it carry the host
stamp, the per-run times and the fit. ``--smoke`` runs tiny inputs of
the same shape.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
RUN_DIR = os.path.join(ROOT, ".kgbench_run")
EXPECTED = os.path.join(ROOT, "kgbench", "expected.json")
PACKAGE = "relation_extraction_spark"
DRIVER_MEMORY = "4g"
TRACE_GROUP = "traced"

if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from kgbench import spans as sp  # noqa: E402
from kgbench import workloads as wl  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s",
    "run_s": "s",
    "docs_per_s": "1/s",
    "peak_rss_mb": "MB",
    "ok_run_frac": "frac",
}
STAGE_METRIC_UNITS = {
    "wall_s": "s", "jobs": "count", "tasks": "count", "task_busy_s": "s",
    "idle_slot_s": "s", "task_max_over_p50": "ratio", "shuffle_mb": "MB",
    "spill_mb": "MB", "python_s": "s", "failed_tasks": "count",
}
MIXTURE_METRICS = (
    "wall_s", "jobs", "tasks", "task_busy_s", "idle_slot_s", "shuffle_mb",
    "spill_mb", "task_max_over_p50", "failed_tasks",
)
LAKEHOUSE_UNITS = {
    "commits": "count", "commit_s": "s", "reads": "count",
    "manifest_reads": "count", "files_written": "count", "mb_written": "MB",
    "manifest_kb_written": "KB",
}
ISOLATED_OPS = (
    "dedup.ngram_jaccard_pairs_s", "dedup.contamination_overlap_s",
    "connected_components_s", "packing.pack_offsets_scalable_s",
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit. Layers
    a workload does not run read 0."""
    from relation_extraction_spark.plans.pipeline import STAGES

    units = {}
    for stage in STAGES:
        for k, u in STAGE_METRIC_UNITS.items():
            units[f"pipeline.{stage}.{k}"] = u
    for k, u in LAKEHOUSE_UNITS.items():
        units[f"lakehouse.{k}"] = u
    units.update({
        "htmltext.us_per_kb": "us/KB",
        "htmltext.max_ms_per_page": "ms",
        "segment.us_per_page": "us",
        "nlp.us_per_sentence": "us",
    })
    for k in MIXTURE_METRICS:
        units[f"mixture.{k}"] = STAGE_METRIC_UNITS[k]
    units.update({k: "s" for k in ISOLATED_OPS})
    units.update({
        "extract.quarantined_pages": "count",
        "extract.triples_per_page": "ratio",
        "link.linked_frac": "frac",
        "canonicalize.merge_ratio": "ratio",
        "fit.bulk_run_s": "s",
        "fit.fixed_s": "s",
        "fit.marginal_docs_per_s": "1/s",
        "session.start_s": "s",
        "corpus.gen_s": "s",
        "warmup.run_s": "s",
        "trace.overhead_frac": "frac",
        "trace.unattributed_s": "s",
        "trace.unattributed_jobs": "count",
        "selftime.run_s": "s",
        "selftime.stage_s": "s",
        "selftime.lakehouse_s": "s",
        "selftime.spark_job_s": "s",
    })
    return units


# ------------------------------------------------------------------- host


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def _proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (parent pid, command name, resident bytes) over /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
            with open(f"/proc/{name}/statm") as fh:
                pages = int(fh.read().split()[1])
        except (FileNotFoundError, ProcessLookupError, PermissionError):
            continue
        # the command name is in parentheses and may hold spaces
        comm = stat[stat.index("(") + 1 : stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        table[int(name)] = (ppid, comm, pages * page)
    return table


def jvm_python_rss(jvm: int) -> int:
    """Resident bytes of the JVM plus every Python process below it.
    Other descendants are skipped: a child the JVM forks for a shell
    command reports the JVM's own RSS until it execs."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _comm, _rss) in table.items():
        children.setdefault(ppid, []).append(pid)
    total = table.get(jvm, (0, "", 0))[2]
    todo = list(children.get(jvm, []))
    while todo:
        pid = todo.pop()
        _ppid, comm, rss = table[pid]
        if comm.startswith("python"):
            total += rss
        todo.extend(children.get(pid, []))
    return total


class RssSampler:
    """Samples ``jvm_python_rss`` every ``interval`` seconds on a
    background thread; ``peak`` is the largest sample since ``reset``."""

    def __init__(self, root_pid: int, interval: float = 0.1) -> None:
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            rss = jvm_python_rss(self.root_pid)
            with self._lock:
                self.peak = max(self.peak, rss)

    def reset(self) -> None:
        with self._lock:
            self.peak = jvm_python_rss(self.root_pid)

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def git_commit() -> str | None:
    try:
        res = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return res.stdout.strip() if res.returncode == 0 else None


def host_stamp(spark, w: wl.Workload, seed: int, input_rows: int) -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    return {
        "nproc": usable_cores(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "python": platform.python_version(),
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "spark": spark.version,
        "git_commit": git_commit(),
        "workload": w.name,
        "seed": seed,
        "input_docs": w.docs,
        "input_rows": input_rows,
    }


# ---------------------------------------------------------------- session


def prepare_environment(work: str) -> None:
    """Point every child process at the checkout before the JVM starts:
    the Python workers import the package from ROOT, and temp files,
    Spark's local dirs and the warehouse stay inside the run directory."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = tmp
    # HotSpot writes perf data to /tmp regardless of java.io.tmpdir; this
    # also covers the launcher JVM that spark-submit starts first
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    # SPARK_LOCAL_DIRS takes precedence over spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")


def start_session(work: str, cores: int, event_log: str | None):
    from relation_extraction_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms{DRIVER_MEMORY}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(
        app_name="kgbench",
        master=f"local[{cores}]",
        shuffle_partitions=max(2 * cores, 16),
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=60)


# ------------------------------------------------------------------- jobs


class Bench:
    """One workload on one session: input, job runs and their checks."""

    def __init__(self, spark, w: wl.Workload, seed: int, work: str,
                 expected: dict | None) -> None:
        self.spark = spark
        self.w = w
        self.seed = seed
        self.work = work
        self.corpus = os.path.join(work, "input")
        self.expected = expected
        self.hostile_segments: dict[str, list[str]] = {}
        self.reference_triples: str | None = None
        self.first_digest: dict | None = None
        self._runs = 0

    def generate(self) -> None:
        """Write the input; hostile pages go aside until ``add_hostile``."""
        if self.w.job == "kg":
            from relation_extraction_spark.functions.segment import segment_py

            wl.write_kg_corpus(self.spark, self.w.pages, self.seed, self.corpus)
            if self.w.hostile_pages:
                aside = os.path.join(self.work, "hostile")
                os.makedirs(aside)
                self.hostile_segments = {
                    p["url"]: segment_py(p["text"])
                    for p in wl.add_hostile_pages(self.w, self.seed, aside)
                }
        else:
            wl.write_documents(self.w, self.seed, self.corpus)

    def add_hostile(self) -> None:
        if self.hostile_segments:
            name = "part-hostile.parquet"
            os.rename(
                os.path.join(self.work, "hostile", name),
                os.path.join(self.corpus, name),
            )

    def input_rows(self) -> int:
        import pyarrow.dataset as ds

        return ds.dataset(self.corpus, format="parquet").count_rows()

    def new_out(self) -> str:
        self._runs += 1
        return os.path.join(self.work, f"out-{self._runs}")

    def run_job(self, out: str, run_id: str):
        if self.w.job == "kg":
            from relation_extraction_spark.plans.pipeline import run_pipeline

            return run_pipeline(
                self.spark, wl.kg_config(self.w, self.seed, self.corpus, out, run_id)
            )
        from relation_extraction_spark.plans.mixture import run_mixture

        return run_mixture(self.spark, wl.mixture_config(self.corpus, out, run_id))

    def digest(self, out: str, result) -> dict:
        if self.w.job == "kg":
            return wl.kg_outputs(out, frozenset(self.hostile_segments))
        return wl.mixture_outputs(result, out)

    def check(self, digest: dict) -> list[str]:
        """Compare a run over the measured input with the first such run
        and with the recorded digest."""
        if self.w.job == "kg":
            problems = wl.check_kg(
                digest, self.first_digest, self.expected, self.hostile_segments,
                self.reference_triples,
            )
        else:
            problems = wl.check_mixture(digest, self.first_digest, self.expected)
        if self.first_digest is None:
            self.first_digest = digest
        return problems

    def warm_up(self) -> tuple[float, list[str]]:
        """(wall seconds, problems) of the untimed first run in the fresh
        JVM, which takes about twice a warm one. With hostile pages it
        runs without them: its triples are the reference for the regular
        pages of every later run."""
        out = self.new_out()
        t0 = time.perf_counter()
        result = self.run_job(out, "warmup")
        wall = time.perf_counter() - t0
        digest = self.digest(out, result)
        if self.hostile_segments:
            problems = wl.check_kg(digest, None, self.expected, {})
            self.reference_triples = digest["triples"]
            self.add_hostile()
        else:
            problems = self.check(digest)
        shutil.rmtree(out)
        return wall, problems

    def timed_run(self, run_id: str, sampler: RssSampler) -> tuple[float, int, list[str]]:
        """(wall seconds, peak RSS bytes, problems) of one run. Dirty pages
        (the last run's deletes included) are flushed and garbage is
        collected before the clock starts; the output is checked, then
        deleted, after it stops."""
        out = self.new_out()
        os.sync()
        gc.collect()
        sampler.reset()
        t0 = time.perf_counter()
        try:
            result = self.run_job(out, run_id)
        except Exception:  # a failed run is counted, not fatal
            traceback.print_exc()
            return time.perf_counter() - t0, sampler.peak, ["job raised"]
        wall = time.perf_counter() - t0
        peak = sampler.peak
        problems = self.check(self.digest(out, result))
        shutil.rmtree(out)
        return wall, peak, problems


# ---------------------------------------------------------- traced layers


def traced_run(bench: Bench, tracer: sp.Tracer) -> tuple[dict, str, list[str]]:
    """Run the job with one job group per stage under spans; return
    (run span, output dir, problems). The output is kept for counts."""
    from relation_extraction_spark.plans.pipeline import STAGES, Pipeline

    sc = bench.spark.sparkContext
    out = bench.new_out()
    os.sync()
    gc.collect()
    with sp.wrap_lakehouse(tracer), tracer.span("run", "run") as run:
        if bench.w.job == "kg":
            pipe = Pipeline(
                bench.spark,
                wl.kg_config(bench.w, bench.seed, bench.corpus, out, "traced"),
            )
            try:
                for stage in STAGES:
                    sc.setJobGroup(f"{TRACE_GROUP}:{stage}", stage)
                    with tracer.span(stage, "stage"):
                        getattr(pipe, f"stage_{stage}")()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                pipe.flush_metrics()
            result = None
        else:
            from relation_extraction_spark.plans.mixture import run_mixture

            sc.setJobGroup(f"{TRACE_GROUP}:mixture", "mixture")
            try:
                with tracer.span("mixture", "stage"):
                    result = run_mixture(
                        bench.spark, wl.mixture_config(bench.corpus, out, "traced")
                    )
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
    sp.account_writes(tracer.spans)
    problems = bench.check(bench.digest(out, result))
    return run, out, problems


def kg_counts(out: str) -> dict[str, float]:
    metrics = wl.read_table(out, "metrics")
    by_name = dict(zip(metrics["metric"], metrics["value"]))
    linked = wl.read_table(out, "linked_mentions")

    def rows(table: str) -> int:
        return len(wl.read_table(out, table))

    return {
        "extract.quarantined_pages": by_name["text_invariant_mismatches"],
        "extract.triples_per_page": rows("triples") / by_name["pages_ingested"],
        "link.linked_frac": float(linked["entity_id"].notna().mean()),
        "canonicalize.merge_ratio": rows("mapping") / rows("entities"),
    }


SAMPLE_PAGES = 256
SAMPLE_LARGEST = 8


def pure_function_timings(corpus: str) -> dict[str, float]:
    """Time the html->text, segmentation and NLP cores on a fixed sample
    of the workload's own pages: every k-th page for the per-KB and
    per-page rates, plus the largest pages for the worst page."""
    import pyarrow.dataset as ds

    from relation_extraction_spark.functions.htmltext import extract_text_py
    from relation_extraction_spark.functions.nlp import analyze_sentence
    from relation_extraction_spark.functions.segment import segment_py

    table = ds.dataset(corpus, format="parquet").to_table(
        columns=["url", "warc_ts", "html", "text"]
    )
    df = table.to_pandas().sort_values(["url", "warc_ts"]).reset_index(drop=True)
    largest = set(df["html"].map(len).nlargest(SAMPLE_LARGEST).index)
    stride = max(len(df) // SAMPLE_PAGES, 1)
    sample = df.loc[[i for i in range(0, len(df), stride) if i not in largest]]

    def html_seconds(raw: bytes) -> float:
        doc = raw.decode("utf-8")
        t0 = time.perf_counter()
        extract_text_py(doc)
        return time.perf_counter() - t0

    html_s = sum(html_seconds(raw) for raw in sample["html"])
    kb = sample["html"].map(len).sum() / 1024
    worst_s = max(html_seconds(df.at[i, "html"]) for i in largest)
    t0 = time.perf_counter()
    sentences = [s for text in sample["text"] for s in segment_py(text)]
    seg_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    for s in sentences:
        analyze_sentence(s)
    nlp_s = time.perf_counter() - t0
    return {
        "htmltext.us_per_kb": html_s * 1e6 / kb,
        "htmltext.max_ms_per_page": worst_s * 1e3,
        "segment.us_per_page": seg_s * 1e6 / len(sample),
        "nlp.us_per_sentence": nlp_s * 1e6 / max(len(sentences), 1),
    }


def isolated_mixture_ops(bench: Bench) -> dict[str, float]:
    """Noop-sink wall time of each mixture operator on materialized
    inputs: replica 0 of the documents (one copy of each text), the
    corpus split at the eval boundary, and the materialized pairs."""
    from pyspark.sql import functions as F

    from relation_extraction_spark.operators.connected_components import (
        connected_components,
    )
    from relation_extraction_spark.operators.dedup import (
        contamination_overlap,
        ngram_jaccard_pairs,
    )
    from relation_extraction_spark.operators.packing import pack_offsets_scalable

    spark, sc = bench.spark, bench.spark.sparkContext
    cfg = wl.mixture_config(bench.corpus, "", "iso")
    docs = spark.read.parquet(bench.corpus)
    base_path = os.path.join(bench.work, "iso_base")
    pairs_path = os.path.join(bench.work, "iso_pairs")
    docs.filter(F.col("doc_id") < wl.REPLICA_ID_SHIFT).write.parquet(base_path)
    base = spark.read.parquet(base_path)

    def noop(name: str, df) -> float:
        sc.setJobGroup(f"iso:{name}", name)
        try:
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    out = {}
    out["dedup.contamination_overlap_s"] = noop(
        "contamination_overlap",
        contamination_overlap(
            docs.filter(F.col("doc_id") >= cfg.eval_max_doc_id),
            docs.filter(F.col("doc_id") < cfg.eval_max_doc_id),
            n=cfg.decontam_ngram,
        ),
    )
    pairs = ngram_jaccard_pairs(base, threshold=cfg.dup_threshold, n=cfg.dup_ngram)
    out["dedup.ngram_jaccard_pairs_s"] = noop("ngram_jaccard_pairs", pairs)
    pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).write.parquet(pairs_path)
    out["connected_components_s"] = noop(
        "connected_components",
        connected_components(spark.read.parquet(pairs_path)),
    )
    out["packing.pack_offsets_scalable_s"] = noop(
        "pack_offsets_scalable",
        pack_offsets_scalable(
            base.select("doc_id", "lang", F.size(F.split("text", " ")).alias("n_tok")),
            budget=cfg.pack_budget,
        ),
    )
    return out


def layer_metrics(tracer: sp.Tracer, run: dict, plain_s: float,
                  events: list[dict], cores: int) -> dict[str, float]:
    from relation_extraction_spark.plans.pipeline import STAGES

    metrics = dict.fromkeys(per_layer_units(), 0.0)
    jobs = sp.spark_jobs(events)
    stage_spans = [s for s in tracer.spans if s["kind"] == "stage"]
    groups = {f"{TRACE_GROUP}:{s['name']}": s["id"] for s in stage_spans}
    sp.attach_jobs(tracer, jobs, groups)
    for s in stage_spans:
        block = sp.group_metrics(
            [j for j in jobs.values() if j["group"] == f"{TRACE_GROUP}:{s['name']}"],
            s["end"] - s["start"], cores,
        )
        prefix = f"pipeline.{s['name']}" if s["name"] in STAGES else "mixture"
        for k, v in block.items():
            if f"{prefix}.{k}" in metrics:
                metrics[f"{prefix}.{k}"] = float(v)
    run_s = run["end"] - run["start"]
    metrics.update({
        f"lakehouse.{k}": float(v)
        for k, v in sp.lakehouse_metrics(tracer.spans).items()
    })
    self_s = sp.self_times(tracer.spans, run["id"])
    for kind in ("run", "stage", "lakehouse", "spark_job"):
        metrics[f"selftime.{kind}_s"] = self_s.get(kind, 0.0)
    # against the median of the untimed runs of the same invocation
    metrics["trace.overhead_frac"] = run_s / plain_s - 1
    metrics["trace.unattributed_s"] = run_s - sum(
        s["end"] - s["start"] for s in stage_spans
    )
    metrics["trace.unattributed_jobs"] = float(sum(
        1 for j in jobs.values()
        if run["start"] <= j["start"] <= run["end"]
        and not (j["group"] or "").startswith(TRACE_GROUP + ":")
    ))
    return metrics


# ------------------------------------------------------------------- main


def load_expected(w: wl.Workload, seed: int, smoke: bool) -> dict | None:
    if smoke:
        return None
    if not os.path.exists(EXPECTED):
        return None
    with open(EXPECTED) as fh:
        return json.load(fh).get(f"{w.name}:{w.docs}", {}).get(str(seed))


def bulk_fit(bench: Bench, run_s: float) -> dict[str, float]:
    """Time one more untraced run on the first ``bulk_pages`` pages plus
    the same hostile pages. With ``run_s`` on the workload's corpus this
    gives the line t = a + b * pages: fixed cost a, marginal throughput
    1/b. It is one sample, so the fit is informational."""
    from relation_extraction_spark.plans.pipeline import run_pipeline

    w = bench.w
    corpus = os.path.join(bench.work, "input-bulk")
    wl.write_kg_corpus(bench.spark, w.bulk_pages, bench.seed, corpus)
    wl.add_hostile_pages(w, bench.seed, corpus)
    out = bench.new_out()
    os.sync()
    gc.collect()
    t0 = time.perf_counter()
    run_pipeline(bench.spark, wl.kg_config(w, bench.seed, corpus, out, "bulk"))
    bulk_s = time.perf_counter() - t0
    b = (bulk_s - run_s) / (w.bulk_pages - w.pages)
    return {
        "fit.bulk_run_s": bulk_s,
        "fit.fixed_s": run_s - b * w.pages,
        "fit.marginal_docs_per_s": 1 / b if b > 0 else 0.0,
    }


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="job time to measure (closed loop, >= 1 run)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"kgbench: {PACKAGE}/ not found in {ROOT}; run from a checkout "
              "of the repository", file=sys.stderr)
        return 2
    import relation_extraction_spark

    if not os.path.abspath(relation_extraction_spark.__file__).startswith(ROOT + os.sep):
        print(f"kgbench: {PACKAGE} imported from outside {ROOT}", file=sys.stderr)
        return 2

    w = (wl.SMOKE if args.smoke else wl.WORKLOADS)[args.workload]
    cores = usable_cores()
    work = os.path.join(RUN_DIR, f"{w.name}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    prepare_environment(work)
    event_log = os.path.join(work, "eventlog") if args.trace else None
    try:
        return measure(args, w, cores, work, event_log)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, w: wl.Workload, cores: int, work: str, event_log: str | None) -> int:
    t0 = time.perf_counter()
    spark = start_session(work, cores, event_log)
    session_s = time.perf_counter() - t0
    sampler = RssSampler(spark.sparkContext._gateway.proc.pid)
    traced = None
    try:
        bench = Bench(spark, w, args.seed, work,
                      load_expected(w, args.seed, args.smoke))
        t0 = time.perf_counter()
        bench.generate()
        gen_s = time.perf_counter() - t0
        warm_s, problems = bench.warm_up()
        for i in range(1, w.warmups):
            wall, _peak, run_problems = bench.timed_run(f"warmup-{i}", sampler)
            warm_s += wall
            problems += run_problems
        setup_s = session_s + gen_s + warm_s
        stamp = host_stamp(spark, w, args.seed, bench.input_rows())
        for p in problems:
            print(f"kgbench: warm-up: {p}", file=sys.stderr)

        # failed runs count in `failed` only, never in the times
        walls, peaks, attempted, failed, elapsed = [], [], 0, 0, 0.0
        while not attempted or elapsed + statistics.median(walls) / 2 <= args.seconds:
            wall, peak, run_problems = bench.timed_run(f"timed-{attempted}", sampler)
            attempted += 1
            elapsed += wall
            for p in run_problems:
                print(f"kgbench: run {attempted}: {p}", file=sys.stderr)
            if run_problems:
                failed += 1
                if not walls:
                    break  # a job that fails before any run passed is broken
            else:
                walls.append(wall)
                peaks.append(peak)
        run_s = statistics.median(walls) if walls else None

        if args.trace and run_s is not None:
            tracer = sp.Tracer()
            run, out, traced_problems = traced_run(bench, tracer)
            attempted += 1
            failed += bool(traced_problems)
            for p in traced_problems:
                print(f"kgbench: traced run: {p}", file=sys.stderr)
            extra = {}
            if w.job == "kg":
                extra.update(kg_counts(out))
                extra.update(pure_function_timings(bench.corpus))
                extra.update(bulk_fit(bench, run_s))
            else:
                extra.update(isolated_mixture_ops(bench))
            traced = (tracer, run, extra)
    finally:
        sampler.close()
        stop_session(spark)

    print("# stamp: " + json.dumps(stamp, sort_keys=True))
    print("# timed runs (s): " + " ".join(f"{x:.3f}" for x in walls))
    correct = not problems and failed == 0
    metrics: dict[str, float] = {}
    if args.trace and traced is not None:
        tracer, run, extra = traced
        metrics = layer_metrics(
            tracer, run, run_s, sp.read_event_log(event_log), cores
        )
        metrics.update(extra)
        metrics.update({
            "session.start_s": session_s,
            "corpus.gen_s": gen_s,
            "warmup.run_s": warm_s,
        })
        if w.job == "kg":
            print(
                f"# info (not gated): fixed_s={metrics['fit.fixed_s']:.3f} "
                f"marginal_docs_per_s={metrics['fit.marginal_docs_per_s']:.1f} "
                f"from the median run, {run_s:.3f}s on {w.pages} pages, and one "
                f"run of {metrics['fit.bulk_run_s']:.3f}s on {w.bulk_pages} pages "
                f"(both plus {w.hostile_pages} hostile pages)"
            )
        trace_dir = os.path.join(RUN_DIR, "trace", f"{w.name}-seed{args.seed}")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, "spans.jsonl"))
        with open(os.path.join(trace_dir, "layers.json"), "w") as fh:
            json.dump({"stamp": stamp, "metrics": metrics}, fh, indent=1, sort_keys=True)
    elif not args.trace:
        metrics["setup_s"] = setup_s
        if run_s is not None:  # no time is reported when no run passed
            metrics.update({
                "run_s": run_s,
                "docs_per_s": w.docs / run_s,
                "peak_rss_mb": max(peaks) / 2**20,
            })
        metrics["ok_run_frac"] = (attempted - failed) / attempted
    units = {**END_TO_END_UNITS, **per_layer_units()}
    print(json.dumps({
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Record the output digests that ``run.py`` checks each run against.

    python3 kgbench/record.py --workload kg --seeds 1-20

For each seed: generate the workload's input, run the job once and store
the digest of its committed outputs in ``kgbench/expected.json`` under
``<workload>:<input docs>``: for ``kg`` the triples hash of the corpus
without its hostile pages, for ``mixture`` the audit counts and the
``mixture_docs`` hash. Re-record only when a change is meant to
alter the outputs, and say so in the change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from kgbench import run as rb  # noqa: E402
from kgbench import workloads as wl  # noqa: E402


def seed_range(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seeds", type=seed_range, required=True, help="e.g. 1-20")
    args = ap.parse_args()
    w = wl.WORKLOADS[args.workload]
    work = os.path.join(rb.RUN_DIR, f"record-{w.name}-{os.getpid()}")
    os.makedirs(work)
    rb.prepare_environment(work)
    spark = rb.start_session(work, rb.usable_cores(), None)
    digests = {}
    try:
        for seed in args.seeds:
            bench = rb.Bench(spark, w, seed, os.path.join(work, str(seed)), None)
            os.makedirs(bench.work)
            bench.generate()  # a kg corpus without its hostile pages
            out = bench.new_out()
            digest = bench.digest(out, bench.run_job(out, "record"))
            if w.job == "kg":
                digest = {"regular_triples": digest["regular_triples"]}
            digests[str(seed)] = digest
            print(f"seed {seed}: {json.dumps(digests[str(seed)])}", flush=True)
            shutil.rmtree(bench.work)
    finally:
        rb.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    expected = {}
    if os.path.exists(rb.EXPECTED):
        with open(rb.EXPECTED) as fh:
            expected = json.load(fh)
    expected.setdefault(f"{w.name}:{w.docs}", {}).update(digests)
    with open(rb.EXPECTED, "w") as fh:
        json.dump(expected, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())

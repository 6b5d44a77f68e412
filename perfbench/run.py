"""The lake engine's benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload ingest_trickle --seed 1 --seconds 16 --trace 0

Run from the repository root.  The engine is driven only from outside,
through its public functions, on Spark ``local[N]`` with N = the CPUs
the process may use, by one closed-loop client (this process).  Inputs
are generated from ``--seed``; ``--seconds`` fixes how many operations
a run times (at nominal per-operation costs measured on a 4-core host),
so the timed work of a run does not depend on how fast the engine is.

Workloads (see ``BENCHMARK.json`` for why each was chosen):

- ``ingest_trickle`` (``ingest.py``): small yellow and green taxi CSVs
  through ``PipelineRunner.on_file`` and a consumer read.
- ``query_headline`` (``query.py``): eleven registry slots to the noop
  sink, split into build, plan and execute.

End-to-end metrics, printed with ``--trace 0`` for every workload:

- ``setup_s``: session start plus warm-up through the engine's own
  calls (input generation excluded; it is ``generate_s`` in the
  detail record).  Set up once per run, so its bound is the widest.
- ``op_p50_s``: median wall time of the workload's unit of work.  On
  ``ingest_trickle`` that is ``on_file`` from file landed to
  purpose-built written and audit SUCCEEDED, which is data freshness;
  on ``query_headline`` it is one pass over the slot list, which heavy
  slots dominate.  Too few samples lie beyond any higher percentile to
  report one.

Both are wall times on a shared 4-vCPU host, where whole runs ran up
to 20% slower with the same engine CPU time (``timed_region`` in the
detail record), so their bounds are wide.  Every workload prints the
same end-to-end set, so measures that did not hold a 0.25 bound on one
workload are reported per layer: the consumer read after each arrival
(``read.p50_s``, interquartile range 36% of the median over ten
seeds) with its query counterpart, the geometric mean of per-slot
medians (``query.geomean_s``), and the driver JVM's peak resident set
(``driver.peak_rss_mb``, 1,287-1,791 MiB over three seeds of the same
ingest work, following the garbage collector's heap sizing).

``--trace 1`` instead prints the per-layer metrics: span self times,
Spark jobs charged through job groups, files and bytes written, and
``trace.overhead_share``, the traced over untraced operation time
minus one, from traced and untraced operations of the same run.  A
layer a workload does not exercise reads 0 there.

The last stdout line is ``{"correct", "attempted", "failed",
"metrics"}``; the full detail record (host, versions, sample counts,
every operation) goes to ``.perfbench-work/out/``, and traced runs
write their spans beside it.  A wrong output exits non-zero.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("ingest_trickle", "query_headline")
WORK_DIR = ".perfbench-work"

END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s"}


def per_layer_units() -> dict[str, str]:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    out_dir = os.path.join(root, WORK_DIR, "out")
    work = os.path.join(root, WORK_DIR, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    # everything Python, the JVM and Spark's workers write stays in work
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark_graft_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    sys.path.insert(0, HERE)
    sys.path.insert(0, root)

    from engine import cpu_count

    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    import ingest
    import query

    module = {"ingest_trickle": ingest, "query_headline": query}[args.workload]
    t0 = time.time()
    outcome = module.run(root, work, args.seed, args.seconds, bool(args.trace))
    wall_s = time.time() - t0

    if args.trace:
        units = per_layer_units()
        values = {name: outcome.per_layer.get(name, 0.0) for name in units}
    else:
        units = END_TO_END_UNITS
        values = outcome.end_to_end
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "wall_s": wall_s,
        "SPARK_GRAFT_CPUS_given": spark_graft_cpus,
        "errors": outcome.errors,
        "end_to_end": outcome.end_to_end,
        "per_layer": outcome.per_layer,
        **outcome.detail,
    }
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(out_dir, f"{stem}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.move(spans, os.path.join(out_dir, f"{stem}.spans.jsonl"))
    shutil.rmtree(work, ignore_errors=True)

    for e in outcome.errors:
        print(f"wrong output: {e}", file=sys.stderr)
    correct = not outcome.errors
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": outcome.attempted,
                "failed": min(outcome.attempted, outcome.failed + len(outcome.errors)),
                "metrics": {
                    name: {"value": values[name], "unit": units[name]} for name in units
                },
            }
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

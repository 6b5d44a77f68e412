"""``query_headline``: registry slots to the noop sink, read-only.

Each timed pass runs the fixed slot list in a seeded order.  Every
slot execution is split into build (the registry entry function,
including any eager staging jobs it runs), plan (forcing the physical
plan) and execute (the noop sink).  Nothing is written to a lake, so an
ingest-path change must leave these numbers unchanged.
"""

from __future__ import annotations

import functools
import os
import random
import sys
import time

import gen
from engine import HostCounters, NullJobs, Outcome, host_record, peak_rss_mib, start_session, stop_session
from spans import Tracer, layer_totals, maybe_span
from statistics import geometric_mean as geomean, median

#: the five heaviest bench slots at 4 cores, five SQL slots bound by
#: per-query fixed cost, and one Python-UDF slot; all oracle-backed
SLOTS = (
    "dedup_minhash_lsh",
    "dedup_semantic_skewguard",
    "corpus_rho1_selection",
    "corpus_quality_scores",
    "corpus_dsir_weights",
    "q01_pricing_summary",
    "q06_broadcast_dim_join",
    "q11_window_topk_per_group",
    "q13_sessionize",
    "q32_regional_supplier_volume",
    "sim_lsh_near_dup",
)
#: data scale for gen.query_tables: 10,000 orders, 40,000 line items,
#: 400 documents, 120 embeddings
SCALE = 10
#: nominal seconds per warm pass on 4 cores when this benchmark was
#: written; sizes the fixed pass count from --seconds
NOMINAL_PASS_S = 11.0


def passes_for(seconds: int) -> int:
    return max(1, round(seconds / NOMINAL_PASS_S))


def modes(slot: str, trace: bool) -> tuple[bool, ...]:
    """Whether each execution of ``slot`` in a pass is traced.  A traced
    run executes every slot twice, traced and untraced, in an order
    that alternates over the slot list, so the two can be compared."""
    if not trace:
        return (False,)
    return (True, False) if SLOTS.index(slot) % 2 else (False, True)


def pass_order(seed: int, p: int) -> list[str]:
    order = list(SLOTS)
    random.Random(f"{seed}-{p}").shuffle(order)
    return order


def run_slot(spark, spec, sf_dir: str, tracer: Tracer | None) -> tuple[float, float, float]:
    """Build, plan and execute one slot; the three wall times."""
    span = functools.partial(maybe_span, tracer)
    t0 = time.perf_counter()
    with span("registry.build"):
        df = spec.fn(spark, sf_dir)
    t1 = time.perf_counter()
    with span("query.plan"):
        df._jdf.queryExecution().executedPlan()
    t2 = time.perf_counter()
    with span("query.exec"):
        df.write.format("noop").mode("overwrite").save()
    t3 = time.perf_counter()
    return t1 - t0, t2 - t1, t3 - t2


def run(root: str, work: str, seed: int, seconds: int, trace: bool) -> Outcome:
    from aws_cdk_pipelines_datalake_etl_spark.plans.registry import build_registry

    sf_dir = os.path.join(work, "tables")
    t0 = time.perf_counter()
    gen.write_query_tables(seed, SCALE, sf_dir)
    generate_s = time.perf_counter() - t0

    registry = build_registry()
    n_passes = passes_for(seconds)
    tracer = Tracer(NullJobs()) if trace else None
    t0 = time.perf_counter()
    spark, get_spark_s = start_session(work, tracer)
    try:
        # warm-up: one full execution of every slot, whose rows the
        # correctness gate checks after measurement
        rows, warmup_s = {}, {}
        for name in SLOTS:
            w0 = time.perf_counter()
            rows[name] = registry[name].fn(spark, sf_dir).toPandas()
            warmup_s[name] = time.perf_counter() - w0
        setup_s = time.perf_counter() - t0

        counters = HostCounters(spark)
        runs: list[dict] = []
        failed = 0
        for p in range(n_passes):
            for name in pass_order(seed, p):
                for traced in modes(name, trace):
                    if traced:
                        tracer.op = len(runs) + 1
                    try:
                        b, pl, ex = run_slot(
                            spark, registry[name], sf_dir, tracer if traced else None
                        )
                    except Exception as exc:  # noqa: BLE001 — counted, reported
                        failed += 1
                        runs.append({"pass": p, "slot": name, "error": repr(exc)})
                        continue
                    if traced:
                        tracer.collect_jobs()
                    runs.append(
                        {"pass": p, "slot": name, "traced": traced, "op": len(runs) + 1,
                         "build_s": b, "plan_s": pl, "exec_s": ex, "total_s": b + pl + ex}
                    )
        timed_counters = counters.delta()
        rss = peak_rss_mib()
        host = host_record(spark)
    finally:
        stop_session(spark)
    errors = check(root, sf_dir, registry, rows)
    ok = [r for r in runs if "error" not in r]
    timed = [r for r in ok if not r["traced"]]
    errors += [f"{r['slot']} pass {r['pass']}: {r['error']}" for r in runs if "error" in r]
    pass_s = [
        sum(r["total_s"] for r in timed if r["pass"] == p) for p in range(n_passes)
    ]
    slot_med = {s: median([r["total_s"] for r in timed if r["slot"] == s]) for s in SLOTS}
    detail = {
        "host": host,
        "generate_s": generate_s,
        "peak_rss_mb": rss,
        "timed_region": timed_counters,
        "scale": SCALE,
        "samples": {"passes": n_passes, "slot_runs": len(runs)},
        "query_pass_s": median(pass_s),
        "query_geomean_s": geomean(list(slot_med.values())),
        "slot_median_s": slot_med,
        "warmup_s": warmup_s,
        "rows": {name: len(df) for name, df in rows.items()},
        "runs": runs,
    }
    end_to_end = {"setup_s": setup_s, "op_p50_s": detail["query_pass_s"]}
    per_layer = {
        "session.get_spark_s": get_spark_s,
        "driver.peak_rss_mb": rss,
        "query.geomean_s": detail["query_geomean_s"],
    }
    if trace:
        per_layer.update(layer_metrics(tracer, ok))
        tracer.dump(os.path.join(work, "spans.jsonl"))
    return Outcome(end_to_end, per_layer, len(runs), failed, errors, detail)


def layer_metrics(tracer: Tracer, runs: list[dict]) -> dict:
    """Per-slot medians over the traced executions, and their sums."""
    out: dict[str, float] = {}
    phases = (("build", "registry.build"), ("plan", "query.plan"), ("exec", "query.exec"))
    totals = {f"{span}_s": 0.0 for _, span in phases}
    jobs = {"registry.build_jobs": 0.0, "query.exec_jobs": 0.0}
    traced = [r for r in runs if r["traced"]]
    untraced = [r for r in runs if not r["traced"]]
    for slot in SLOTS:
        mine = [layer_totals(tracer.op_spans(r["op"])) for r in traced if r["slot"] == slot]
        for short, span in phases:
            v = median([t.total_s[span] for t in mine])
            out[f"query.{slot}.{short}_s"] = v
            totals[f"{span}_s"] += v
        jobs["registry.build_jobs"] += median([t.jobs["registry.build"] for t in mine])
        jobs["query.exec_jobs"] += median([t.jobs["query.exec"] for t in mine])
    out.update(totals)
    out.update(jobs)
    # per-slot ratios, so the half of the slots run traced-second (and
    # warmer) weigh the same as the half run traced-first
    out["trace.overhead_share"] = geomean([
        median([r["total_s"] for r in traced if r["slot"] == slot])
        / median([r["total_s"] for r in untraced if r["slot"] == slot])
        for slot in SLOTS
    ]) - 1
    return out


def check(root: str, sf_dir: str, registry, rows: dict) -> list[str]:
    """Each slot's rows against its DuckDB oracle over the same files,
    normalised the way the repository's oracle check does it."""
    import duckdb

    sys.path.insert(0, os.path.join(root, "scripts"))
    import oracle_check

    con = duckdb.connect()
    try:
        for t in gen.QUERY_TABLES:
            con.sql(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(sf_dir, t + '.parquet')}'"
            )
        errors = []
        for name in SLOTS:
            want = con.sql(registry[name].oracle).df()
            got = rows[name]
            gk, wk = oracle_check.dtype_kinds(got), oracle_check.dtype_kinds(want)
            g, w = oracle_check.normalize(got), oracle_check.normalize(want)
            kinds_differ = [
                c for c in g.columns
                if c in wk and gk[c] != wk[c] and not {gk[c], wk[c]} <= {"i", "u"}
            ]
            if list(g.columns) != list(w.columns) or kinds_differ or not g.equals(w):
                errors.append(
                    f"{name}: {len(g)} rows vs oracle {len(w)}"
                    + (f", kinds differ on {kinds_differ}" if kinds_differ else "")
                )
        return errors
    finally:
        con.close()

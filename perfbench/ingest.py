"""``ingest_trickle``: small taxi files through the audited pipeline.

Yellow and green taxi CSVs of ``ROWS`` rows arrive in alternation.
Setup lands a window of ``WINDOW_DAYS`` ingest days per table through
``PipelineRunner.on_file`` itself, ``SETUP_ROUNDS`` times over to warm
the JVM.  Each timed arrival then re-delivers one day of that window,
with new rows, via ``on_file(key, as_of=day)``.  The conformed,
purpose-built and raw zones therefore keep the same size however many
arrivals a run makes or how fast they go: every arrival re-aggregates
the same window.  A consumer read follows each arrival.  The one state
that still grows is the audit log, by exactly two files per arrival,
the same in every run.
"""

from __future__ import annotations

import functools
import os
import shutil
import time
from contextlib import nullcontext
from datetime import datetime, timedelta, timezone

import pandas as pd

import gen
from engine import HostCounters, NullJobs, Outcome, host_record, peak_rss_mib, start_session, stop_session
from spans import Tracer, layer_totals, maybe_span, patched, subtree
from statistics import median

ROWS = 3_000
WINDOW_DAYS = 2
#: times setup lands the window; rounds after the first are re-deliveries
#: that let JIT compilation settle before timing
SETUP_ROUNDS = 2
FLAVOURS = ("yellow", "green")
SOURCE = "tlc_taxi_data"
PURPOSEBUILT_DB = f"{SOURCE}_purposebuilt"
#: conformed (and purpose-built) table per flavour.  Green lands under
#: the table its transform reads FROM, so both flavours run
#: conform + transform on every arrival.
TABLE = {"yellow": "yellow_taxi_trip_record", "green": "green_taxi_record_data"}
#: the engine's transform SQL file behind each table
SQL_FILE = {"yellow": "yellow_taxi_trip_record", "green": "green_taxi_trip_record"}
FIRST_DAY = datetime(2020, 8, 1, tzinfo=timezone.utc)
#: nominal seconds per arrival plus read on 4 cores when this benchmark
#: was written; sizes the fixed arrival count from --seconds
NOMINAL_ARRIVAL_S = 3.0


def arrivals_for(seconds: int) -> int:
    """Timed arrivals for a run of ``seconds``: whole yellow+green pairs."""
    return 2 * max(1, round(seconds / (2 * NOMINAL_ARRIVAL_S)))


class Lake:
    """The run's lake, its inputs and what the engine must make of them."""

    def __init__(self, root: str, work: str, seed: int):
        self.seed = seed
        self.dir = os.path.join(work, "lake")
        self.transforms = os.path.join(work, "transforms")
        os.makedirs(self.transforms)
        # the engine's own SQL, filed under the conformed table it reads
        for flavour in FLAVOURS:
            shutil.copy(
                os.path.join(root, "transforms", f"{SQL_FILE[flavour]}.sql"),
                os.path.join(self.transforms, f"{TABLE[flavour]}.sql"),
            )
        self.files: dict[tuple[str, int], gen.TaxiFile] = {}
        self.last: dict[tuple[str, int], gen.TaxiFile] = {}  # (flavour, day)

    def make(self, flavour: str, index: int) -> None:
        self.files[flavour, index] = gen.taxi_csv(self.seed, flavour, ROWS, index=index)

    def key(self, flavour: str, day: int) -> str:
        return f"{SOURCE}/{TABLE[flavour]}/{flavour}_tripdata_day{day}.csv"

    def deliver(self, flavour: str, index: int, day: int) -> str:
        """Land file ``index`` as the raw file of ``day``; return its key."""
        key = self.key(flavour, day)
        path = os.path.join(self.dir, "raw", key)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(self.files[flavour, index].text)
        self.last[flavour, day] = self.files[flavour, index]
        return key

    def zone_files(self, zone: str, flavour: str | None = None) -> dict[str, int]:
        """Data files (path -> bytes) under a zone, or one table of it."""
        top = os.path.join(self.dir, zone, TABLE[flavour] if flavour else "")
        out = {}
        for d, _, names in os.walk(top):
            for n in names:
                if n.endswith(".parquet"):
                    p = os.path.join(d, n)
                    out[p] = os.path.getsize(p)
        return out


def setup_plan() -> list[tuple[str, int, int]]:
    """(flavour, file index, ingest day) of each setup arrival."""
    return [
        (flavour, r * WINDOW_DAYS + day, day)
        for r in range(SETUP_ROUNDS)
        for day in range(WINDOW_DAYS)
        for flavour in FLAVOURS
    ]


def schedule(n_arrivals: int) -> list[tuple[str, int, int]]:
    """(flavour, file index, ingest day) of each timed arrival.  File
    indices follow setup's, so every re-delivery brings new rows."""
    first = SETUP_ROUNDS * WINDOW_DAYS
    return [
        (FLAVOURS[k % 2], first + k // 2, (k // 2) % WINDOW_DAYS)
        for k in range(n_arrivals)
    ]


def instrument(tracer: Tracer):
    """Spans on the ingest path's public functions, patched where the
    engine's callers look them up."""
    from aws_cdk_pipelines_datalake_etl_spark import catalog, runner
    from aws_cdk_pipelines_datalake_etl_spark.audit import AuditLog
    from aws_cdk_pipelines_datalake_etl_spark.operators import conform, transform

    return patched(
        tracer,
        [
            (runner.PipelineRunner, "on_file", "runner.on_file"),
            (AuditLog, "insert_started", "audit.append"),
            (AuditLog, "update_status", "audit.append"),
            (runner, "conform", "conform"),
            (conform, "read_raw_csv", "sources.read_raw_csv"),
            (catalog, "upsert_table", "catalog.upsert_table"),
            (catalog, "recover_partitions", "catalog.recover_partitions"),
            (runner, "transform", "transform"),
            (transform, "run_sql", "transform.run_sql"),
        ],
    )


def consumer_read(spark, runner, flavour: str, execution_id: str, tracer=None):
    """What a consumer runs after an arrival: the reference's validation
    query, a daily rollup of the purpose-built table, and the arrival's
    audit status.  Returns the status."""
    from pyspark.sql import functions as F

    from aws_cdk_pipelines_datalake_etl_spark.operators.transform import validate_table

    span = functools.partial(maybe_span, tracer)
    table = f"`{PURPOSEBUILT_DB}`.`{TABLE[flavour]}`"
    with span("read"):
        with span("transform.validate_table"):
            validate_table(spark, PURPOSEBUILT_DB, TABLE[flavour]).collect()
        with span("read.daily_rollup"):
            spark.sql(
                f"SELECT year, month, day, SUM(count) AS trips, "
                f"SUM(total_amount) AS amount FROM {table} "
                f"GROUP BY year, month, day ORDER BY year, month, day"
            ).collect()
        with span("audit.latest_status"):
            rows = (
                runner.audit.latest_status()
                .filter(F.col("execution_id") == execution_id)
                .select("job_latest_status")
                .collect()
            )
    return rows[0][0] if len(rows) == 1 else f"{len(rows)} status rows"


def run(root: str, work: str, seed: int, seconds: int, trace: bool) -> Outcome:
    from aws_cdk_pipelines_datalake_etl_spark.runner import LakeLayout, PipelineRunner

    n_arrivals = arrivals_for(seconds)
    plan = schedule(n_arrivals)
    lake = Lake(root, work, seed)
    t0 = time.perf_counter()
    for flavour in FLAVOURS:
        for index in range(SETUP_ROUNDS * WINDOW_DAYS + n_arrivals // 2):
            lake.make(flavour, index)
    generate_s = time.perf_counter() - t0

    tracer = Tracer(NullJobs()) if trace else None
    t0 = time.perf_counter()
    spark, get_spark_s = start_session(work, tracer)
    try:
        runner = PipelineRunner(
            spark=spark,
            layout=LakeLayout(lake.dir),
            transforms_dir=lake.transforms,
        )
        results = []
        for flavour, index, day in setup_plan():
            key = lake.deliver(flavour, index, day)
            res = runner.on_file(key, as_of=FIRST_DAY + timedelta(days=day))
            results.append(res)
            consumer_read(spark, runner, flavour, res.params.execution_id)
        setup_s = time.perf_counter() - t0

        counters = HostCounters(spark)
        arrivals = []
        for k, (flavour, index, day) in enumerate(plan):
            key = lake.deliver(flavour, index, day)
            traced = trace and (k // 2) % 2 == 1
            if traced:
                tracer.op = k + 1
                before = {z: lake.zone_files(z, f) for z, f in _zones(flavour)}
            with instrument(tracer) if traced else nullcontext():
                a = time.perf_counter()
                res = runner.on_file(key, as_of=FIRST_DAY + timedelta(days=day))
                b = time.perf_counter()
                status = consumer_read(
                    spark, runner, flavour, res.params.execution_id,
                    tracer if traced else None,
                )
                c = time.perf_counter()
            results.append(res)
            rec = {
                "k": k, "flavour": flavour, "day": day, "traced": traced,
                "on_file_s": b - a, "read_s": c - b, "status": res.status,
                "read_status": status, "valid_rows": lake.files[flavour, index].valid_rows,
                "conformed_rows": res.conformed_rows,
                "purposebuilt_rows": res.purposebuilt_rows,
                "arrival_groups": len(lake.files[flavour, index].expected),
            }
            if traced:
                tracer.collect_jobs()
                # a write leaves new file names, so new names are what it wrote
                rec["written"] = {}
                for z, f in _zones(flavour):
                    new = {p: n for p, n in lake.zone_files(z, f).items() if p not in before[z]}
                    rec["written"][z] = [len(new), sum(new.values())]
            arrivals.append(rec)
        timed_counters = counters.delta()
        rss = peak_rss_mib()
        host = host_record(spark)
        errors = check(spark, runner, lake, results, arrivals)
        storage = storage_share(lake)
    finally:
        stop_session(spark)

    timed_ok = [a for a in arrivals if a["status"] == "SUCCEEDED"]
    on_file = [a["on_file_s"] for a in arrivals]
    reads = [a["read_s"] for a in arrivals]
    detail = {
        "host": host,
        "generate_s": generate_s,
        "peak_rss_mb": rss,
        "timed_region": timed_counters,
        "samples": {"arrivals": len(arrivals), "setup_arrivals": len(setup_plan())},
        "rows_per_arrival": ROWS,
        "window_days": WINDOW_DAYS,
        "on_file_p50_s": median(on_file),
        "read_p50_s": median(reads),
        "rows_per_s": sum(a["valid_rows"] for a in timed_ok) / sum(on_file),
        "storage_bytes_per_raw_byte": storage,
        "arrivals": arrivals,
    }
    end_to_end = {"setup_s": setup_s, "op_p50_s": detail["on_file_p50_s"]}
    per_layer = {
        "session.get_spark_s": get_spark_s,
        "driver.peak_rss_mb": rss,
        "read.p50_s": detail["read_p50_s"],
    }
    if trace:
        per_layer.update(layer_metrics(tracer, arrivals, detail))
        tracer.dump(os.path.join(work, "spans.jsonl"))
    return Outcome(
        end_to_end=end_to_end,
        per_layer=per_layer,
        attempted=2 * len(arrivals),  # each arrival and its read
        failed=sum(a["status"] != "SUCCEEDED" for a in arrivals)
        + sum(a["read_status"] != "SUCCEEDED" for a in arrivals),
        errors=errors,
        detail=detail,
    )


def _zones(flavour: str) -> tuple[tuple[str, str | None], ...]:
    """The zones (and table) an arrival of ``flavour`` writes."""
    return (("conformed", flavour), ("purposebuilt", flavour), ("_audit", None))


def storage_share(lake: Lake) -> float:
    """Parquet bytes in the conformed and purpose-built zones per byte of
    the raw files they hold (the last delivery of each table and day)."""
    held = sum(lake.zone_files("conformed").values()) + sum(
        lake.zone_files("purposebuilt").values()
    )
    return held / sum(len(f.text) for f in lake.last.values())


def layer_metrics(tracer: Tracer, arrivals: list[dict], detail: dict) -> dict:
    """Per-layer medians over the traced arrivals."""
    traced = [a for a in arrivals if a["traced"]]
    untraced = [a for a in arrivals if not a["traced"]]
    per = []
    for a in traced:
        spans = tracer.op_spans(a["k"] + 1)
        t = layer_totals(spans)
        dag = layer_totals(subtree(spans, "runner.on_file"))
        w = a["written"]
        per.append(
            {
                "runner.on_file_self_s": t.self_s["runner.on_file"],
                "sources.read_raw_csv_s": t.total_s["sources.read_raw_csv"],
                "sources.read_raw_csv_jobs": t.jobs["sources.read_raw_csv"],
                "conform.self_s": t.self_s["conform"],
                "conform.jobs": t.jobs["conform"],
                "conform.files_written": w["conformed"][0],
                "conform.bytes_written": w["conformed"][1],
                "catalog.upsert_table_s": t.total_s["catalog.upsert_table"],
                "catalog.recover_partitions_s": t.total_s["catalog.recover_partitions"],
                "catalog.calls": t.calls["catalog.upsert_table"]
                + t.calls["catalog.recover_partitions"],
                "transform.run_sql_s": t.total_s["transform.run_sql"],
                "transform.self_s": t.self_s["transform"],
                "transform.jobs": t.jobs["transform"],
                "transform.rows_written": a["purposebuilt_rows"],
                "transform.files_written": w["purposebuilt"][0],
                "transform.bytes_written": w["purposebuilt"][1],
                "transform.useful_ratio": a["arrival_groups"] / a["purposebuilt_rows"],
                "audit.append_s": t.total_s["audit.append"],
                "audit.jobs": t.jobs["audit.append"],
                "audit.files": w["_audit"][0],
                "audit.latest_status_s": t.total_s["audit.latest_status"],
                "transform.validate_table_s": t.total_s["transform.validate_table"],
                "read.daily_rollup_s": t.total_s["read.daily_rollup"],
                "spark.jobs_per_arrival": sum(dag.jobs.values()),
                # self times under on_file over the benchmark's own clock of the call
                "trace.self_sum_share": dag.self_sum / a["on_file_s"],
            }
        )
    out = {name: median([p[name] for p in per]) for name in per[0]}
    out["ingest.rows_per_s"] = detail["rows_per_s"]
    out["lake.storage_bytes_per_raw_byte"] = detail["storage_bytes_per_raw_byte"]
    out["trace.overhead_share"] = (
        median([a["on_file_s"] + a["read_s"] for a in traced])
        / median([a["on_file_s"] + a["read_s"] for a in untraced])
        - 1
    )
    return out


def check(spark, runner, lake: Lake, results, arrivals) -> list[str]:
    """The correctness gate, run after measurement.  Returns the errors."""
    errors = []
    for a in arrivals:
        if a["status"] != "SUCCEEDED" or a["read_status"] != "SUCCEEDED":
            errors.append(f"arrival {a['k']}: {a['status']} / read {a['read_status']}")
        elif a["conformed_rows"] != a["valid_rows"]:
            errors.append(
                f"arrival {a['k']}: conformed {a['conformed_rows']} rows, "
                f"generator has {a['valid_rows']} valid"
            )
    for r in results[: len(setup_plan())]:
        if r.status != "SUCCEEDED":
            errors.append(f"setup arrival {r.params.base_file_name}: {r.error_message}")

    status = runner.audit.latest_status().select(
        "execution_id", "job_latest_status"
    ).toPandas()
    want = {r.params.execution_id for r in results}
    got = dict(zip(status.execution_id, status.job_latest_status))
    if set(got) != want:
        errors.append(f"audit holds {len(got)} executions, {len(want)} ran")
    bad = [e for e in want if got.get(e) != "SUCCEEDED"]
    if bad:
        errors.append(f"{len(bad)} executions not SUCCEEDED in the audit log")

    for flavour in FLAVOURS:
        conformed = spark.sql(
            f"SELECT day, COUNT(*) AS n FROM `{SOURCE}`.`{TABLE[flavour]}` GROUP BY day"
        ).toPandas()
        built = spark.table(f"`{PURPOSEBUILT_DB}`.`{TABLE[flavour]}`").toPandas()
        for day in range(WINDOW_DAYS):
            f = lake.last[flavour, day]
            dd = f"{FIRST_DAY.day + day:02d}"
            n = conformed.loc[conformed.day == dd, "n"].sum()
            if n != f.valid_rows:
                errors.append(f"{flavour} day {dd}: {n} conformed rows, want {f.valid_rows}")
            got = _integer_groups(built[built.day == dd])
            if not got.equals(f.expected):
                errors.append(f"{flavour} day {dd}: purpose-built groups differ")
    return errors


def _integer_groups(df: pd.DataFrame) -> pd.DataFrame:
    """Purpose-built rows in the generator's integer units."""
    out = df[list(gen.GROUP_KEYS) + ["count"]].astype("int64")
    for c in gen.SUM_COLUMNS:
        scale = 1 if c == "passenger_count" else 100
        out[c] = (df[c].astype("float64") * scale).round().astype("int64")
    return out.sort_values(list(gen.GROUP_KEYS), ignore_index=True)

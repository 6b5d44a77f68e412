"""Tests of the benchmark's own arithmetic and inputs; no Spark needed.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import csv
import io
import os
import sys
import types

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
import ingest  # noqa: E402
from spans import Span, Tracer, covered, layer_totals, patched, self_times, subtree  # noqa: E402


class FakeClock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


class FakeJobs:
    """Jobs land in whatever group is current when they are submitted."""

    def __init__(self):
        self.group = None
        self.by_group: dict[str | None, list[int]] = {}
        self.next_id = 0

    def set_group(self, group):
        self.group = group

    def submit(self, n: int = 1) -> None:
        for _ in range(n):
            self.by_group.setdefault(self.group, []).append(self.next_id)
            self.next_id += 1

    def jobs_in_group(self, group):
        return self.by_group.get(group, [])


def test_covered_merges_overlaps():
    assert covered([]) == 0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4
    assert covered([(0, 10), (2, 3)]) == 10


def test_self_time_is_duration_minus_children():
    clock, jobs = FakeClock(), FakeJobs()
    t = Tracer(jobs, clock)
    with t.span("root"):
        clock.now = 1.0
        with t.span("a"):
            clock.now = 3.0
            with t.span("a.inner"):
                clock.now = 3.5
        clock.now = 4.0
        with t.span("b"):
            clock.now = 6.0
        clock.now = 10.0
    st = {t.spans[i].name: v for i, v in self_times(t.spans).items()}
    assert st == {"root": 5.5, "a": 2.0, "a.inner": 0.5, "b": 2.0}
    # self times of a tree add up to its root's duration
    assert sum(st.values()) == t.spans[0].duration == 10.0


def test_overlapping_children_are_not_subtracted_twice():
    clock = FakeClock()
    t = Tracer(FakeJobs(), clock)
    with t.span("root"):
        clock.now = 10.0
    root = t.spans[0]
    # two children recorded by hand over overlapping intervals
    t.spans += [Span(1, "x", 0, root.span_id, 1.0, 6.0), Span(2, "y", 0, root.span_id, 4.0, 8.0)]
    assert self_times(t.spans)[root.span_id] == 3.0


def test_jobs_are_charged_to_the_innermost_open_span():
    jobs = FakeJobs()
    t = Tracer(jobs, FakeClock())
    jobs.submit()  # before any span: charged to no span
    with t.span("outer"):
        jobs.submit(2)
        with t.span("inner"):
            jobs.submit(3)
        jobs.submit(1)  # the parent's group is restored on exit
    assert jobs.group is None
    jobs.submit()
    t.collect_jobs()
    totals = layer_totals(t.spans)
    assert totals.jobs == {"outer": 3, "inner": 3}
    assert jobs.jobs_in_group(None) == [0, 7]


def test_collect_jobs_reads_only_the_current_operation():
    jobs = FakeJobs()
    t = Tracer(jobs, FakeClock())
    t.op = 1
    with t.span("x"):
        jobs.submit()
    t.collect_jobs()
    t.op = 2
    with t.span("x"):
        jobs.submit(2)
    t.collect_jobs()
    assert [len(s.jobs) for s in t.spans] == [1, 2]
    assert [s.op for s in t.op_spans(2)] == [2]


def test_subtree_and_layer_totals():
    clock = FakeClock()
    t = Tracer(FakeJobs(), clock)
    with t.span("runner.on_file"):
        with t.span("conform"):
            clock.now = 2.0
        with t.span("conform"):
            clock.now = 3.0
    with t.span("read"):
        clock.now = 4.0
    dag = layer_totals(subtree(t.spans, "runner.on_file"))
    assert dag.calls == {"runner.on_file": 1, "conform": 2}
    assert dag.total_s["conform"] == 3.0
    assert dag.self_sum == 3.0


def test_patched_traces_the_name_callers_resolve_and_restores_it():
    mod = types.ModuleType("fake_layer")
    exec(
        "def inner(x):\n    return x + 1\n"
        "def outer(x):\n    return inner(x) * 2\n",
        mod.__dict__,
    )
    original = mod.inner
    t = Tracer(FakeJobs(), FakeClock())
    with patched(t, [(mod, "outer", "outer"), (mod, "inner", "inner")]):
        assert mod.outer(1) == 4
    assert mod.inner is original
    assert [(s.name, s.parent) for s in t.spans] == [("outer", None), ("inner", 0)]


def test_taxi_csv_is_a_pure_function_of_its_seed():
    a = gen.taxi_csv(7, "yellow", 2_000, index=3)
    b = gen.taxi_csv(7, "yellow", 2_000, index=3)
    assert a.text == b.text and a.valid_rows == b.valid_rows
    assert a.expected.equals(b.expected)
    for other in (
        gen.taxi_csv(8, "yellow", 2_000, index=3),
        gen.taxi_csv(7, "yellow", 2_000, index=4),
        gen.taxi_csv(7, "green", 2_000, index=3),
    ):
        assert other.text != a.text
        assert not other.expected.equals(a.expected)


@pytest.mark.parametrize("flavour", ["yellow", "green"])
def test_taxi_expectation_matches_an_independent_parse(flavour):
    f = gen.taxi_csv(3, flavour, 3_000)
    rows = list(csv.reader(io.StringIO(f.text.decode())))
    header, body = rows[0], rows[1:]
    good = [dict(zip(header, r)) for r in body if len(r) == len(header)]
    assert len(body) == f.n_rows and len(good) == f.valid_rows < f.n_rows
    assert all(r[gen.EMPTY_COLUMN[flavour]] == "" for r in good)
    assert any(r["VendorID"] == "" for r in good)

    def cents(s):
        whole, frac = s.split(".")
        return int(whole) * 100 + int(frac)

    groups: dict[tuple, list[int]] = {}
    for r in good:
        key = (int(r["VendorID"] or -1), int(r["PULocationID"]),
               int(r["DOLocationID"]), int(r["payment_type"]))
        acc = groups.setdefault(key, [0] * 8)
        vals = [1, int(r["passenger_count"]), cents(r["trip_distance"]),
                cents(r["fare_amount"]), cents(r["extra"]), cents(r["tip_amount"]),
                cents(r["tolls_amount"]), cents(r["total_amount"])]
        groups[key] = [x + y for x, y in zip(acc, vals)]
    want = sorted(k + tuple(v) for k, v in groups.items())
    assert [tuple(r) for r in f.expected.itertuples(index=False)] == want


def test_query_tables_are_a_pure_function_of_their_seed():
    a, b, c = gen.query_tables(5, 1), gen.query_tables(5, 1), gen.query_tables(6, 1)
    assert set(a) == set(gen.QUERY_TABLES)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["documents"].equals(c["documents"])
    assert not a["lineitem"].equals(c["lineitem"])


def test_trickle_schedule_keeps_the_window_fixed():
    plan = ingest.schedule(8)
    assert [f for f, _, _ in plan] == ["yellow", "green"] * 4
    assert {d for _, _, d in plan} == set(range(ingest.WINDOW_DAYS))
    # every delivery, setup or timed, brings a file not delivered before
    setup = ingest.setup_plan()
    assert {d for _, _, d in setup} == set(range(ingest.WINDOW_DAYS))
    indices = [i for _, i, _ in setup + plan]
    assert len(set(zip([f for f, _, _ in setup + plan], indices))) == len(indices)
    assert ingest.arrivals_for(20) % 2 == 0

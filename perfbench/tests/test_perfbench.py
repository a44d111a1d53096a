"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import random
import sys
import threading
import time
import types

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import batch, fingerprint, sensor, stats  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402


# ------------------------------------------------------------ generator
def test_sensor_generator_is_deterministic_per_seed():
    a, b, c = sensor.SensorGenerator(7), sensor.SensorGenerator(7), sensor.SensorGenerator(8)
    fa = [a.file() for _ in range(3)]
    assert fa == [b.file() for _ in range(3)]
    assert a.expected == b.expected and a.counts == b.counts
    assert [a.read_query() for _ in range(5)] == [b.read_query() for _ in range(5)]
    assert fa != [c.file() for _ in range(3)]


def test_sensor_generator_mix():
    g = sensor.SensorGenerator(3)
    for _ in range(40):
        g.file()
    n = sum(g.counts.values())
    assert n == 40 * sensor.LINES_PER_FILE
    assert 0.03 < (g.counts["redelivered"] + g.counts["updated"]) / n < 0.07
    assert g.counts["updated"] > 0 and len(g.superseded) == g.counts["updated"]
    assert 0.005 < g.counts["unknown"] / n < 0.015
    assert 0.002 < g.counts["corrupt"] / n < 0.009
    # every new reading has its own primary key
    assert len(g.expected) == g.counts["valid"]


def test_sensor_updates_come_from_older_files_with_new_values():
    g = sensor.SensorGenerator(5)
    files = [g.file() for _ in range(60)]
    first_file = {}  # primary key -> file index of its first write
    for i, text in enumerate(files):
        for line in text.splitlines():
            try:
                rec = json.loads(line)
            except ValueError:
                continue  # corrupt line
            pk = sensor.pk_of(rec)
            if pk not in g.expected:
                continue  # unknown sensor id
            first_file.setdefault(pk, i)
            if sensor.value_tuple(rec) == g.expected[pk] and pk in g.superseded:
                assert i - first_file[pk] >= sensor.UPDATE_LAG[0]
    assert all(g.expected[pk] not in old for pk, old in g.superseded.items())


def test_batch_tables_are_deterministic():
    from perfbench import datagen

    a, b = datagen.build_tables(0.001), datagen.build_tables(0.001)
    assert all(a[k].equals(b[k]) for k in a)
    assert a["lineitem"].num_rows == 6_000


# ----------------------------------------------------------- statistics
@pytest.mark.parametrize("n,p", [(5, 50), (10, 50), (20, 50), (21, 52), (40, 75), (100, 90), (1000, 99)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert stats.tail_percentile(n) == p


def test_planned_passes_is_fixed_by_seconds():
    assert batch.planned_passes(35, 10.0, 5.0) == 5
    assert batch.planned_passes(10, 10.0, 5.0) == 2


def test_tail_value_and_count():
    vals = list(range(1, 41))  # 40 samples
    v, p, beyond = stats.tail(vals)
    assert (v, p, beyond) == (30, 75, 10)
    assert sum(1 for x in vals if x > v) == beyond


def test_error_rate_counting():
    assert stats.error_rate(10, 0) == 0.0
    assert stats.error_rate(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
    with pytest.raises(ValueError):
        stats.error_rate(3, 4)


def test_sensor_result_counts_do_not_depend_on_how_many_reads_raise():
    # 140 files, 70 reads: error_rate counts each raised read, the
    # result line one failure for all of them
    few = sensor.operation_counts(140, 70, 5, 0, False)
    many = sensor.operation_counts(140, 70, 16, 0, False)
    assert few[0] == many[0] == (212, 1)
    assert few[1] == (211, 5) and many[1] == (211, 16)
    assert sensor.operation_counts(140, 70, 0, 0, False) == ((212, 0), (211, 0))
    # wrong rows and a wrong table count once each, in both
    assert sensor.operation_counts(140, 70, 3, 2, True) == ((212, 4), (211, 6))


# ------------------------------------------------------------ open loop
def test_open_loop_latency_is_measured_from_due_time():
    calls, lags = [], []
    t0 = time.time() + 0.05

    def slow(k, due):  # the downstream is slower than the schedule
        calls.append((k, due))
        time.sleep(0.05)

    sensor.run_schedule(6, 50.0, t0, slow, lags, threading.Event())
    # due times follow the schedule, not the completion of earlier calls
    assert [d for _, d in calls] == pytest.approx([t0 + k / 50.0 for k in range(6)])
    # so lateness accumulates and is reported, not hidden
    assert lags[-1] > lags[0] + 0.1


def test_schedules_start_at_a_fixed_phase_of_the_trigger_grid():
    for now in (100.0, 100.05, 100.1, 100.5, 100.99):
        t = sensor.on_trigger_grid(now, 0.1)
        assert now < t <= now + 1
        assert t - math.floor(t) == pytest.approx(0.1)


def test_open_loop_stops_early():
    stop = threading.Event()
    stop.set()
    calls = []
    sensor.run_schedule(5, 1.0, time.time() + 10, lambda k, d: calls.append(k), [], stop)
    assert calls == []


# --------------------------------------------------------- fingerprints
def test_fingerprint_is_order_insensitive():
    a = fingerprint.fingerprint(["b", "a"], [(1, "x"), (2, "y")])
    b = fingerprint.fingerprint(["a", "b"], [("y", 2), ("x", 1)])
    assert a == b


class _FakeDF:
    def __init__(self, rows):
        self.columns = ["k", "v"]
        self._rows = rows
        self.write = types.SimpleNamespace(mode=lambda m: self._w)
        self._w = types.SimpleNamespace(format=lambda f: types.SimpleNamespace(save=lambda: None))

    def collect(self):
        return self._rows


def _fake_ctx(rows):
    ctx = types.SimpleNamespace(
        spark=None, sf_dir="unused", trace=False, tracer=Tracer(False),
        queries={"q_fake": lambda spark, sf: _FakeDF(rows)},
    )
    return ctx


def test_planted_wrong_fingerprint_is_a_failure(monkeypatch):
    from unimib_simpss_spark.operators import caching

    monkeypatch.setattr(caching, "release_result", lambda df: None)
    rows = [(1, "a"), (2, "b")]
    good = {"queries": {"q_fake": fingerprint.fingerprint(["k", "v"], rows)}}
    planted = {"queries": {"q_fake": {**good["queries"]["q_fake"], "hash": "0" * 16}}}

    ok = batch.BatchRun(_fake_ctx(rows), ["q_fake"])
    ok.run_passes(0, random.Random(1), good)
    assert (ok.attempted, ok.failed, ok.mismatches) == (1, 0, [])

    bad = batch.BatchRun(_fake_ctx(rows), ["q_fake"])
    bad.run_passes(0, random.Random(1), planted)
    assert (bad.attempted, bad.failed) == (1, 1)
    assert "value hash" in bad.mismatches[0]
    assert stats.error_rate(bad.attempted, bad.failed) == 1.0


def test_query_that_raises_is_counted_not_fatal(monkeypatch):
    ctx = _fake_ctx([])
    ctx.queries["q_fake"] = lambda spark, sf: (_ for _ in ()).throw(RuntimeError("boom"))
    run = batch.BatchRun(ctx, ["q_fake"])
    run.run_passes(1, random.Random(1), {})
    assert run.failed == run.attempted == 2
    assert "boom" in run.errors[0]


# ---------------------------------------------------------------- probes
def test_rss_sampler_counts_live_children_seen_twice():
    import subprocess

    from perfbench.probe import RssSampler

    def child():
        return subprocess.Popen([sys.executable, "-c", "import time; b = bytearray(64 << 20); time.sleep(1)"])

    r = RssSampler(interval=0.1)
    r.sample()
    r.sample()
    base = r.peak_kib
    a = child()
    try:
        time.sleep(0.5)
        r.sample()  # first sighting: not counted yet
        assert r.peak_kib - base < 16 << 10  # KiB
        r.sample()
        one = r.peak_kib - base
        assert one > 48 << 10
    finally:
        a.wait(timeout=10)
    b = child()  # runs after the first one ended: their peaks do not add up
    try:
        time.sleep(0.5)
        r.sample()
        r.sample()
    finally:
        b.wait(timeout=10)
    assert r.peak_kib - base < one + (16 << 10)


# --------------------------------------------------- sensor output check
def _row(grp, sid, t_ms, vals):
    from datetime import datetime, timezone

    ts = datetime.fromtimestamp(t_ms / 1000, tz=timezone.utc).replace(tzinfo=None)
    return {"sensor_group": grp, "sensor_id": sid, "time_received": ts, **dict(zip(sensor.VALUE_COLS, vals))}


def test_table_check_flags_missing_extra_and_wrong_rows():
    exp = {("g0", 100, 1000): tuple(range(8)), ("g1", 101, 2000): tuple(range(1, 9))}
    good = [_row("g0", 100, 1000, range(8)), _row("g1", 101, 2000, range(1, 9))]
    assert sensor.table_check(good, exp) == []
    bad = [_row("g0", 100, 1000, range(2, 10)), _row("g9", 9000, 5, range(8))]
    problems = " ".join(sensor.table_check(bad, exp))
    assert "missing" in problems and "unexpected" in problems and "wrong values" in problems


def test_table_check_fails_a_first_writer_table():
    g = sensor.SensorGenerator(11)
    lines = [ln for _ in range(40) for ln in g.file().splitlines()]
    assert g.counts["updated"] > 0
    first, last = {}, {}
    for line in lines:
        try:
            rec = json.loads(line)
        except ValueError:
            continue
        pk = sensor.pk_of(rec)
        if pk in g.expected:
            first.setdefault(pk, rec)
            last[pk] = rec

    def table(writers):
        return [_row(*pk, sensor.value_tuple(r)) for pk, r in writers.items()]

    assert sensor.table_check(table(last), g.expected) == []
    problems = sensor.table_check(table(first), g.expected)
    assert problems == [f"{g.counts['updated']} rows with wrong values"]


def test_read_check_enforces_predicate_and_written_values():
    exp = {("g0", 100, 1500): tuple(range(8))}
    old = {("g0", 100, 1500): {tuple(range(2, 10))}}
    q = ("g0", 100, 1000, 2000)
    assert sensor.read_check([_row("g0", 100, 1500, range(8))], q, exp, old) is None
    # a read may still see the value an update replaced
    assert sensor.read_check([_row("g0", 100, 1500, range(2, 10))], q, exp, old) is None
    assert "outside" in sensor.read_check([_row("g0", 100, 2500, range(8))], q, exp, old)
    assert "not written" in sensor.read_check([_row("g0", 100, 1500, range(1, 9))], q, exp, old)


def test_self_time_subtracts_children():
    tr = Tracer(True)
    parent = tr.add("parent", 0.0, 3.0)
    tr.add("child", 1.0, 2.0, parent=parent)
    tr.add("late_child", 2.5, 4.0, parent=parent)  # clipped to the parent
    assert tr.self_times() == {"parent": 1.5, "child": 1.0, "late_child": 1.5}


# -------------------------------------------------------- BENCHMARK.json
def test_benchmark_json_matches_the_runner():
    import json

    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
    assert all(0 < m["bound"] <= 0.25 for m in bench["end_to_end"])
    assert bench["paths"] == ["perfbench"]

"""Benchmark-local tests: input determinism, that every output check
catches a corrupted result, and that the printed metric names are the
ones BENCHMARK.json declares. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import datetime as dt
import io
import json
import os
import importlib
import subprocess
import sys
import types
from collections import Counter

import pyarrow.parquet as pq

import gen
import metrics
import oracle
import prepare
import run
import tracing
import workloads

BENCH_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH_DIR)
DAY = dt.date(2025, 3, 1)


# --- generator ---------------------------------------------------------------------


def _history_bytes(seed: int) -> bytes:
    buf = io.BytesIO()
    pq.write_table(gen.history_table(seed, DAY, 2, 300), buf)
    return buf.getvalue()


def _snapshots(seed: int, n: int = 4) -> list[bytes]:
    fleet = gen.SnapshotFleet(seed, bikes=200, places=40)
    return [gen.snapshot_bytes(fleet.step()[1]) for _ in range(n)]


def test_generator_is_byte_identical_for_a_seed():
    assert gen.stations_csv(7) == gen.stations_csv(7)
    assert gen.rides_csv(7, DAY, 3, 500) == gen.rides_csv(7, DAY, 3, 500)
    assert _history_bytes(7) == _history_bytes(7)
    assert _snapshots(7) == _snapshots(7)


def test_generator_depends_on_the_seed():
    assert gen.rides_csv(7, DAY, 3, 500) != gen.rides_csv(8, DAY, 3, 500)
    assert _history_bytes(7) != _history_bytes(8)
    assert _snapshots(7) != _snapshots(8)


def test_prepared_plans_are_identical_for_a_seed(tmp_path):
    plans = []
    for sub in ("a", "b"):
        d = tmp_path / sub
        d.mkdir()
        plans.append(prepare.status_stream(5, 10, str(d)))
    a, b = plans
    assert a["expected_events"] == b["expected_events"]
    for x, y in zip(a["snapshots"], b["snapshots"]):
        assert open(x["path"], "rb").read() == open(y["path"], "rb").read()
    assert a["history_events"] == b["history_events"] > 0
    history = sorted(os.listdir(a["events"]))
    assert len(history) == prepare.EVENT_LOG_MINUTES == len(os.listdir(b["events"]))
    for name in history:
        with open(os.path.join(a["events"], name), "rb") as x, \
                open(os.path.join(b["events"], name), "rb") as y:
            assert x.read() == y.read()
    assert sum(pq.read_metadata(os.path.join(a["events"], n)).num_rows
               for n in history) == a["history_events"]


def test_rides_csv_carries_the_dirty_features():
    text = gen.rides_csv(3, DAY, 1, 4000)
    assert text.splitlines()[0] == gen.RAW_HEADER
    for feature in ("\xa0", ",#", ",nan,", gen.OUTSIDE, gen.RELOCATION, ",,"):
        assert feature in text, feature
    durations = [int(line.rsplit(",", 1)[1]) for line in text.splitlines()[1:]]
    assert min(durations) <= 2
    assert "station_name,lat,lon" in gen.stations_csv(3).splitlines()[1:]


def test_history_timestamps_are_utc_adjusted():
    t = gen.history_table(1, DAY, 1, 10)
    assert str(t.schema.field("start_time").type) == "timestamp[us, tz=UTC]"


# --- output checks -------------------------------------------------------------------

GOLDEN_CSV = gen.RAW_HEADER + "\n" + "\n".join(
    [
        # FIXTURES.md §3 golden rows, in the raw CSV's shape
        "1,100,2025-04-07 00:10:00,2025-04-07 00:30:00,A,A,10",
        "2,101,2025-04-07 13:00:00,2025-04-07 13:20:00,A,B,20",
        "3,102,2025-04-07 13:15:00,2025-04-07 13:45:00,B\xa0,A ,30",
        "6,105,2025-04-07 13:30:00,2025-04-07 13:32:00,C,D,2",
        "4,103,2025-04-07 14:05:00,2025-04-07 14:25:00,B,Poza stacją,17",
        "5,104,2025-04-06 10:00:00,2025-04-06 10:20:00,C,D,25",
        "7,106,2025-04-07 15:00:00,2025-04-07 15:20:00,#junk,A,20",
    ]
) + "\n"


def test_daily_metrics_oracle_matches_the_fixture_golden_values():
    coords = {"A": (51.0, 17.0), "B": (51.01, 17.0), "C": (51.0, 17.01), "D": (51.02, 17.0)}
    m = oracle.metrics_by_day(oracle.clean_rides(GOLDEN_CSV, coords))["2025-04-07"]
    assert m["total_rides"] == 4
    assert m["bike_rentals_histogram"] == {"0": 1, "13": 2, "14": 1}
    assert m["total_duration_min"] == 77
    assert m["avg_duration_min"] == 19.25
    assert m["round_trips"] == 1
    assert m["left_outside_station"] == 1
    # FIXTURES.md's "4 each" comment is off by one: B has 2 departures
    # and 1 arrival.
    assert {s["station"]: s["total"] for s in m["busiest_stations_top5"]} == {"A": 4, "B": 3}
    assert [(r["start_station"], r["end_station"]) for r in m["top_routes_top5"]] == [
        ("A", "B"), ("B", "A")]


def test_daily_metrics_check_fails_on_a_corrupted_result():
    coords = gen.station_coords(2)
    want = oracle.metrics_by_day(oracle.clean_rides(gen.rides_csv(2, DAY, 1, 2000), coords))
    day = DAY.isoformat()
    assert oracle.same(copy.deepcopy(want[day]), want[day]) == []
    for corrupt in (
        lambda m: m.update(total_rides=m["total_rides"] + 1),
        lambda m: m.update(avg_distance_km=m["avg_distance_km"] + 0.01),
        lambda m: m["bike_rentals_histogram"].pop("8"),
        lambda m: m["busiest_stations_top5"].reverse(),
        lambda m: m["top_routes_top5"].pop(),
    ):
        got = copy.deepcopy(want[day])
        corrupt(got)
        assert oracle.same(got, want[day]), corrupt


def test_range_view_check_fails_on_a_corrupted_result():
    days = oracle.metrics_by_day(oracle.history_frame(gen.history_table(2, DAY, 10, 300)))
    want = oracle.range_view(days, "2025-03-02", "2025-03-08", "total_rides")
    assert len(want["series"]) == 7 and len(want["histogram"]) == 24
    assert oracle.same(copy.deepcopy(want), want) == []
    got = copy.deepcopy(want)
    got["histogram"][8][1] += 1
    assert oracle.same(got, want)
    got = copy.deepcopy(want)
    got["routes"] = got["routes"][1:]
    assert oracle.same(got, want)


def test_status_events_follow_the_pair_semantics():
    prev = {"1": ("freestanding", "freestanding", 51.0, 17.0, "standard", None),
            "2": ("S", "10", 51.1, 17.1, "electric", 40.0),
            "3": ("S", "10", 51.1, 17.1, None, None)}
    curr = {"1": ("T", "11", 51.2, 17.2, "standard", None),
            "2": ("S", "10", 51.1, 17.1, "electric", 39.0),
            "4": ("freestanding", "freestanding", 51.3, 17.3, "standard", None)}
    ev = Counter((e[1], e[2]) for e in gen.expected_events(prev, curr, "t"))
    assert ev == Counter({("1", "departed"): 1, ("1", "arrived"): 1,
                          ("3", "departed"): 1, ("4", "arrived"): 1})


def test_status_event_check_fails_on_a_corrupted_result():
    fleet = gen.SnapshotFleet(4, bikes=300, places=50, move_frac=0.1)
    _, _, v0 = fleet.step()
    ts, _, v1 = fleet.step()
    want = oracle.events_by_snapshot(gen.expected_events(v0, v1, ts))
    rows = gen.expected_events(v0, v1, ts)
    assert rows and oracle.events_by_snapshot(rows) == want
    assert oracle.events_by_snapshot(rows[1:]) != want
    moved = [(*rows[0][:4], "elsewhere", *rows[0][5:])] + rows[1:]
    assert oracle.events_by_snapshot(moved) != want
    assert oracle.events_by_snapshot(rows + rows[:1]) != want


def test_query_check_fails_on_a_corrupted_result():
    import pandas as pd

    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, None]})
    assert oracle.compare_normalized(
        oracle.normalize(want.iloc[::-1]), oracle.normalize(want)) is None
    for got in (
        want.assign(v=[0.5, 1.26, None]),
        want.iloc[:2],
        want.rename(columns={"v": "w"}),
        want.assign(k=[1, 2, 4]),
    ):
        assert oracle.compare_normalized(oracle.normalize(got), oracle.normalize(want))


def test_pinned_query_list():
    assert len(workloads.PINNED_QUERIES) == len(set(workloads.PINNED_QUERIES)) == 137
    measured = workloads.measured_queries()
    assert set(measured) <= set(workloads.PINNED_QUERIES)
    assert not set(measured) & set(workloads.WRITES_OUTSIDE_TREE)


def test_family_comes_from_the_tables_read():
    assert workloads.family_of(["file:/x/sf/orders.parquet", "file:/x/sf/events.parquet"]) == "events"
    assert workloads.family_of(["FileScan parquet [vec_id#1] Location: "
                                "InMemoryFileIndex(1 paths)[file:/x/embeddings.parquet]"]) == "embedding"
    assert workloads.family_of(["/x/lineitem.parquet"]) == "relational"


def test_tail_is_the_highest_percentile_with_ten_samples_beyond():
    assert metrics.tail(list(range(1, 21))) == (10.0, 50.0, 20)
    assert metrics.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


class _FakeContext:
    def setJobGroup(self, group, description):  # noqa: N802 (Spark API)
        pass

    def setLocalProperty(self, key, value):  # noqa: N802
        pass


def test_instrumented_functions_are_spans_until_detach(monkeypatch):
    mod = types.ModuleType("perfbench_fake_layer")
    mod.double = lambda x: 2 * x
    orig = mod.double
    monkeypatch.setitem(sys.modules, mod.__name__, mod)
    tr = tracing.Tracer(True)
    tr.sc = _FakeContext()
    tr.instrument({"fake.double": mod.__name__})
    with tr.span("cycle"):
        assert mod.double(3) == 6
    assert [(s.name, s.parent) for s in tr.spans] == [("cycle", None), ("fake.double", 0)]
    tr.detach()
    assert mod.double is orig


def test_instrumented_names_exist_in_the_program():
    for name, module in workloads.BikeDaily.functions.items():
        assert callable(getattr(importlib.import_module(module), name.rsplit(".", 1)[1]))


def test_run_key_follows_seconds():
    assert run.run_key(ROOT, 10) == run.run_key(ROOT, 10) != run.run_key(ROOT, 11)


# --- the declared contract -------------------------------------------------------------


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == metrics.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == metrics.PER_LAYER
    rendered = metrics.render(dict.fromkeys(metrics.PER_LAYER, 1.0), metrics.PER_LAYER)
    assert list(rendered) == [m["name"] for m in spec["per_layer"]]
    assert spec["paths"] == ["perfbench"]


def test_run_fails_without_the_program(tmp_path):
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", "bike_daily",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""

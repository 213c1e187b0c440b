"""Write one run's inputs, work plan and expected results.

Runs in the benchmark's parent process, before the measured process
starts, so neither the generation time nor its memory is measured.
The amount of work is fixed by ``seconds`` alone, never by how fast
the program is, so two commits measured with the same settings do the
same work.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import gen
import oracle

RIDES_PER_DAY = 8000  # the reference's daily volume
HISTORY_DAYS = 12
FIRST_DAY = dt.date(2025, 1, 1)
REDELIVER_P = 0.25
SNAPSHOT_BIKES = 2000
SNAPSHOT_PLACES = 388
MOVE_FRAC = 0.02
# Minutes of earlier events in the status event log: six hours of the
# per-minute cron, one parquet file per minute as the stream writes them.
EVENT_LOG_MINUTES = 360


def _dump(path: str, obj) -> None:
    with open(path, "w", encoding="utf-8") as f:
        json.dump(obj, f, ensure_ascii=False)


def counts(workload: str, seconds: int) -> dict:
    """Operations per run for ``seconds`` of steady-state work on a
    4-core host, after the first (cold) operation."""
    if workload == "bike_daily":
        return {"cycles": 1 + max(2, round(0.2 * seconds)),
                "views": 1 + max(3, round(0.3 * seconds))}
    if workload == "status_stream":
        return {"snapshots": 1 + max(5, round(0.5 * seconds))}
    return {"warm_passes": max(1, round(0.1 * seconds))}


def bike_daily(seed: int, seconds: int, d: str) -> dict:
    import pyarrow.parquet as pq

    n = counts("bike_daily", seconds)
    r = gen.rng_for(seed, 10)
    os.makedirs(os.path.join(d, "raw"))
    os.makedirs(os.path.join(d, "metrics"))
    stations_path = os.path.join(d, "stations.csv")
    with open(stations_path, "w", encoding="utf-8") as f:
        f.write(gen.stations_csv(seed))
    coords = gen.station_coords(seed)

    hist = gen.history_table(seed, FIRST_DAY, HISTORY_DAYS, RIDES_PER_DAY)
    v0 = os.path.join(d, "rides", "v0")
    os.makedirs(v0)
    parts = 4
    step = -(-hist.num_rows // parts)
    for i in range(parts):
        pq.write_table(hist.slice(i * step, step), os.path.join(v0, f"part-{i:05d}.parquet"))
    year_days = oracle.metrics_by_day(oracle.history_frame(hist))
    year_file = os.path.join(d, "metrics", f"{FIRST_DAY.year}.json")
    with open(year_file, "w", encoding="utf-8") as f:
        json.dump({"year": FIRST_DAY.year, "days": year_days}, f, ensure_ascii=False, indent=2)

    cycles, expected, new_rows, csv_bytes = [], {}, {}, 0
    delivered: list[int] = []
    for c in range(n["cycles"]):
        if delivered and c > 1 and r.random() < REDELIVER_P:
            idx = int(r.choice(delivered))
        else:
            idx = HISTORY_DAYS + len(set(delivered))
        day = FIRST_DAY + dt.timedelta(days=idx)
        path = os.path.join(d, "raw", f"Historia_przejazdow_{day.isoformat()}.csv")
        if idx not in delivered:
            text = gen.rides_csv(seed, day, idx, RIDES_PER_DAY)
            with open(path, "w", encoding="utf-8") as f:
                f.write(text)
            clean = oracle.clean_rides(text, coords)
            new_rows[idx] = len(clean)
            expected[day.isoformat()] = oracle.metrics_by_day(clean)[day.isoformat()]
        delivered.append(idx)
        csv_bytes += os.path.getsize(path)
        cycles.append({"csv": path, "day": day.isoformat(), "redelivery": delivered.count(idx) > 1})

    dates = sorted(set(year_days) | set(expected))
    views = []
    for _ in range(n["views"]):
        start, end = gen.window(r, dates)
        views.append({"start": start, "end": end,
                      "metric": oracle.SERIES_METRICS[int(r.integers(len(oracle.SERIES_METRICS)))]})
    plan = {
        "stations": stations_path,
        "table": os.path.join(d, "rides"),
        "year_file": year_file,
        "year": FIRST_DAY.year,
        "cycles": cycles,
        "views": views,
        "csv_bytes": csv_bytes,
        "expected_metrics": expected,
        "expected_rows": hist.num_rows + sum(new_rows.values()),
    }
    _dump(os.path.join(d, "plan.json"), plan)
    return plan


def status_stream(seed: int, seconds: int, d: str) -> dict:
    import pyarrow.parquet as pq

    n = counts("status_stream", seconds)["snapshots"]
    fleet = gen.SnapshotFleet(seed, SNAPSHOT_BIKES, SNAPSHOT_PLACES, MOVE_FRAC)
    # The event log's history: the fleet's earlier minutes. The stream's
    # checkpoint and per-bike state start empty, so the first snapshot
    # of a run records the fleet and emits no events.
    events = os.path.join(d, "events")
    os.makedirs(events)
    history_rows, prev = 0, fleet.step()[2]
    for i in range(EVENT_LOG_MINUTES):
        ts, _, view = fleet.step()
        rows = gen.expected_events(prev, view, ts)
        pq.write_table(gen.events_table(rows),
                       os.path.join(events, f"part-{i:05d}-history.snappy.parquet"))
        history_rows += len(rows)
        prev = view
    staged = os.path.join(d, "staged")
    os.makedirs(staged)
    snaps, expected, prev = [], {}, None
    for i in range(n):
        ts, doc, view = fleet.step()
        path = os.path.join(staged, f"snapshot_{i:05d}.json")
        with open(path, "wb") as f:
            f.write(gen.snapshot_bytes(doc))
        snaps.append({"path": path, "ts": ts})
        if prev is not None:
            expected[ts] = [list(e) for e in gen.expected_events(prev, view, ts)]
        prev = view
    plan = {
        "snapshots": snaps,
        "landing": os.path.join(d, "landing"),
        "events": events,
        "history_events": history_rows,
        "state": os.path.join(d, "state"),
        "checkpoint": os.path.join(d, "checkpoint"),
        "expected_events": expected,
    }
    _dump(os.path.join(d, "plan.json"), plan)
    return plan


def query_mix(seed: int, seconds: int, d: str, names: list[str], sf_dir: str) -> dict:
    """Seeded orders for the passes over the bundled tables."""
    r = gen.rng_for(seed, 20)
    passes = counts("query_mix", seconds)["warm_passes"]
    plan = {
        "cold_order": [names[i] for i in r.permutation(len(names))],
        "warm_orders": [[names[i] for i in r.permutation(len(names))]
                        for _ in range(passes)],
        "sf_dir": sf_dir,
    }
    _dump(os.path.join(d, "plan.json"), plan)
    return plan

"""Independent expected results for the benchmark's output checks.

Nothing here imports Spark or the package under test: the rides
metrics are recomputed with pandas from the raw CSVs under the
FIXTURES.md §1–§3 semantics, the range views from the year document
JSON, and query results are compared as order-insensitive row
multisets with doubles rounded to 3 places, as the repository's
oracle tests do.
"""

from __future__ import annotations

import io
import math
import re
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd

from gen import OUTSIDE, haversine_km

FLOAT_TOL = 1.5e-3
SERIES_METRICS = [
    "total_rides", "avg_distance_km", "avg_duration_min", "total_distance_km",
    "total_duration_min", "round_trips", "left_outside_station",
]


def round_half_up(x: float, nd: int) -> float:
    """Spark's ``round``: HALF_UP on the double's shortest decimal form."""
    q = Decimal(1).scaleb(-nd)
    return float(Decimal(repr(float(x))).quantize(q, rounding=ROUND_HALF_UP))


# --- rides ---------------------------------------------------------------------


def _clean_station(s: pd.Series) -> pd.Series:
    s = s.str.replace("\xa0", "", regex=False).map(
        lambda v: re.sub(r"\s+$", "", v) if isinstance(v, str) else v
    )
    return s.where(s != "nan", None)


def clean_rides(csv_text: str, coords: dict) -> pd.DataFrame:
    """The ingest transform's result for one raw CSV."""
    raw = pd.read_csv(
        io.StringIO(csv_text), dtype=str, keep_default_na=False, na_values=[]
    )
    raw.columns = [
        "uid", "bike_number", "start_time", "end_time",
        "start_station", "end_station", "duration",
    ]
    for c in ("start_station", "end_station"):
        raw[c] = _clean_station(raw[c].where(raw[c] != "", None))
    junk = raw["start_station"].fillna("").str.startswith("#") | raw[
        "end_station"
    ].fillna("").str.startswith("#")
    df = raw[~junk].copy()
    for c in ("start_time", "end_time"):
        df[c] = pd.to_datetime(df[c], format="%Y-%m-%d %H:%M:%S", errors="coerce")
    df["uid"] = df["uid"].astype("int64")
    df["duration"] = df["duration"].astype("int64")
    for side in ("start", "end"):
        st = df[f"{side}_station"]
        df[f"lat_{side}"] = st.map(lambda n: coords.get(n, (None, None))[0]).astype(float)
        df[f"lon_{side}"] = st.map(lambda n: coords.get(n, (None, None))[1]).astype(float)
    df["distance"] = np.round(
        haversine_km(df["lat_start"], df["lon_start"], df["lat_end"], df["lon_end"]), 3
    )
    return df


def history_frame(table) -> pd.DataFrame:
    """The generated history table as naive-UTC pandas rows."""
    df = table.to_pandas()
    for c in ("start_time", "end_time"):
        df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df


def metrics_by_day(rides: pd.DataFrame) -> dict[str, dict]:
    """FIXTURES.md §3 daily metrics for every day present in ``rides``."""
    df = rides[rides["start_time"].notna() & (rides["duration"] > 2)].copy()
    df["day"] = df["start_time"].dt.strftime("%Y-%m-%d")
    return {day: _day_metrics(g) for day, g in df.groupby("day", sort=True)}


def _day_metrics(g: pd.DataFrame) -> dict:
    s, e = g["start_station"], g["end_station"]
    dist = g["distance"].dropna()
    hist = g["start_time"].dt.hour.value_counts()
    dep = s[s.notna() & (s != OUTSIDE)].value_counts()
    arr = e[e.notna() & (e != OUTSIDE)].value_counts()
    names = sorted(set(dep.index) | set(arr.index))
    busiest = sorted(
        (
            {
                "station": n,
                "arrivals": int(arr.get(n, 0)),
                "departures": int(dep.get(n, 0)),
                "total": int(arr.get(n, 0) + dep.get(n, 0)),
            }
            for n in names
        ),
        key=lambda d: (-d["total"], d["station"]),
    )[:5]
    ok = s.notna() & e.notna() & (s != e) & (s != OUTSIDE) & (e != OUTSIDE)
    routes = sorted(
        (
            {"start_station": a, "end_station": b, "rides": int(n)}
            for (a, b), n in g[ok].groupby(["start_station", "end_station"]).size().items()
        ),
        key=lambda d: (-d["rides"], d["start_station"], d["end_station"]),
    )[:5]
    return {
        "total_rides": int(len(g)),
        "bike_rentals_histogram": {str(int(h)): int(c) for h, c in sorted(hist.items())},
        "avg_distance_km": round_half_up(dist.mean(), 3) if len(dist) else 0.0,
        "avg_duration_min": round_half_up(g["duration"].mean(), 2),
        "total_distance_km": round_half_up(dist.sum(), 3) if len(dist) else 0.0,
        "total_duration_min": int(g["duration"].sum()),
        "round_trips": int((s.notna() & e.notna() & (s == e)).sum()),
        "left_outside_station": int((e == OUTSIDE).sum()),
        "busiest_stations_top5": busiest,
        "top_routes_top5": routes,
    }


def same(got, want, path: str = "") -> list[str]:
    """Structural comparison; doubles within FLOAT_TOL. Returns the
    differences found (empty when equal)."""
    if isinstance(want, dict):
        if not isinstance(got, dict) or set(got) != set(want):
            return [f"{path}: keys {sorted(got) if isinstance(got, dict) else got!r} "
                    f"!= {sorted(want)}"]
        return [d for k in want for d in same(got[k], want[k], f"{path}.{k}")]
    if isinstance(want, (list, tuple)):
        if not isinstance(got, (list, tuple)) or len(got) != len(want):
            return [f"{path}: {got!r} != {want!r}"]
        return [d for i, (a, b) in enumerate(zip(got, want)) for d in same(a, b, f"{path}[{i}]")]
    if isinstance(want, float) or isinstance(got, float):
        if got is None or want is None or abs(float(got) - float(want)) > FLOAT_TOL:
            return [f"{path}: {got!r} != {want!r}"]
        return []
    return [] if got == want else [f"{path}: {got!r} != {want!r}"]


# --- range views -------------------------------------------------------------


def range_view(days: dict[str, dict], start: str, end: str, metric: str) -> dict:
    """The four range functions' results over the year document."""
    sel = {d: m for d, m in sorted(days.items()) if start <= d <= end}
    series = [[d, m.get(metric) or 0] for d, m in sel.items()]
    tot = Counter()
    for m in sel.values():
        tot.update({k: int(v) for k, v in m["bike_rentals_histogram"].items()})
    n = max(len(sel), 1)
    hist = [[str(h), int(round_half_up(tot.get(str(h), 0) / n, 0))] for h in range(24)]
    st = {}
    for m in sel.values():
        for x in m["busiest_stations_top5"]:
            a = st.setdefault(x["station"], [0, 0, 0])
            a[0] += x["arrivals"]
            a[1] += x["departures"]
            a[2] += x["total"]
    busiest = sorted(
        ((k, *v) for k, v in st.items()), key=lambda t: (-t[3], t[0])
    )[:5]
    rt = Counter()
    for m in sel.values():
        for x in m["top_routes_top5"]:
            rt[f"{x['start_station']} → {x['end_station']}"] += x["rides"]
    routes = sorted(rt.items(), key=lambda t: (-t[1], t[0]))[:5]
    return {
        "series": series,
        "histogram": hist,
        "busiest": [list(b) for b in busiest],
        "routes": [list(r) for r in routes],
    }


# --- status events -------------------------------------------------------------


def event_key(row) -> tuple:
    """(timestamp, bike_id, event_type, station_name, station_id, lat,
    lon, bike_type, battery) with doubles rounded for comparison."""
    def r6(x):
        return None if x is None or (isinstance(x, float) and math.isnan(x)) else round(float(x), 6)
    ts, bike, kind, name, sid, lat, lon, btype, batt = row
    return (ts, bike, kind, name, sid, r6(lat), r6(lon), btype, r6(batt))


def events_by_snapshot(rows) -> dict[str, Counter]:
    out: dict[str, Counter] = {}
    for row in rows:
        k = event_key(row)
        out.setdefault(k[0], Counter())[k] += 1
    return out


# --- query results ---------------------------------------------------------------


def normalize(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """A result frame as (sorted column names, sorted row tuples), with
    doubles rounded to 3 places and arrays rendered as lists."""
    cols = sorted(df.columns)
    rows = []
    for rec in df[cols].itertuples(index=False, name=None):
        vals = []
        for v in rec:
            if isinstance(v, float):
                vals.append("NaN" if math.isnan(v) else round(v, 3))
            elif hasattr(v, "tolist"):
                vals.append(str(v.tolist()))
            elif v is None:
                vals.append("NULL")
            else:
                vals.append(str(v))
        rows.append(tuple(vals))
    return cols, sorted(rows, key=repr)


def compare_normalized(got: tuple[list, list], want: tuple[list, list]) -> str | None:
    """None when two normalized results are equal as row multisets;
    otherwise the first difference."""
    (gc, gr), (wc, wr) = got, want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"row count {len(gr)} != {len(wr)}"
    for a, b in zip(gr, wr):
        if a != b:
            return f"row {a} != {b}"
    return None

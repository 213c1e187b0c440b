"""Seeded input generator for the benchmark workloads.

Everything the program under test reads is written here, from the seed
alone; the same seed gives byte-identical files.

- ``stations_csv``: the stations dimension with the dirty-data features
  of the published file (embedded header row, ``#`` junk rows with
  empty coordinates, a station with an empty coordinate).
- ``rides_csv``: one day's raw rides CSV with Polish headers, NBSP and
  trailing spaces in station names, ``#`` junk stations, ``Poza
  stacją`` returns, literal ``nan`` stations, unknown stations, invalid
  timestamps and ``duration <= 2`` rides.
- ``history_table``: days of cleaned rides in ``RIDES_SCHEMA`` types,
  written directly as the rides table's ``v0``. Timestamps are stored
  UTC-adjusted, so they read back as ``timestamp``, not
  ``timestamp_ntz``.
- ``SnapshotFleet``: a Nextbike-style fleet whose snapshots record the
  bike moves that produced them, as ground-truth status events.
"""

from __future__ import annotations

import datetime as dt
import json

import numpy as np

OUTSIDE = "Poza stacją"
RELOCATION = ".RELOKACYJNA"
NBSP = "\xa0"
EARTH_RADIUS_KM = 6371.0088
RAW_HEADER = (
    "UID wynajmu,Numer roweru,Data wynajmu,Data zwrotu,"
    "Stacja wynajmu,Stacja zwrotu,Czas trwania"
)
N_STATIONS = 470
EMPTY_LAT = 7  # the station listed without a latitude
# Hourly start profile of a weekday: commuting peaks at 7-8 and 16-17.
_HOUR_WEIGHTS = np.array(
    [2, 1, 1, 1, 1, 2, 4, 8, 9, 6, 5, 5, 6, 6, 6, 7, 9, 10, 8, 6, 5, 4, 3, 2],
    dtype=float,
)
_HOUR_P = _HOUR_WEIGHTS / _HOUR_WEIGHTS.sum()


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, purpose, index)."""
    return np.random.default_rng([seed, *stream])


def haversine_km(lat1, lon1, lat2, lon2):
    """Great-circle km on the mean Earth radius (vectorised)."""
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = (
        np.sin((p2 - p1) / 2) ** 2
        + np.cos(p1) * np.cos(p2) * np.sin(np.radians(lon2 - lon1) / 2) ** 2
    )
    return 2.0 * EARTH_RADIUS_KM * np.arcsin(np.sqrt(a))


# --- stations ----------------------------------------------------------------


def stations(seed: int) -> list[tuple[str, float, float]]:
    """The clean station list: (name, lat, lon) around Wrocław."""
    r = rng_for(seed, 1)
    lat = np.round(51.11 + r.normal(0, 0.03, N_STATIONS), 6)
    lon = np.round(17.03 + r.normal(0, 0.05, N_STATIONS), 6)
    quarters = ["Śródmieście", "Krzyki", "Fabryczna", "Psie Pole", "Stare Miasto"]
    return [
        (f"Stacja {i:03d} {quarters[i % len(quarters)]}", float(a), float(b))
        for i, (a, b) in enumerate(zip(lat, lon))
    ]


def stations_csv(seed: int) -> str:
    """The stations file as published: header, data rows, a duplicate
    header row mid-file, ``#`` junk rows with empty coordinates, and one
    station with an empty latitude (it reads back as null)."""
    st = stations(seed)
    lines = ["station_name,lat,lon"]
    for i, (name, lat, lon) in enumerate(st):
        if i == len(st) // 2:
            lines.append("station_name,lat,lon")
        if i == EMPTY_LAT:
            lines.append(f"{name},,{lon!r}")
        else:
            lines.append(f"{name},{lat!r},{lon!r}")
    lines += ["#Serwis techniczny,,", "#Magazyn,,"]
    return "\n".join(lines) + "\n"


def station_coords(seed: int) -> dict[str, tuple[float | None, float | None]]:
    """What the cleaned stations dimension maps each name to."""
    st = stations(seed)
    out = {name: (lat, lon) for name, lat, lon in st}
    out[st[EMPTY_LAT][0]] = (None, st[EMPTY_LAT][2])
    return out


# --- rides -------------------------------------------------------------------


def _ride_columns(r: np.random.Generator, n: int, n_names: int):
    """Vectorised core of rides: start and end station indexes, start
    second of the day and duration in minutes."""
    start = r.integers(0, n_names, n)
    end = r.integers(0, n_names, n)
    round_trip = r.random(n) < 0.06
    end = np.where(round_trip, start, end)
    hour = r.choice(24, n, p=_HOUR_P)
    start_s = hour * 3600 + r.integers(0, 3600, n)
    duration = np.maximum(1, np.round(r.gamma(2.0, 8.0, n))).astype(np.int64)
    short = r.random(n) < 0.04
    duration = np.where(short, r.integers(1, 3, n), duration)
    return start, end, start_s, duration


def _dirty(r: np.random.Generator, s: str) -> str:
    """Spell a clean station name the way the raw file may."""
    x = r.random()
    if x < 0.04:
        i = int(r.integers(1, len(s)))
        return s[:i] + NBSP + s[i:]
    if x < 0.10:
        return s + NBSP + " "
    if x < 0.13:
        return s + "  "
    return s


def rides_csv(seed: int, day: dt.date, day_index: int, n: int) -> str:
    """One day's raw rides CSV. ``day_index`` makes uids unique across
    days; every ride starts on ``day``."""
    r = rng_for(seed, 2, day_index)
    names = [s[0] for s in stations(seed)]
    start_i, end_i, start_s, duration = _ride_columns(r, n, len(names))
    start, end = [names[i] for i in start_i], [names[i] for i in end_i]
    base = dt.datetime(day.year, day.month, day.day)
    kinds_start = r.random(n)
    kinds_end = r.random(n)
    bad_ts = r.random(n)
    bikes = r.integers(500000, 503000, n)
    lines = [RAW_HEADER]
    for i in range(n):
        s, e = _dirty(r, start[i]), _dirty(r, end[i])
        ks, ke = kinds_start[i], kinds_end[i]
        if ks < 0.005:
            s = "#Serwis techniczny"
        elif ks < 0.010:
            s = "nan"
        elif ks < 0.015:
            s = RELOCATION
        elif ks < 0.020:
            s = "Stacja nieznana"
        if ke < 0.05:
            e = OUTSIDE
        elif ke < 0.055:
            e = "nan"
        elif ke < 0.058:
            e = "#Magazyn"
        t0 = base + dt.timedelta(seconds=int(start_s[i]))
        t1 = t0 + dt.timedelta(minutes=int(duration[i]), seconds=int(start_s[i] % 50))
        ts0 = t0.strftime("%Y-%m-%d %H:%M:%S")
        ts1 = t1.strftime("%Y-%m-%d %H:%M:%S")
        if bad_ts[i] < 0.002:
            ts0 = ""
        elif bad_ts[i] < 0.004:
            ts1 = f"{day.year}-13-45 99:00:00"
        uid = day_index * 100_000 + i + 1
        lines.append(
            f"{uid},{bikes[i]},{ts0},{ts1},{s},{e},{int(duration[i])}"
        )
    return "\n".join(lines) + "\n"


def history_table(seed: int, first_day: dt.date, days: int, per_day: int):
    """Cleaned rides for ``days`` days from ``first_day`` as a pyarrow
    table in ``RIDES_SCHEMA`` column order and types. Uids use day
    indexes below 0, so they never collide with ingested days."""
    import pyarrow as pa

    r = rng_for(seed, 3)
    coords = station_coords(seed)
    names = [s[0] for s in stations(seed)] + [OUTSIDE]
    lat = np.array([coords.get(x, (None, None))[0] for x in names], dtype=float)
    lon = np.array([coords.get(x, (None, None))[1] for x in names], dtype=float)
    n = days * per_day
    start_i, end_i, start_s, duration = _ride_columns(r, n, len(names))
    st_names = np.array(names, dtype=object)
    start, end = st_names[start_i], st_names[end_i]
    day_of = np.repeat(np.arange(days), per_day)
    epoch0 = dt.datetime(first_day.year, first_day.month, first_day.day,
                         tzinfo=dt.timezone.utc).timestamp()
    t0 = ((epoch0 + day_of * 86400 + start_s) * 1_000_000).astype(np.int64)
    t1 = t0 + duration * 60_000_000
    lat_s, lon_s, lat_e, lon_e = lat[start_i], lon[start_i], lat[end_i], lon[end_i]
    dist = np.round(haversine_km(lat_s, lon_s, lat_e, lon_e), 3)
    utc = pa.timestamp("us", tz="UTC")

    def f64(a):
        return pa.array(a, pa.float64(), from_pandas=True)

    return pa.table(
        {
            "uid": pa.array(-(day_of + 1) * 100_000 - np.arange(n) % per_day - 1),
            "bike_number": pa.array(r.integers(500000, 503000, n).astype(str)),
            "start_time": pa.array(t0, utc),
            "end_time": pa.array(t1, utc),
            "start_station": pa.array(list(start), pa.string()),
            "end_station": pa.array(list(end), pa.string()),
            "duration": pa.array(duration, pa.int64()),
            "lat_start": f64(lat_s),
            "lon_start": f64(lon_s),
            "lat_end": f64(lat_e),
            "lon_end": f64(lon_e),
            "distance": f64(dist),
        }
    )


# --- Nextbike snapshots -------------------------------------------------------


class SnapshotFleet:
    """A fleet of bikes over stations and free-standing spots.

    Each ``step`` moves about ``move_frac`` of the bikes (rent, return,
    or a whole ride between two snapshots) and returns the snapshot
    document plus the flattened per-bike view that the reference's
    parser would produce from it; ``expected_events`` diffs two such
    views with the reference's pair semantics.
    """

    def __init__(self, seed: int, bikes: int = 2000, places: int = 388,
                 move_frac: float = 0.02) -> None:
        self.r = rng_for(seed, 4)
        self.move_frac = move_frac
        n_free = places // 5
        self.places = []
        for i in range(places):
            free = i < n_free
            lat = round(51.11 + float(self.r.normal(0, 0.03)), 6)
            lng = round(17.03 + float(self.r.normal(0, 0.05)), 6)
            self.places.append(
                {
                    "uid": 12_000_000 + i * 37,
                    "name": f"BIKE {i}" if free else f"Wrocław Stacja {i} ul. Długa",
                    "placeType": (
                        ("FREESTANDING_ELECTRIC_BIKE" if i % 2 else "FREESTANDING_BIKE")
                        if free else "STATION"
                    ),
                    "geoCoords": {"lat": lat, "lng": lng},
                    # Some stations report bare bike numbers only.
                    "numbers_only": (not free) and i % 17 == 0,
                }
            )
        self.bike_ids = [str(590000 + 3 * i) for i in range(bikes)]
        self.electric = self.r.random(bikes) < 0.15
        self.battery = np.where(self.electric, self.r.integers(10, 100, bikes), 0)
        where = self.r.integers(0, places, bikes)
        in_use = self.r.random(bikes) < 0.05
        self.where = np.where(in_use, -1, where)
        self.ts = dt.datetime(2025, 6, 2, 7, 0, 0)
        self.steps = 0

    def step(self) -> tuple[str, dict, dict]:
        """Advance one minute (not before the first snapshot) and return
        ``(fetched_at, document, flattened view)``."""
        if self.steps:
            self.ts += dt.timedelta(minutes=1)
            n = len(self.bike_ids)
            movers = np.flatnonzero(self.r.random(n) < self.move_frac)
            for b in movers:
                if self.where[b] < 0 or self.r.random() < 0.5:
                    self.where[b] = int(self.r.integers(0, len(self.places)))
                else:
                    self.where[b] = -1
            drain = self.electric & (self.r.random(n) < 0.1)
            self.battery = np.where(drain, np.maximum(self.battery - 1, 5), self.battery)
        self.steps += 1
        fetched_at = self.ts.strftime("%Y-%m-%dT%H:%M:%S")
        at: dict[int, list[int]] = {}
        for b, p in enumerate(self.where):
            if p >= 0:
                at.setdefault(int(p), []).append(b)
        doc_places, view = [], {}
        for p, place in enumerate(self.places):
            bikes = at.get(p, [])
            free = place["placeType"].startswith("FREESTANDING")
            out = {k: place[k] for k in ("uid", "name", "placeType", "geoCoords")}
            sid = "freestanding" if free else str(place["uid"])
            sname = "freestanding" if free else place["name"]
            lat, lng = place["geoCoords"]["lat"], place["geoCoords"]["lng"]
            if place["numbers_only"]:
                out["bikes"] = []
                out["bikeNumbers"] = [self.bike_ids[b] for b in bikes]
                for b in bikes:
                    view[self.bike_ids[b]] = (sname, sid, lat, lng, None, None)
            else:
                out["bikes"] = []
                for b in bikes:
                    el = bool(self.electric[b])
                    batt = float(self.battery[b]) if el else None
                    out["bikes"].append(
                        {
                            "number": int(self.bike_ids[b]),
                            "bikeType": "ELECTRIC_4G" if el else "STANDARD_4G",
                            "battery": batt,
                        }
                    )
                    view[self.bike_ids[b]] = (
                        sname, sid, lat, lng, "electric" if el else "standard", batt,
                    )
            doc_places.append(out)
        doc = {
            "_fetched_at": fetched_at,
            "data": [{"cities": [{"places": doc_places}]}],
        }
        return fetched_at, doc, view


def expected_events(prev: dict, curr: dict, ts: str) -> list[tuple]:
    """Status events between two flattened views (reference pair
    semantics): departed for prev-only bikes, arrived for curr-only
    bikes, both when the station id changed; all stamped ``ts``."""
    out = []
    for bike in prev.keys() | curr.keys():
        p, c = prev.get(bike), curr.get(bike)
        moved = p is not None and c is not None and p[1] != c[1]
        if p is not None and (c is None or moved):
            out.append((ts, bike, "departed", *p))
        if c is not None and (p is None or moved):
            out.append((ts, bike, "arrived", *c))
    return out


EVENT_COLUMNS = (("timestamp", "string"), ("bike_id", "string"), ("event_type", "string"),
                 ("station_name", "string"), ("station_id", "string"), ("lat", "float64"),
                 ("lon", "float64"), ("bike_type", "string"), ("battery", "float64"))


def events_table(rows: list[tuple]):
    """``expected_events`` rows as a pyarrow table in the event log's
    column order and types."""
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [()] * len(EVENT_COLUMNS)
    return pa.table({name: pa.array(list(col), getattr(pa, kind)())
                     for (name, kind), col in zip(EVENT_COLUMNS, cols)})


def snapshot_bytes(doc: dict) -> bytes:
    return json.dumps(doc, ensure_ascii=False, separators=(",", ":")).encode("utf-8")


def window(r: np.random.Generator, dates: list[str]) -> tuple[str, str]:
    """A seeded [start, end] date window over the available dates."""
    span = int(r.integers(7, min(60, len(dates)) + 1))
    i = int(r.integers(0, len(dates) - span + 1))
    return dates[i], dates[i + span - 1]

"""Seeded weather-station fleet for the ``ingest`` workload, and the
pure-Python expectation the pipeline's output is checked against.

No Spark here: the generator and the model must be testable on their
own (``perfbench/tests``).

A fleet is a list of fetch jobs. Each fetch asks one station on the
0.1-degree grid for a 7-day hourly window. Two sources serve the
payloads, with the two payload layouts the engine registers:
``meteo`` (Open-Meteo struct-of-arrays) and ``metno`` (met.no
GeoJSON timeseries). A seeded share of fetches re-fetches an earlier
station with a shifted window, so a merge sees updates beside inserts;
another share fails upstream with HTTP 503.

Phases and the key-order rule that keeps the expectation exact:

- ``store`` fetches merge one at a time, in plan order, so a re-fetch
  may target any earlier store station;
- ``publish`` fetches are drained later, several per micro-batch, in an
  order the file source picks; so no two publish fetches share a key.
  A publish re-fetch targets a store station only.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone

SOURCES = ("meteo", "metno")
#: first day of the window every fresh fetch asks for (midnight UTC).
BASE_DAY = datetime(2026, 1, 5)
WINDOW_DAYS = 7
HOURS = WINDOW_DAYS * 24
#: shift of a re-fetch window against the window it repeats, in days:
#: either way it updates 5 days of rows and inserts 2 new ones.
REFETCH_SHIFTS = (-2, 2)

UPSTREAM_FAILURE_STATUS = 503

MEASURES = ("temperature", "precipitation", "wind_speed")


@dataclass(frozen=True)
class Fetch:
    """One planned fetch job."""

    op: int
    phase: str  # "store" | "publish"
    source: str  # "meteo" | "metno"
    lat: float
    lon: float
    start: datetime  # naive UTC, midnight
    fails: bool
    refetch_of: int | None = None  # op of the fetch this one repeats

    @property
    def params(self) -> dict:
        return {"latitude": self.lat, "longitude": self.lon}


@dataclass(frozen=True)
class FleetPlan:
    seed: int
    fetches: tuple[Fetch, ...]
    poison_lines: tuple[str, ...]

    def phase(self, name: str) -> list[Fetch]:
        return [f for f in self.fetches if f.phase == name]


def plan_fleet(seed: int, n_store: int, n_publish: int, *, n_poison: int = 2) -> FleetPlan:
    """Plan ``n_store`` store fetches, then ``n_publish`` publish fetches.

    The mix is fixed so that every seed asks the pipeline for the same
    amount of work: fresh stations that land alternate between the two
    sources,
    and a re-fetch shifts its window by two days. The seed picks
    stations, measures, the shift's direction and where in each phase
    the re-fetches and failures sit.

    - store: half (rounded down) re-fetch an earlier store station,
      the rest are fresh; the first fetch is fresh and succeeds, so the
      silver table exists before any re-fetch;
    - publish: a quarter (at least one) fail upstream, a quarter
      (rounded down) re-fetch distinct store stations, the rest are
      fresh.

    Fresh stations all ask for the same week, as a fleet polling one
    forecast window does; a re-fetch shifts its window by a few days."""
    rng = random.Random(seed)
    used: set[tuple[float, float]] = set()

    def fresh_station() -> tuple[float, float]:
        while True:
            st = (round(rng.uniform(-60.0, 70.0), 1), round(rng.uniform(-170.0, 170.0), 1))
            if st not in used:
                used.add(st)
                return st

    n_store_refetch = n_store // 2
    store_kinds = ["fresh"] + rng.sample(
        ["refetch"] * n_store_refetch + ["fresh"] * (n_store - 1 - n_store_refetch),
        n_store - 1,
    )
    n_fail = max(1, n_publish // 4)
    n_pub_refetch = min(n_publish // 4, n_store - n_store_refetch)
    publish_kinds = rng.sample(
        ["fail"] * n_fail
        + ["refetch"] * n_pub_refetch
        + ["fresh"] * (n_publish - n_fail - n_pub_refetch),
        n_publish,
    )

    fetches: list[Fetch] = []
    store_fresh: list[Fetch] = []
    n_landing = 0  # fresh stations whose payload lands: sources alternate
    for op, kind in enumerate(store_kinds + publish_kinds):
        phase = "store" if op < n_store else "publish"
        if kind == "refetch":
            prev = rng.choice(store_fresh)
            if phase == "publish":
                store_fresh.remove(prev)  # one publish re-fetch per station
            shift = rng.choice(REFETCH_SHIFTS)
            f = Fetch(
                op, phase, prev.source, prev.lat, prev.lon,
                prev.start + timedelta(days=shift), False, refetch_of=prev.op,
            )
        else:
            lat, lon = fresh_station()
            source = SOURCES[n_landing % 2]
            n_landing += kind != "fail"
            f = Fetch(op, phase, source, lat, lon, BASE_DAY, kind == "fail")
            if phase == "store":
                store_fresh.append(f)
        fetches.append(f)
    poison = tuple(
        rng.choice(('{"fetch_id": ', "not json at all", "{]", '{"source": 7')) + str(i)
        for i in range(n_poison)
    )
    return FleetPlan(seed, tuple(fetches), poison)


def _measure(seed: int, op: int, hour: int, k: int) -> float | None:
    """Deterministic per (plan seed, fetch, hour, measure) value, one
    decimal; about 2% of precipitation values are missing."""
    r = random.Random(hash((seed, op, hour, k)) & 0xFFFFFFFF)
    if k == 1 and r.random() < 0.02:
        return None
    if k == 0:
        return round(r.gauss(8.0, 9.0), 1)
    if k == 1:
        return round(max(0.0, r.gauss(0.3, 1.0)), 1)
    return round(abs(r.gauss(4.0, 3.0)), 1)


def observations(seed: int, f: Fetch) -> list[tuple]:
    """The records a successful fetch lands:
    ``(lat, lon, ts, temperature, precipitation, wind_speed)``."""
    out = []
    for h in range(HOURS):
        ts = f.start + timedelta(hours=h)
        out.append((f.lat, f.lon, ts, *(_measure(seed, f.op, h, k) for k in range(3))))
    return out


def payload(seed: int, f: Fetch) -> dict:
    """The upstream JSON body for ``f`` in its source's layout."""
    rows = observations(seed, f)
    if f.source == "meteo":
        return {
            "latitude": f.lat,
            "longitude": f.lon,
            "generationtime_ms": 0.5,
            "utc_offset_seconds": 0,
            "timezone": "GMT",
            "timezone_abbreviation": "GMT",
            "elevation": 10.0,
            "hourly_units": {"time": "iso8601", "temperature_2m": "°C"},
            "hourly": {
                "time": [r[2].strftime("%Y-%m-%dT%H:%M") for r in rows],
                "temperature_2m": [r[3] for r in rows],
                "precipitation": [r[4] for r in rows],
                "soil_temperature_18cm": [None] * len(rows),
                "soil_moisture_9_to_27cm": [None] * len(rows),
                "wind_speed_10m": [r[5] for r in rows],
                "wind_direction_10m": [180.0] * len(rows),
                "cloud_cover": [50.0] * len(rows),
            },
        }
    return {
        "type": "Feature",
        "geometry": {"type": "Point", "coordinates": [f.lon, f.lat, 10.0]},
        "properties": {
            "timeseries": [
                {
                    "time": r[2].strftime("%Y-%m-%dT%H:%M:%SZ"),
                    "data": {
                        "instant": {
                            "details": {
                                "air_temperature": r[3],
                                "wind_speed": r[5],
                                "wind_from_direction": 180.0,
                                "cloud_area_fraction": 50.0,
                                "relative_humidity": 70.0,
                            }
                        },
                        "next_1_hours": {"details": {"precipitation_amount": r[4]}},
                    },
                }
                for r in rows
            ]
        },
    }


@dataclass
class Expectation:
    """What the warehouse must hold after a plan has run.

    ``land`` is called in the order merges happen; fetch ids are the
    ones the pipeline generated, keyed by the plan's ``op``."""

    seed: int
    silver: dict[tuple, tuple] = field(default_factory=dict)  # key -> (*measures, op)
    control: dict[int, tuple[str, int]] = field(default_factory=dict)  # op -> (status, code)
    last_registered: int | None = None

    def register(self, f: Fetch) -> None:
        self.control[f.op] = ("error", UPSTREAM_FAILURE_STATUS) if f.fails else ("success", 200)
        self.last_registered = f.op

    def land(self, f: Fetch) -> None:
        if f.fails:
            return
        for lat, lon, ts, *m in observations(self.seed, f):
            self.silver[(lat, lon, ts)] = (*m, f.op)

    def stations(self) -> set[tuple[float, float]]:
        return {(k[0], k[1]) for k in self.silver}

    def counts(self) -> tuple[int, int, int]:
        """The dashboard's (observations, control rows, locations)."""
        return len(self.silver), len(self.control), len(self.stations())

    def status_label(self) -> str | None:
        if self.last_registered is None:
            return None
        status = self.control[self.last_registered][0]
        label = status.capitalize()
        return {"error": f"🔴 {label}", "pending": f"🟡 {label}"}.get(status, f"🟢 {label}")

    def describe(self) -> dict[str, tuple]:
        """Per measure: (count, mean, std, min, p25, p50, p75, max), with
        Spark's semantics: nulls skipped, sample std, linear-interpolated
        exact percentiles."""
        out = {}
        for i, m in enumerate(MEASURES):
            vals = sorted(v[i] for v in self.silver.values() if v[i] is not None)
            n = len(vals)
            if n == 0:
                out[m] = (0, None, None, None, None, None, None, None)
                continue
            mean = math.fsum(vals) / n
            std = math.sqrt(math.fsum((v - mean) ** 2 for v in vals) / (n - 1)) if n > 1 else None
            out[m] = (n, mean, std, vals[0], *(percentile(vals, p) for p in (0.25, 0.5, 0.75)), vals[-1])
        return out

    def first_timestamps(self, limit: int) -> list[datetime]:
        return sorted(k[2] for k in self.silver)[:limit]


def percentile(sorted_vals: list[float], p: float) -> float:
    """Exact percentile with linear interpolation between closest ranks."""
    pos = p * (len(sorted_vals) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(sorted_vals) - 1)
    return sorted_vals[lo] + (sorted_vals[hi] - sorted_vals[lo]) * (pos - lo)


def utc(ts: datetime) -> datetime:
    """Naive UTC view of a timestamp Spark hands back."""
    if ts.tzinfo is not None:
        ts = ts.astimezone(timezone.utc).replace(tzinfo=None)
    return ts

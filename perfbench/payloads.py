"""Seeded Open-Meteo forecast payloads for the weather pipeline.

One payload per (location, ingest day ``ds``): a 168-hour forecast in local
time starting at ``ds`` 00:00, the reference extractor's shape. Consecutive
days overlap by 144 hours, so most of each batch updates keys that earlier
batches loaded. Temperatures are seeded (diurnal curve plus per-forecast
noise, one decimal), about 1% of them are null, and one seeded payload of
the last ingest day repeats one local hour, as a DST fall-back does; no
later batch overwrites that day's keys, so the repeated key always reaches
the final L2 table, where the in-batch tie-break shows. Locations use fixed
UTC offsets, which lets the oracle convert local time to UTC by itself.
"""

from __future__ import annotations

import datetime as dt
import math
from dataclasses import dataclass

import numpy as np

HORIZON_HOURS = 168

# name, latitude, longitude, IANA zone, UTC offset in minutes (no DST)
PLACES = (
    ("jakarta", -6.2, 106.8, "Asia/Jakarta", 420),
    ("tokyo", 35.68, 139.69, "Asia/Tokyo", 540),
    ("singapore", 1.35, 103.82, "Asia/Singapore", 480),
    ("kolkata", 22.57, 88.36, "Asia/Kolkata", 330),
    ("nairobi", -1.29, 36.82, "Africa/Nairobi", 180),
    ("reykjavik", 64.15, -21.94, "Atlantic/Reykjavik", 0),
)


@dataclass(frozen=True)
class Location:
    name: str
    latitude: float
    longitude: float
    timezone: str
    offset_min: int


@dataclass(frozen=True)
class Batch:
    """One payload and the facts the oracle needs about it."""

    location: Location
    ds: str
    times: list[str]
    temps: list[float | None]

    @property
    def payload(self) -> dict:
        loc = self.location
        return {
            "latitude": loc.latitude,
            "longitude": loc.longitude,
            "timezone": loc.timezone,
            "hourly": {"time": self.times, "temperature_2m": self.temps},
        }


def locations(rng: np.random.Generator, n: int) -> list[Location]:
    picks = rng.choice(len(PLACES), size=n, replace=False)
    return [Location(*PLACES[i]) for i in sorted(picks)]


def batch(rng: np.random.Generator, loc: Location, ds: str, repeat_hour: bool) -> Batch:
    start = dt.datetime.fromisoformat(ds)
    times = [(start + dt.timedelta(hours=h)).strftime("%Y-%m-%dT%H:%M") for h in range(HORIZON_HOURS)]
    if repeat_hour:
        i = int(rng.integers(1, HORIZON_HOURS))
        times[i] = times[i - 1]
    base = 27.0 - abs(loc.latitude) / 4.0
    temps: list[float | None] = []
    for h in range(HORIZON_HOURS):
        if rng.random() < 0.01:
            temps.append(None)
        else:
            diurnal = 4.0 * math.sin((h % 24 - 9) / 24.0 * 2.0 * math.pi)
            temps.append(round(base + diurnal + float(rng.normal(0.0, 1.5)), 1))
    return Batch(loc, ds, times, temps)


def backfill(rng: np.random.Generator, locs: list[Location], first_ds: str, days: int) -> list[Batch]:
    """Batches in ingest order: day by day, every location within a day."""
    d0 = dt.date.fromisoformat(first_ds)
    repeat = (days - 1) * len(locs) + int(rng.integers(len(locs)))
    return [
        batch(rng, loc, (d0 + dt.timedelta(days=d)).isoformat(), d * len(locs) + i == repeat)
        for d in range(days)
        for i, loc in enumerate(locs)
    ]


def shares(batches: list[Batch]) -> tuple[float, float]:
    """(update share, duplicate share) of a backfill, measured on its rows.

    Update share: rows whose key an earlier batch already loaded, over all
    rows. Duplicate share: rows repeating a key earlier in the same batch."""
    seen: set[tuple[str, str]] = set()
    rows = updates = dups = 0
    for b in batches:
        keys = [(b.location.name, t) for t in b.times]
        rows += len(keys)
        dups += len(keys) - len(set(keys))
        updates += sum(1 for k in keys if k in seen)
        seen.update(keys)
    return updates / rows, dups / rows

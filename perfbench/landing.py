"""Seeded travel landing-file generator with a ground-truth sidecar.

Produces the raw files the pipeline ingests -- one file per dataset
covering two months, a re-upload of one itinerary day -- with the dirty values
the silver layer exists to clean: ``$``/comma amounts, unparseable
dates, mixed-case and padded spend types, and one malformed
Google-Timeline document. Heart-rate readings (one every
``HR_STEP_S`` seconds, all day) make up most of the rows. Every value is
derived from ``random.Random`` seeded by (seed, file name), so the same
seed gives byte-identical files.

``Truth`` is the sidecar: what a correct pipeline must report for the
files generated (bronze rows per dataset, per-day spend, steps, flights,
sleep entries, timeline segments, and the surviving itinerary row per
date).
"""

from __future__ import annotations

import csv
import io
import json
import os
import random
from dataclasses import dataclass, field
from datetime import date, timedelta

DATASETS = (
    "transactions",
    "manual_logs",
    "flight_logs",
    "fitbit_steps",
    "fitbit_sleep_score",
    "fitbit_heart_rate",
    "google_timeline",
)

START = date(2026, 3, 1)
HISTORY_DAYS = 61  # March and April
CATEGORIES = ("HOTEL", "FOOD", "ACTIVITY", "TRAVEL", "MISC")
# raw spellings; upper(trim(x)) of the first five map onto CATEGORIES
_TYPES = ("Hotel", " food ", "ACTIVITY", "travel ", "Misc", "Other", "souvenir")
_CITIES = ("Tokyo", "Kyoto", "Osaka", "Nara", "Sapporo", "Fukuoka")
_MODES = ("IN_TRAIN", "WALKING", "IN_BUS", "FLYING")
_BPM = ("59.0", "60.0", "72.5", "99.0", "100.0", "129.0", "130.0", "141.0")  # zone edges
TX_PER_DAY = 100
HR_STEP_S = 10

HEADERS = {
    "transactions": ["country", "date", "name", "type", "amount", "comments"],
    "manual_logs": ["day", "date", "flag", "country", "city", "description",
                    "comments", "food", "travel", "hotel"],
    "flight_logs": ["date", "flight_number", "from", "to", "dep_time", "arr_time",
                    "duration", "airline", "aircraft", "registration", "seat_number",
                    "seat_type", "flight_class", "flight_reason", "note", "dep_id",
                    "arr_id", "airline_id", "aircraft_id"],
    "fitbit_steps": ["timestamp", "steps", "data_source"],
    "fitbit_sleep_score": ["sleep_log_entry_id", "timestamp", "overall_score",
                           "composition_score", "revitalization_score",
                           "duration_score", "deep_sleep_in_minutes",
                           "resting_heart_rate", "restlessness"],
    "fitbit_heart_rate": ["timestamp", "beats_per_minute", "data_source"],
}


def day(i: int) -> str:
    """ISO date of history day ``i`` (0-based)."""
    return (START + timedelta(days=i)).isoformat()


@dataclass
class Truth:
    """Ground truth accumulated over every file generated so far."""

    rows: dict[str, int] = field(default_factory=lambda: {d: 0 for d in DATASETS})
    files: dict[str, list[str]] = field(default_factory=lambda: {d: [] for d in DATASETS})
    # date -> category -> cents, valid dates and the five gold categories only
    spend: dict[str, dict[str, int]] = field(default_factory=dict)
    # every transaction with a parseable date: (date, cents)
    spend_rows: list[tuple[str, int]] = field(default_factory=list)
    steps: dict[str, int] = field(default_factory=dict)
    # date -> surviving (latest-load) city
    itinerary: dict[str, str] = field(default_factory=dict)
    # date -> number of flights / sleep entries / VISIT / ACTIVITY segments
    flights: dict[str, int] = field(default_factory=dict)
    sleep: dict[str, int] = field(default_factory=dict)
    visits: dict[str, int] = field(default_factory=dict)
    activities: dict[str, int] = field(default_factory=dict)
    # date -> activity type -> metres
    distance: dict[str, dict[str, float]] = field(default_factory=dict)

    def spend_total(self, d: str) -> int:
        return sum(self.spend.get(d, {}).values())

    def to_json(self) -> str:
        return json.dumps(self.__dict__, sort_keys=True)


def _csv(header: list[str], rows: list[list]) -> bytes:
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(header)
    w.writerows(rows)
    return buf.getvalue().encode()


def _money(cents: int, rng: random.Random) -> str:
    if rng.random() < 0.3:
        return f"${cents // 100:,}.{cents % 100:02d}"
    return f"{cents // 100}.{cents % 100:02d}"


def _transactions(rng, days, truth):
    rows = []
    for d in days:
        for j in range(TX_PER_DAY):
            cents = rng.randrange(150, 250_000 if j == 0 else 40_000)
            typ = _TYPES[rng.randrange(len(_TYPES))]
            bad = rng.random() < 0.05
            rows.append(["Japan", "2026-13-45" if bad else d, f"merchant_{rng.randrange(10**6)}",
                         typ, _money(cents, rng), rng.choice(["Uber", "Dinner", "", "NULL", "Ticket"])])
            if bad:
                continue
            truth.spend_rows.append((d, cents))
            cat = typ.strip().upper()
            if cat in CATEGORIES:
                per = truth.spend.setdefault(d, {})
                per[cat] = per.get(cat, 0) + cents
    return rows


def _manual_logs(rng, days, truth, tag=""):
    rows = []
    for d in days:
        city = rng.choice(_CITIES) + tag
        truth.itinerary[d] = city
        rows.append([(date.fromisoformat(d) - START).days, d, "1.0", "Japan", city,
                     f"desc {rng.randrange(1000)}", "note", "ramen", "train", "hostel"])
    return rows


def _flights(rng, days, truth):
    rows = []
    for d in days:
        if rng.random() < 0.5:
            continue
        i = (date.fromisoformat(d) - START).days
        truth.flights[d] = 1
        dur = rng.choice(["02:15", "12:30", "bad"])
        rows.append([d, f"NH{800 + rng.randrange(200)}", "NRT", "KIX", "09:00", "11:15", dur,
                     "ANA", "B789", f"JA{i:03d}A", f"{i % 40}A", "1", "2", "0", "note",
                     "10", "20", "5", "7"])
    return rows


def _steps(rng, days, truth):
    rows = []
    for d in days:
        total = 0
        for h in range(6, 23):
            for m in (0, 15, 30, 45):
                s = rng.randrange(0, 400)
                total += s
                rows.append([f"{d} {h:02d}:{m:02d}:00", s, "fitbit"])
        truth.steps[d] = total
    return rows


def _sleep(rng, days, truth):
    rows = []
    for d in days:
        truth.sleep[d] = 1
        rows.append([10_000 + (date.fromisoformat(d) - START).days, f"{d} 07:{rng.randrange(60):02d}:00",
                     rng.randrange(50, 95), "20.5", rng.randrange(40, 80), "21.0",
                     rng.randrange(30, 120), rng.randrange(48, 70), "0.08"])
    return rows


def _heart_rate(rng, days, truth):
    rows = []
    clock = [f"{s // 3600:02d}:{s // 60 % 60:02d}:{s % 60:02d}" for s in range(0, 86400, HR_STEP_S)]
    for d in days:
        rows.extend([f"{d} {c}", rng.choice(_BPM), "fitbit"] for c in clock)
    return rows


def _timeline(rng, days, truth):
    segs = []
    for d in days:
        nv = rng.randrange(1, 4)
        na = rng.randrange(1, 4)
        for k in range(nv):
            loc = f"35.{rng.randrange(10**6):06d}°, 139.{rng.randrange(10**6):06d}°"
            segs.append({
                "startTime": f"{d}T{8 + 2 * k:02d}:00:00.000Z",
                "endTime": f"{d}T{9 + 2 * k:02d}:00:00.000Z",
                "visit": {"probability": 0.9, "topCandidate": {
                    "placeId": f"P{rng.randrange(10**6)}",
                    # dict-or-string placeLocation
                    "placeLocation": {"latLng": loc} if k % 2 == 0 else loc}},
            })
        per = truth.distance.setdefault(d, {})
        for k in range(na):
            metres = float(rng.randrange(100, 90_000))
            mode = rng.choice(_MODES)
            per[mode] = per.get(mode, 0.0) + metres
            segs.append({
                "startTime": f"{d}T{14 + k:02d}:00:00.000Z",
                "endTime": f"{d}T{14 + k:02d}:30:00.000Z",
                "activity": {
                    "probability": 0.8,
                    "distanceMeters": metres,
                    "start": {"latLng": "35.65°, 139.74°"},
                    "end": {"latLng": f"34.{rng.randrange(100)}°, 135.{rng.randrange(100)}°"},
                    "topCandidate": {"type": mode, "probability": 0.9}},
            })
        truth.visits[d] = nv
        truth.activities[d] = na
    # a segment that is neither visit nor activity: dropped by silver
    segs.append({"startTime": f"{days[0]}T23:00:00.000Z", "endTime": f"{days[0]}T23:30:00.000Z"})
    return json.dumps({"semanticSegments": segs}).encode()


def _file(name: str, dataset: str, rng, days, truth, tag: str = "") -> tuple[str, bytes]:
    truth.files[dataset].append(name)
    if dataset == "google_timeline":
        truth.rows[dataset] += 1  # whole document -> one bronze row
        return name, _timeline(rng, days, truth)
    rows = {
        "transactions": lambda: _transactions(rng, days, truth),
        "manual_logs": lambda: _manual_logs(rng, days, truth, tag),
        "flight_logs": lambda: _flights(rng, days, truth),
        "fitbit_steps": lambda: _steps(rng, days, truth),
        "fitbit_sleep_score": lambda: _sleep(rng, days, truth),
        "fitbit_heart_rate": lambda: _heart_rate(rng, days, truth),
    }[dataset]()
    truth.rows[dataset] += len(rows)
    return name, _csv(HEADERS[dataset], rows)


def _rng(seed: int, name: str) -> random.Random:
    return random.Random(f"{seed}:{name}")


def backfill_files(seed: int, truth: Truth, days: int = HISTORY_DAYS) -> dict[str, bytes]:
    """The history: one file per dataset over days 0..days-1, a re-upload of one already-covered ``manual_logs`` day
    under a new file name with changed values (latest load wins), and
    one malformed timeline document (ingested, yields no segments)."""
    span = [day(i) for i in range(days)]
    out = {}
    for ds in DATASETS:
        name = f"{ds}_history.{'json' if ds == 'google_timeline' else 'csv'}"
        out.update([_file(name, ds, _rng(seed, name), span, truth)])
    name = "manual_logs_reupload.csv"
    rng = _rng(seed, name)
    out.update([_file(name, "manual_logs", rng, [day(rng.randrange(days))], truth, tag="-rev")])
    name = "google_timeline_corrupt.json"
    out[name] = b'{"semanticSegments": [ {"startTime": '  # truncated upload
    truth.rows["google_timeline"] += 1
    truth.files["google_timeline"].append(name)
    return out


def write_files(dirpath: str, files: dict[str, bytes]) -> int:
    """Land ``files`` in ``dirpath``; returns the bytes written."""
    os.makedirs(dirpath, exist_ok=True)
    n = 0
    for name, data in sorted(files.items()):
        with open(os.path.join(dirpath, name), "wb") as f:
            f.write(data)
        n += len(data)
    return n

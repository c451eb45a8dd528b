"""Seeded generator of NS-shaped disruption payloads.

One payload is one day's ``/disruptions`` response: a JSON array of nested
records, written pretty-printed like the archived payload files the
pipeline's ``ns_disruptions`` source and the streaming file source read.

What the records exercise:

- ``type`` from the Dutch vocabulary ``functions.cleaning.TYPE_MAPPING``
  maps (mixed case), plus upper-case English pass-through values;
- about 20 % of records carry no ``end`` (the cleaner imputes it);
- 1-3 ``section.stations`` codes, drawn from the 6-row station seed and
  from codes outside it, and some ``timespans[].situation.stations``;
- a few falsy ids (``None``, ``""``, missing key), which the source skips;
- a few in-batch duplicate ids whose copies differ in ``description`` but
  share ``title`` (the raw zone keeps the greatest ``raw_json``; the clean
  zone keeps one copy, and the checks compare only fields every copy
  shares);
- a share of ids updated from earlier days, drawn per day from 30-70 %.

Everything derives from ``random.Random(seed)``: the same seed gives
byte-identical payload files.

Run ``python3 perfbench/gen.py --seed 7 --out DIR [--days 4]`` to write
payload files ``DIR/day_000.json`` ... and print their paths.
"""

from __future__ import annotations

import argparse
import datetime as dt
import itertools
import json
import os
import random
from collections.abc import Iterator
from dataclasses import dataclass, field

#: First run day of every generated sequence; day ``i`` runs at 06:00 UTC.
BASE_DAY = dt.datetime(2026, 3, 2, 6, 0, tzinfo=dt.timezone.utc)

#: Record counts per day cycle through these sizes in this order, from the
#: reference's 125 to 2,000.  The order is fixed rather than seeded: a run
#: times only a few days, and their sizes would otherwise differ between
#: seeds and move op times with them.
SIZE_CYCLE = (125, 2000, 600, 1200)

#: Keys and station codes of the pipeline's 6-row station seed, and codes
#: outside it that the pipeline must carry through verbatim.
SEED_CODES = ("ASD", "UTR", "RTD", "EHV", "GVC", "LEDN")
OTHER_CODES = ("AMF", "ZL", "HT", "NM", "BD", "DV", "GN", "LW")

TYPES = (
    "verstoring", "Verstoring", "werkzaamheden", "WERKZAAMHEDEN",
    "calamiteit", "storing", "Storing",
    "DISRUPTION", "MAINTENANCE", "cancellation",
)
PLACES = (
    "Amsterdam", "Utrecht", "Rotterdam", "Eindhoven", "Den Haag", "Leiden",
    "Amersfoort", "Zwolle", "'s-Hertogenbosch", "Nijmegen", "Breda",
    "Groningen", "Leeuwarden", "Deventer", "Arnhem", "Zaandam",
)
CAUSES = (
    "één defecte trein", "seinstoring", "werkzaamheden aan het spoor",
    "een aanrijding", "koperdiefstal", "stormschade", "een defect wissel",
)

TS_FORMAT = "%Y-%m-%dT%H:%M:%S%z"


@dataclass
class Day:
    """One generated payload and what the generator knows about it."""

    index: int
    run_ts: dt.datetime
    records: list[dict]
    n_falsy: int
    n_dup_extra: int
    updated_share: float
    payload: bytes = field(repr=False)


def _ts(t: dt.datetime) -> str:
    return t.strftime(TS_FORMAT)


def _station(code: str, rng: random.Random) -> dict:
    return {
        "name": f"Station {code}",
        "stationCode": code,
        "uicCode": code,
        "countryCode": "NL",
        "coordinate": {
            "lat": round(50.7 + rng.random() * 2.8, 4),
            "lng": round(3.4 + rng.random() * 3.6, 4),
        },
    }


def _record(rid: str, day_start: dt.datetime, rng: random.Random, rev: int) -> dict:
    tz = dt.timezone(dt.timedelta(hours=1))
    start = (day_start - dt.timedelta(minutes=rng.randrange(0, 36 * 60))).astimezone(tz)
    a, b = rng.sample(PLACES, 2)
    title = f"{'Update: ' if rev else ''}Geen treinen tussen {a} en {b}"
    if rng.random() < 0.05:
        title = f"  {title} "  # the cleaner trims it
    codes = rng.sample(SEED_CODES, rng.randint(0, 2))
    codes += rng.sample(OTHER_CODES, rng.randint(1 if not codes else 0, 1))
    rec: dict = {
        "id": rid,
        "type": rng.choice(TYPES),
        "title": title,
        "description": f"Door {rng.choice(CAUSES)} rijden er minder treinen.",
        "isActive": rng.random() < 0.7,
        "topic": f"{a} - {b}",
        "priority": rng.choice(("HIGH", "NORMAL", "LOW")),
        "registrationTime": _ts(start - dt.timedelta(minutes=rng.randrange(1, 30))),
        "start": _ts(start),
        "phase": {"id": str(rng.randint(1, 4)), "label": "Fase"},
        "impact": {"value": rng.randint(1, 5)},
        "section": {
            "stations": [_station(c, rng) for c in codes],
            "direction": rng.choice(("HEEN", "TERUG", "BEIDE")),
        },
    }
    if rng.random() >= 0.2:
        rec["end"] = _ts(start + dt.timedelta(minutes=rng.randrange(5, 600)))
    if rng.random() < 0.3:
        rec["timespans"] = [
            {
                "start": rec["start"],
                "situation": {
                    "label": "Er rijden minder treinen",
                    "stations": [
                        _station(c, rng)
                        for c in rng.sample(SEED_CODES + OTHER_CODES, rng.randint(1, 2))
                    ],
                },
                "cause": {"label": rng.choice(CAUSES), "type": "CAUSE"},
                "advices": ["Plan uw reis opnieuw."],
            }
        ]
    return rec


def iter_days(
    seed: int,
    sizes: tuple[int, ...] = SIZE_CYCLE,
    first: dt.datetime = BASE_DAY,
    updates: bool = True,
    prefix: str = "",
) -> Iterator[Day]:
    """The endless sequence of daily payloads ``seed`` selects.

    ``updates=False`` gives days whose ids never repeat across days (the
    history of the analytics lake, drained as one backfill file); ``prefix``
    keeps such ids apart from the daily ones.
    """
    rng = random.Random(seed)
    seen: list[str] = []
    next_id = 0
    for i in itertools.count():
        n = sizes[i % len(sizes)]
        run_ts = first + dt.timedelta(days=i)
        share = rng.uniform(0.3, 0.7) if seen and updates else 0.0
        n_falsy = 1 + n // 400
        n_dup = 1 + n // 300
        n_keyed = n - n_falsy - n_dup
        n_upd = min(round(n_keyed * share), len(seen))
        ids = rng.sample(seen, n_upd)
        for _ in range(n_keyed - n_upd):
            ids.append(f"{prefix}{7_000_000 + seed % 1000 * 100_000 + next_id}")
            next_id += 1
        seen_set = set(seen)
        records = [
            _record(rid, run_ts, rng, rev=int(rid in seen_set)) for rid in ids
        ]
        for j in range(n_dup):
            twin = dict(rng.choice(records))
            twin["description"] = f"Aanvulling {j}: {twin['description']}"
            records.append(twin)
        for j in range(n_falsy):
            bad = _record("x", run_ts, rng, rev=0)
            if j % 3 == 0:
                bad["id"] = None
            elif j % 3 == 1:
                bad["id"] = ""
            else:
                del bad["id"]
            records.append(bad)
        rng.shuffle(records)
        seen.extend(rid for rid in ids if rid not in seen_set)
        payload = json.dumps(records, ensure_ascii=False, indent=1).encode("utf-8")
        yield Day(i, run_ts, records, n_falsy, n_dup, share, payload)


def generate_days(seed: int, n_days: int) -> list[Day]:
    """The first ``n_days`` payloads of the sequence ``seed`` selects."""
    return list(itertools.islice(iter_days(seed), n_days))


def write_days(days: list[Day], out_dir: str) -> list[str]:
    """Write each day's payload to ``out_dir/day_NNN.json``."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    for d in days:
        path = os.path.join(out_dir, f"day_{d.index:03d}.json")
        with open(path, "wb") as fh:
            fh.write(d.payload)
        paths.append(path)
    return paths


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--days", type=int, default=4)
    args = ap.parse_args()
    for path in write_days(generate_days(args.seed, args.days), args.out):
        print(path)


if __name__ == "__main__":
    main()

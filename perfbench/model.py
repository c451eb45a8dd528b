"""Pure-Python model of the lake that daily runs over generated payloads build.

The model states the pipeline's contract independently of Spark:

- raw zone, insert-ignore: the first run that sees a key keeps its record;
  among in-batch copies of a new key the greatest ``raw_json`` string wins,
  and ``raw_json`` is the record as ``json.dumps(rec, ensure_ascii=False)``;
- clean zone, latest-wins: every run replaces the rows of the keys it
  carries, stamping ``updated_at`` with the run's timestamp;
- records whose id is falsy never reach either zone.

The checks compare the lake the program built against this model.
"""

from __future__ import annotations

import datetime as dt
import json
from collections import Counter
from dataclasses import dataclass, field

from gen import TS_FORMAT

#: Mirror of ``functions.cleaning.TYPE_MAPPING`` (applied after lower()).
TYPE_MAPPING = {
    "verstoring": "disruption",
    "werkzaamheden": "maintenance",
    "calamiteit": "calamity",
    "storing": "disruption",
}


def clean_title(title: str | None) -> str | None:
    """The cleaner's title rule: trim spaces, NULL when shorter than 5."""
    if title is None:
        return None
    trimmed = title.strip(" ")
    return None if len(trimmed) < 5 else trimmed


def clean_type(t: str | None) -> str | None:
    if t is None:
        return None
    low = t.lower()
    return TYPE_MAPPING.get(low, low)


def start_date(rec: dict) -> dt.date | None:
    s = rec.get("start")
    if not s:
        return None
    return dt.datetime.strptime(s, TS_FORMAT).astimezone(dt.timezone.utc).date()


@dataclass
class RunExpectation:
    """What one ``run()`` must report and touch."""

    raw_total: int
    clean_total: int
    daily_stats_total: int
    keys_in_batch: int
    keys_inserted_raw: int
    dates_touched: int
    report: dict


@dataclass
class LakeModel:
    raw: dict[str, str] = field(default_factory=dict)
    clean: dict[str, tuple[str | None, dt.datetime, str | None, dt.date | None]] = field(
        default_factory=dict
    )

    def apply(self, records: list[dict], run_ts: dt.datetime) -> RunExpectation:
        batch: dict[str, list[dict]] = {}
        for rec in records:
            rid = rec.get("id")
            if rid in (None, ""):
                continue
            batch.setdefault(str(rid), []).append(rec)
        inserted = 0
        for rid, copies in batch.items():
            if rid not in self.raw:
                self.raw[rid] = max(json.dumps(r, ensure_ascii=False) for r in copies)
                inserted += 1
            rec = copies[0]
            self.clean[rid] = (
                clean_title(rec.get("title")),
                run_ts,
                clean_type(rec.get("type")),
                start_date(rec),
            )
        types = Counter(self.clean[rid][2] for rid in batch)
        dates = {d for (_, _, _, d) in self.clean.values() if d is not None}
        touched = {self.clean[rid][3] for rid in batch} - {None}
        return RunExpectation(
            raw_total=len(self.raw),
            clean_total=len(self.clean),
            daily_stats_total=len(dates),
            keys_in_batch=len(batch),
            keys_inserted_raw=inserted,
            dates_touched=len(touched),
            report={
                "total_records": len(batch),
                "disruptions": types["disruption"],
                "maintenance": types["maintenance"],
                "calamities": types["calamity"],
            },
        )

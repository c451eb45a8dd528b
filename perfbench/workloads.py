"""The benchmark's workloads.

Each workload has a set-up (untimed by the op clock, reported as
``setup_s``), an operation the loop times back to back with one caller,
an untimed check after every operation and at the end, and the
per-layer spans a traced run records.

- ``daily_small``: consecutive daily ``SparkETLPipeline.run`` calls, with
  artifacts, into a lake that starts empty; 125-2,000 records per day.
  Fixed per-run overhead is almost the whole cost here.
- ``analytics``: Q1-Q6 plus ``run_report`` over a lake that one
  ``start_incremental_load(available_now=True)`` drain builds in set-up from
  a seeded archive: a backfill file of 14 days at 125 records a day.
  Read-only; it reads the layout the write path leaves, and the drain is the
  only caller of ``streaming.incremental``.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import os
import statistics

import gen
from checks import check_analytics, check_lake, check_run_stats, log
from model import LakeModel
from sysmon import count_files, dir_bytes

#: Days of history in the analytics archive's backfill file, at the
#: reference's 125 records a day.  One file is one micro-batch; each costs
#: several seconds, and a run must fit the benchmark's time budget.
HISTORY_DAYS = 14
HISTORY_PER_DAY = 125


def lake_files(lake: str) -> int:
    """Parquet files of the two zones the rail queries read."""
    return count_files(f"{lake}/disruptions", ".parquet") + count_files(
        f"{lake}/stations", ".parquet"
    )


class DailySmall:
    name = "daily_small"

    def __init__(self, ctx):
        self.ctx = ctx
        self.days = gen.iter_days(ctx.seed)
        self.model = LakeModel()
        self.payload_sizes: list[int] = []
        self.exps = []
        self.cleaning: list[tuple[int, int, int]] = []

    def setup(self) -> None:
        from nl_railtraffic_etl_pipeline_spark.pipeline import SparkETLPipeline

        self.pipe = SparkETLPipeline(self.ctx.spark, self.ctx.lake)

    def prepare(self, i: int):
        """Untimed: the next day's payload file, ready before its run."""
        day = next(self.days)
        path = gen.write_days([day], self.ctx.path("payloads"))[0]
        self.payload_sizes.append(len(day.payload))
        return day, path

    def op(self, prepared):
        day, path = prepared
        return self.pipe.run(path, day.run_ts)

    def check_op(self, prepared, stats) -> list[str]:
        day, path = prepared
        exp = self.model.apply(day.records, day.run_ts)
        self.exps.append((day, exp))
        bad = check_run_stats(stats, exp)
        if self.ctx.traced:
            # rows the source hands the cleaner, and rows the cleaner emits
            raw = self.pipe.extract(path)
            rows_in, rows_out = raw.count(), self.pipe.transform(raw, day.run_ts).count()
            rejected = len(day.records) - rows_out
            self.cleaning.append((rows_in, rows_out, rejected))
            if (rows_in, rows_out, rejected) != (
                len(day.records) - day.n_falsy, len(day.records) - day.n_falsy, day.n_falsy
            ):
                bad.append(f"cleaning counts {(rows_in, rows_out, rejected)} disagree "
                           f"with the generator's {len(day.records)} records, "
                           f"{day.n_falsy} falsy ids")
        return bad

    def check_end(self) -> list[str]:
        return check_lake(self.ctx.spark, self.ctx.lake, self.model)

    def storage_amp(self) -> float:
        return dir_bytes(self.ctx.lake) / sum(self.payload_sizes)

    def layer_counts(self) -> dict[str, float]:
        """Count metrics that need no Spark job: from the model and stats."""
        warm = self.exps[1:] or self.exps
        med = statistics.median
        out = {
            "lake.files": lake_files(self.ctx.lake),
            "operators.upsert.useful_ratio": med(
                [e.keys_in_batch / e.clean_total for _, e in warm]
            ),
            "operators.insert_ignore.useful_ratio": med(
                [e.keys_inserted_raw / e.raw_total for _, e in warm]
            ),
            "operators.daily_stats.useful_ratio": med(
                [e.dates_touched / e.daily_stats_total for _, e in warm]
            ),
        }
        warm_cleaning = self.cleaning[1:] or self.cleaning
        if warm_cleaning:
            for k, name in enumerate(("rows_in", "rows_out", "rejected")):
                out[f"cleaning.{name}"] = med([c[k] for c in warm_cleaning])
        return out


class Analytics:
    name = "analytics"

    def __init__(self, ctx):
        self.ctx = ctx
        self.model = LakeModel()
        self.stream_progress: list[dict] = []
        self.results: dict[str, list] = {}

    def setup(self) -> None:
        from nl_railtraffic_etl_pipeline_spark.operators.rollup import build_daily_stats
        from nl_railtraffic_etl_pipeline_spark.pipeline import SparkETLPipeline
        from nl_railtraffic_etl_pipeline_spark.streaming.incremental import (
            start_incremental_load,
        )

        spark, lake, seed = self.ctx.spark, self.ctx.lake, self.ctx.seed
        first = gen.BASE_DAY - dt.timedelta(days=HISTORY_DAYS)
        history = itertools.islice(
            gen.iter_days(seed + 1, (HISTORY_PER_DAY,), first, updates=False, prefix="h"),
            HISTORY_DAYS,
        )
        backfill = [r for d in history for r in d.records]
        path = os.path.join(self.ctx.path("archive"), "backfill.json")
        with open(path, "w", encoding="utf-8") as fh:
            json.dump(backfill, fh, ensure_ascii=False, indent=1)
        self.payload_bytes = os.path.getsize(path)
        log("set-up: archive written")

        stream_ts = gen.BASE_DAY
        query = start_incremental_load(
            spark, self.ctx.path("archive"), lake, self.ctx.path("checkpoint"), run_ts=stream_ts
        )
        query.awaitTermination()
        if query.exception() is not None:
            raise RuntimeError(f"stream drain failed: {query.exception()}")
        self.stream_progress = [p for p in query.recentProgress if p.get("numInputRows")]
        self.model.apply(backfill, stream_ts)
        log("set-up: archive drained")

        pipe = SparkETLPipeline(spark, lake)
        pipe.ensure_stations(stream_ts)
        build_daily_stats(spark.read.parquet(f"{lake}/disruptions"), stream_ts).write.parquet(
            f"{lake}/daily_stats"
        )
        self.as_of = stream_ts.date()
        log("set-up: stations and daily_stats written")

    def queries(self):
        from nl_railtraffic_etl_pipeline_spark.operators import rollup
        from nl_railtraffic_etl_pipeline_spark.plans import rail_queries as rq

        spark, lake = self.ctx.spark, self.ctx.lake
        dis = spark.read.parquet(f"{lake}/disruptions")
        st = spark.read.parquet(f"{lake}/stations")
        return [
            ("rail_q1_rolling_trend", "q1", lambda: rq.rolling_trend(dis)),
            ("rail_q2_station_severity", "q2", lambda: rq.station_severity(dis, st)),
            ("rail_q3_day_over_day", "q3", lambda: rq.day_over_day(dis)),
            ("rail_q4_peak_hours", "q4", lambda: rq.peak_hours(dis)),
            ("rail_q5_complex_analytics", "q5", lambda: rq.complex_analytics(dis)),
            ("rail_q6_overlapping", "q6", lambda: rq.overlapping_disruptions(dis)),
            ("report", "report", lambda: rollup.run_report(dis, self.as_of)),
        ]

    def prepare(self, i: int):
        return i

    def op(self, i: int) -> None:
        """One pass of Q1-Q6 and the report.

        Warm passes write each result to the ``noop`` sink.  The cold pass
        collects instead, so the end check compares those rows without
        running the queries again; the largest result is a few hundred
        rows, so the sink costs the same within noise.
        """
        rec = self.ctx.recorder
        for name, short, build in self.queries():
            span = rec.open(f"rail.{short}") if self.ctx.traced else None
            df = build()
            if i == 0:
                self.results[name] = df.collect()
            else:
                df.write.format("noop").mode("overwrite").save()
            if span is not None:
                rec.close(span)

    def check_op(self, prepared, result) -> list[str]:
        return []

    def check_end(self) -> list[str]:
        spark, lake = self.ctx.spark, self.ctx.lake
        bad = check_lake(spark, lake, self.model, raw_verbatim=False)
        log("check: lake against the model")
        results = {k: v for k, v in self.results.items() if k != "report"}
        return bad + check_analytics(spark, lake, results)

    def storage_amp(self) -> float:
        stored = dir_bytes(self.ctx.lake) + dir_bytes(self.ctx.path("archive"))
        return stored / self.payload_bytes

    def layer_counts(self) -> dict[str, float]:
        prog = self.stream_progress
        dur = lambda p, k: p["durationMs"].get(k, 0) / 1e3  # noqa: E731
        med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
        return {
            "lake.files": lake_files(self.ctx.lake),
            "streaming.batches": len(prog),
            "streaming.batch_p50_s": med([dur(p, "triggerExecution") for p in prog]),
            "streaming.add_batch_s": med([dur(p, "addBatch") for p in prog]),
            "streaming.framework_s": med(
                [dur(p, "triggerExecution") - dur(p, "addBatch") for p in prog]
            ),
        }


WORKLOADS = {w.name: w for w in (DailySmall, Analytics)}

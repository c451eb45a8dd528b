"""Output checks.  They run outside every timed region.

Each returns a list of mismatch descriptions; an empty list is a pass.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math
import sys
import time

from model import LakeModel, RunExpectation

_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress and notes on standard error, stamped with seconds since start."""
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}] {msg}", file=sys.stderr, flush=True)


def check_run_stats(stats: dict, exp: RunExpectation) -> list[str]:
    """The totals ``SparkETLPipeline.run`` returns against the model's."""
    bad = []
    for key in ("raw_total", "clean_total", "daily_stats_total"):
        if stats.get(key) != getattr(exp, key):
            bad.append(f"run stats {key}: got {stats.get(key)}, want {getattr(exp, key)}")
    report = stats.get("report") or {}
    for key, want in exp.report.items():
        if report.get(key) != want:
            bad.append(f"run report {key}: got {report.get(key)}, want {want}")
    return bad


def _utc(ts: dt.datetime) -> dt.datetime:
    return ts.astimezone(dt.timezone.utc).replace(tzinfo=None)


def check_lake(spark, lake: str, model: LakeModel, raw_verbatim: bool = True) -> list[str]:
    """The lake's raw and clean zones against the model, key by key.

    ``raw_verbatim=False`` skips the byte comparison of ``raw_json``: the
    streaming path stores a re-serialised record, by design.
    """
    bad = []
    raw = {
        r["disruption_id"]: r["raw_json"]
        for r in spark.read.parquet(f"{lake}/raw_disruptions")
        .select("disruption_id", "raw_json")
        .collect()
    }
    clean = {
        r["disruption_id"]: (r["title"], r["updated_at"])
        for r in spark.read.parquet(f"{lake}/disruptions")
        .select("disruption_id", "title", "updated_at")
        .collect()
    }
    if set(raw) != set(model.raw):
        bad.append(f"raw zone keys differ: {len(set(raw) ^ set(model.raw))} keys")
    if set(clean) != set(model.clean):
        bad.append(f"clean zone keys differ: {len(set(clean) ^ set(model.clean))} keys")
    n_json = n_title = n_ts = 0
    for k, want in model.raw.items():
        n_json += raw_verbatim and k in raw and raw[k] != want
    for k, (want_title, want_ts, _, _) in model.clean.items():
        if k in clean:
            title, updated = clean[k]
            n_title += title != want_title
            n_ts += updated != _utc(want_ts)
    for what, n in (("raw_json", n_json), ("title", n_title), ("updated_at", n_ts)):
        if n:
            bad.append(f"{n} keys with a wrong {what}")
    return bad


def _norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, decimal.Decimal):
        return float(f"{float(v):.9g}")
    if isinstance(v, dt.datetime):
        return _utc(v) if v.tzinfo else v
    return v


def _rows(rows) -> list[tuple]:
    return sorted(
        (tuple(_norm(v) for v in r) for r in rows),
        key=lambda t: tuple((x is None, str(type(x)), x if x is not None else 0) for x in t),
    )


def same_rows(a, b) -> bool:
    return _rows(a) == _rows(b)


def _decimals(x: float) -> int:
    text = repr(x)
    return len(text.split(".")[1]) if "." in text and "e" not in text else 0


def last_place_diffs(a, b) -> int | None:
    """Values that differ by one unit in their last decimal, or None.

    None when the row sets differ in any other way.  Spark's ``ROUND``
    rounds the shortest decimal form of a double half-up, DuckDB rounds its
    binary value, so a mean that lands exactly on a half boundary (whole
    minutes over 40 rows: 4705.775) rounds to neighbouring values
    (the registry's docstring describes the same divergence).
    """
    ra, rb = _rows(a), _rows(b)
    if len(ra) != len(rb):
        return None
    n = 0
    for x, y in zip(ra, rb):
        for u, v in zip(x, y):
            if u == v:
                continue
            if not (isinstance(u, float) and isinstance(v, float)):
                return None
            unit = 10.0 ** -max(_decimals(u), _decimals(v))
            if abs(u - v) > unit * (1 + 1e-9):
                return None
            n += 1
    return n


def oracle_sql(name: str) -> str:
    """Q1-Q6's DuckDB oracle body, after the registry's synthetic prelude."""
    from nl_railtraffic_etl_pipeline_spark.plans.registry import ORACLES
    from nl_railtraffic_etl_pipeline_spark.plans.testdata import rail_oracle_prelude

    sql = ORACLES[name]
    for with_stations in (True, False):
        prelude = rail_oracle_prelude(with_stations=with_stations)
        if sql.startswith(prelude):
            body = sql[len(prelude):].lstrip()
            return "WITH " + body.lstrip(",").lstrip() if body.startswith(",") else body
    raise ValueError(f"{name}: oracle does not start with the rail prelude")


def check_analytics(spark, lake: str, results: dict[str, list]) -> list[str]:
    """Q1-Q6's rows against their DuckDB oracles and their SQL text twins."""
    from concurrent.futures import ThreadPoolExecutor

    import duckdb
    from nl_railtraffic_etl_pipeline_spark.plans.sql_queries import (
        SQL_QUERIES,
        register_warehouse_views,
    )

    register_warehouse_views(spark, lake_path=lake)
    # untimed, but the run's wall-clock budget is not: collect concurrently
    with ThreadPoolExecutor(max_workers=4) as pool:
        twins = {n: pool.submit(spark.sql(SQL_QUERIES[n]).collect) for n in results}
        twin_rows = {n: f.result() for n, f in twins.items()}
    bad = []
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        for zone in ("disruptions", "stations"):
            con.execute(
                f"CREATE VIEW {zone} AS SELECT * FROM read_parquet('{lake}/{zone}/*.parquet')"
            )
        for name, got in results.items():
            want = con.execute(oracle_sql(name)).fetchall()
            if same_rows(got, want):
                continue
            n = last_place_diffs(got, want)
            if n is None:
                bad.append(f"{name}: {len(got)} rows differ from the DuckDB oracle ({len(want)})")
            else:
                log(f"note: {name}: {n} rounded values differ from the DuckDB oracle "
                    "by one unit in their last decimal (ROUND at a half boundary)")
    finally:
        con.close()
    for name, got in results.items():
        twin = twin_rows[name]
        if not same_rows(got, twin):
            bad.append(f"{name}: {len(got)} rows differ from its SQL text ({len(twin)})")
    return bad

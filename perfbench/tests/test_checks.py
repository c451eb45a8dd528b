"""The output comparators, without Spark."""

import datetime as dt

from checks import last_place_diffs, oracle_sql, same_rows


def test_rows_compare_as_unordered_sets_with_utc_times():
    aware = dt.datetime(2026, 3, 2, 7, 0, tzinfo=dt.timezone(dt.timedelta(hours=1)))
    assert same_rows([(1, aware), (2, None)], [(2, None), (1, dt.datetime(2026, 3, 2, 6, 0))])
    assert not same_rows([(1, 0.5)], [(1, 0.25)])


def test_last_place_diffs_accepts_only_neighbouring_roundings():
    assert last_place_diffs([("a", 4705.78)], [("a", 4705.77)]) == 1
    assert last_place_diffs([("a", 4705.79)], [("a", 4705.77)]) is None
    assert last_place_diffs([("a", 1.5)], [("b", 1.5)]) is None
    assert last_place_diffs([("a", 1.5)], []) is None


def test_oracle_bodies_drop_the_synthetic_prelude():
    for n in ("rail_q1_rolling_trend", "rail_q2_station_severity", "rail_q3_day_over_day",
              "rail_q4_peak_hours", "rail_q5_complex_analytics", "rail_q6_overlapping"):
        sql = oracle_sql(n)
        assert sql.lstrip().upper().startswith(("WITH", "SELECT")), n
        assert "FROM nation" not in sql and "disruptions AS (" not in sql, n

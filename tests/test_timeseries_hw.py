"""Holt-Winters seasonal fold vs brute-force Python (trunc division,
negative trends/seasonals exercised)."""

from __future__ import annotations

import random

from pyspark.sql import Row

from logging_spark.operators.timeseries import holt_winters_fold


def _tdiv(x, y):
    q = abs(x) // abs(y)
    return q if (x >= 0) == (y >= 0) else -q


def _brute(xs, m, a=300, b=100, g=200):
    if len(xs) < 2 * m:
        return None
    s1, s2 = sum(xs[:m]), sum(xs[m:2 * m])
    lv = _tdiv(s1 * 1000, m)
    tr = _tdiv((s2 - s1) * 1000, m * m)
    sbuf = [x * 1000 - lv for x in xs[:m]]
    for x in xs[m:]:
        sh = sbuf[0]
        ln = _tdiv(a * (x * 1000 - sh) + (1000 - a) * (lv + tr), 1000)
        tn = _tdiv(b * (ln - lv) + (1000 - b) * tr, 1000)
        sn = _tdiv(g * (x * 1000 - ln) + (1000 - g) * sh, 1000)
        sbuf = sbuf[1:] + [sn]
        lv, tr = ln, tn
    return (len(xs), lv, tr, sbuf[0], lv + tr + sbuf[0])


def test_holt_winters_matches_brute_force(spark):
    rnd = random.Random(9)
    rows, series = [], {}
    for k in range(4):
        n = rnd.randint(14, 40)
        xs = [rnd.randint(-20, 120) + (30 if (t % 7) in (0, 6) else 0)
              for t in range(n)]
        series[f"k{k}"] = xs
        rows += [Row(key=f"k{k}", o=t, v=x) for t, x in enumerate(xs)]
    rows += [Row(key="short", o=t, v=t) for t in range(10)]
    got = {r["key"]: (r["n_points"], r["level_x1000"], r["trend_x1000"],
                      r["season_next_x1000"], r["forecast_x1000"])
           for r in holt_winters_fold(
               spark.createDataFrame(rows), "key", "o", "v",
               period=7).collect()}
    assert "short" not in got  # < 2m points: no seasonal init
    for k, xs in series.items():
        assert got[k] == _brute(xs, 7), k


def test_holt_winters_tracks_planted_seasonality(spark):
    # pure season + linear trend: forecast for the next period should
    # sit near trend-extrapolated level + that period's offset
    season = [0, 50, 100, 50, 0, -50, -100]
    xs = [1000 + 5 * t + season[t % 7] for t in range(35)]
    rows = [Row(key="s", o=t, v=x) for t, x in enumerate(xs)]
    r = holt_winters_fold(spark.createDataFrame(rows), "key", "o", "v",
                          period=7).collect()[0]
    want = (1000 + 5 * 35 + season[35 % 7]) * 1000
    assert abs(r["forecast_x1000"] - want) < 30_000  # within 30 units


def test_holt_winters_fold_evaluated_once(spark):
    """The optimized plan evaluates the fold once, in an inner Project;
    the outer Project only reads fields of that struct (collapsing the
    two would re-run the interpreted fold once per output column)."""
    rows = [Row(key=f"k{k}", o=t, v=t % 7) for k in range(2) for t in range(20)]
    plan = holt_winters_fold(spark.createDataFrame(rows), "key", "o", "v",
                             period=7)._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "Project"
    assert "aggregate(" not in plan.simpleString(10000)
    assert "aggregate(" in plan.child().simpleString(10000)

"""Split-conformal threshold + coverage audit (operators/mleval.py):
exact integer order statistic vs brute-force Python."""

from __future__ import annotations

import math
import random

from pyspark.sql import Row

from logging_spark.operators.mleval import (conformal_audit,
                                            conformal_threshold)


def test_conformal_threshold_matches_brute_force(spark):
    rnd = random.Random(3)
    rows = [Row(g=f"g{i % 3}", s=rnd.randint(0, 10**6)) for i in range(500)]
    df = spark.createDataFrame(rows)
    got = {r["g"]: (r["n_cal"], r["k"], r["q_hat"])
           for r in conformal_threshold(df, "s", ["g"],
                                        alpha_ppm=100_000).collect()}
    for g in ("g0", "g1", "g2"):
        ss = sorted(r.s for r in rows if r.g == g)
        n = len(ss)
        k = math.ceil((n + 1) * 0.9)
        assert got[g] == (n, k, ss[k - 1] if k <= n else None), g


def test_conformal_small_group_yields_null(spark):
    tiny = spark.createDataFrame([Row(g="t", s=5), Row(g="t", s=9)])
    r = conformal_threshold(tiny, "s", ["g"], alpha_ppm=100_000).collect()[0]
    assert r["k"] == 3 and r["q_hat"] is None  # alpha too small for n=2


def test_conformal_audit_coverage(spark):
    rnd = random.Random(4)
    cal = [Row(g=f"g{i % 2}", s=rnd.randint(0, 10**6)) for i in range(400)]
    tst = [Row(g=f"g{i % 2}", s=rnd.randint(0, 10**6)) for i in range(200)]
    aud = {r["g"]: r for r in conformal_audit(
        spark.createDataFrame(cal), spark.createDataFrame(tst),
        "s", ["g"]).collect()}
    thr = {r["g"]: r["q_hat"] for r in conformal_threshold(
        spark.createDataFrame(cal), "s", ["g"]).collect()}
    for g in ("g0", "g1"):
        mine = [r.s for r in tst if r.g == g]
        cov = sum(1 for s in mine if s <= thr[g]) * 10**6 // len(mine)
        assert aud[g]["coverage_ppm"] == cov
        assert aud[g]["target_ppm"] == 900_000
        # distribution-free guarantee holds easily on iid uniforms
        assert aud[g]["coverage_ppm"] >= 830_000


def test_conformal_global_no_by(spark):
    rows = [Row(s=i) for i in range(1, 101)]
    r = conformal_threshold(spark.createDataFrame(rows), "s",
                            alpha_ppm=500_000).collect()
    assert len(r) == 1
    # k = ceil(101 * 0.5) = 51 -> 51st smallest of 1..100 is 51
    assert (r[0]["n_cal"], r[0]["k"], r[0]["q_hat"]) == (100, 51, 51)


def test_conformal_global_small_n_yields_null_row(spark):
    """No-by path with k > n must still return its single summary row
    (NULL q_hat), not an empty frame."""
    from pyspark.sql import Row
    tiny = spark.createDataFrame([Row(s=5), Row(s=9)])
    r = conformal_threshold(tiny, "s", alpha_ppm=100_000).collect()
    assert len(r) == 1
    assert r[0]["n_cal"] == 2 and r[0]["k"] == 3 and r[0]["q_hat"] is None


def test_ess_audit_brute_force(spark):
    """Kish ESS exact vs Python (uniform weights -> ESS == n; one
    dominant weight -> ESS near 1)."""
    from pyspark.sql import Row

    from logging_spark.operators.importance import ess_audit

    uni = spark.createDataFrame([Row(g="u", w=5) for _ in range(40)])
    r = {x["g"]: x for x in ess_audit(uni, "w", ["g"]).collect()}
    assert r["u"]["ess_x100"] == 4000 and r["u"]["ess_ratio_ppm"] == 1_000_000

    skew = spark.createDataFrame(
        [Row(g="s", w=1_000_000)] + [Row(g="s", w=1) for _ in range(99)])
    x = ess_audit(skew, "w", ["g"]).collect()[0]
    s1 = 1_000_000 + 99
    s2 = 1_000_000**2 + 99
    assert x["ess_x100"] == (s1 * s1 * 100) // s2
    assert x["ess_x100"] < 200  # effectively one document


def test_dq_conformal_coverage_small_source_matches_oracle(spark, tmp_path):
    """A source with fewer than 9 calibration rows (k > n_cal at alpha
    = 0.1) keeps its row with NULL q_hat and NULL coverage in both the
    contract query and its DuckDB oracle."""
    import duckdb
    import pandas as pd

    from logging_spark import contract

    docs = pd.DataFrame(
        [(i, "t", "en", "big", 10 + (i * 37) % 50) for i in range(40)]
        + [(100 + i, "t", "en", "tiny", 5 + i) for i in range(10)],
        columns=["doc_id", "text", "lang", "source", "n_chars"])
    docs.to_parquet(tmp_path / "documents.parquet")
    cols = ["source", "n_cal", "k", "q_hat", "n_test", "coverage_ppm", "target_ppm"]
    got = {r["source"]: tuple(r[c] for c in cols) for r in
           contract.build_queries()["dq_conformal_coverage"](spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    want = {r[0]: r for r in con.execute(
        f"SELECT {', '.join(cols)} FROM ({contract.build_oracles()['dq_conformal_coverage']})"
    ).fetchall()}
    con.close()
    assert got == want
    assert got["tiny"][:4] == ("tiny", 5, 6, None) and got["tiny"][5] is None

"""Token-bucket admission control as a batch fold.

"What would a per-key rate limit of R tokens/s with burst B have
admitted?" — the capacity-planning / abuse-analysis replay of the
classic limiter. Pure integer fixed point: the bucket holds
micro-tokens (x1e6), refill per event is
``(delta_us * rate_x1e6_per_s) DIV 1e6`` (truncating — mirrored in
the oracle), capped at ``burst * 1e6``; an event is admitted iff the
bucket holds a full token, which it then spends.

Same shape as cusum_fold/holt_fold: ONE shuffle collects each key's
(us-ordered) series into a row, then a pure-JVM ``aggregate()`` fold
— no Python, no window, and the recurrence is integer arithmetic so
the DuckDB recursive-CTE oracle matches bit-for-bit. A key's series
must fit in a row (period-aggregate or shard upstream past ~1e6
events/key).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PPM = 1_000_000


def token_bucket_admit(df: DataFrame, key: str, us_col: str,
                       tiebreak_col: str, rate_x1e6_per_s: int,
                       burst: int) -> DataFrame:
    """Per-key admission census: (key, n_events, n_admitted,
    n_dropped). burst >= 1 (the first event always admits)."""
    if burst < 1:
        raise ValueError("burst must be >= 1")
    cap = burst * PPM
    pts = (df.groupBy(key)
           .agg(F.expr(
               f"transform(array_sort(collect_list(struct("
               f"CAST({us_col} AS BIGINT) AS u, "
               f"CAST({tiebreak_col} AS BIGINT) AS tb))), p -> p.u)")
               .alias("_us")))
    fold = (
        f"aggregate(slice(_us, 2, size(_us) - 1), "
        f"named_struct("
        f"'tok', CAST({cap - PPM} AS BIGINT), "
        f"'last', _us[0], 'adm', 1L), "
        f"(acc, x) -> named_struct("
        f"'tok', IF(least({cap}L, acc.tok + ((x - acc.last) * "
        f"{rate_x1e6_per_s}L) DIV {PPM}L) >= {PPM}L, "
        f"least({cap}L, acc.tok + ((x - acc.last) * "
        f"{rate_x1e6_per_s}L) DIV {PPM}L) - {PPM}L, "
        f"least({cap}L, acc.tok + ((x - acc.last) * "
        f"{rate_x1e6_per_s}L) DIV {PPM}L)), "
        f"'last', x, "
        f"'adm', acc.adm + IF(least({cap}L, acc.tok + "
        f"((x - acc.last) * {rate_x1e6_per_s}L) DIV {PPM}L) "
        f">= {PPM}L, 1L, 0L)))")
    return (pts.where(F.size("_us") > 0)
            .select(F.col(key),
                    F.size("_us").cast("long").alias("n_events"),
                    F.expr(f"CAST({fold}.adm AS BIGINT)")
                    .alias("n_admitted"))
            .withColumn("n_dropped",
                        (F.col("n_events") - F.col("n_admitted"))
                        .cast("long")))

"""Enrichment: left join of turns against the metadata dimension, with
default-on-miss coalescing.

Reference semantics: pods supply {namespace, pod, node, service,
ips[]} metadata keyed by label selector (pkg/api/pod.go:37-62,
pkg/service/service.go:180-201); a missing Filter/metadata object
falls back to defaults rather than dropping the row
(pkg/service/service.go:130-144, pkg/api/server.go:100-108).

Scale: the dimension is small relative to the fact table (pods vs
log lines; lookup pairs vs 10^12 turns). The session's
`spark.sql.autoBroadcastJoinThreshold` (session.py) and AQE pick the
join from the dim's size statistics: a dim under the threshold
broadcasts and the fact side is not shuffled. At 10^12-turn scale with
~10^9 conversations the dim outgrows it and the join shuffles, without
the caller knowing the size. Either way the join stays an equi-join on
(conv_id, tool).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULTS = {
    "namespace": "default",
    "pod_name": "unknown",
    "node_name": "unknown",
    "service_name": "unknown",
}


def enrich(turns: DataFrame, lookup: DataFrame) -> DataFrame:
    """Left-join metadata on (conv_id, tool); null-tool rows (the
    missing-`app`-label analog, pod.go:32-35) never match and keep
    defaults. Dimension-side columns are pruned to what we attach.
    Building the plan runs no Spark job; the planner picks the join
    strategy (see Scale in the module docstring)."""
    dim = lookup.select("conv_id", "tool", "namespace", "pod_name",
                        "node_name", "service_name")
    joined = turns.join(dim, on=["conv_id", "tool"], how="left")
    for col, default in DEFAULTS.items():
        joined = joined.withColumn(col, F.coalesce(F.col(col), F.lit(default)))
    return joined

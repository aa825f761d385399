"""Enrichment: broadcast left join of turns against the metadata
dimension, with default-on-miss coalescing.

Reference semantics: pods supply {namespace, pod, node, service,
ips[]} metadata keyed by label selector (pkg/api/pod.go:37-62,
pkg/service/service.go:180-201); a missing Filter/metadata object
falls back to defaults rather than dropping the row
(pkg/service/service.go:130-144, pkg/api/server.go:100-108).

Scale: the dimension is small relative to the fact table (pods vs
log lines; lookup pairs vs 10^12 turns) -> F.broadcast, no shuffle
of the fact side. If the dimension ever outgrows broadcast range,
drop the hint and let AQE pick; the join stays an equi-join on
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


AUTO_BROADCAST_MAX_ROWS = 5_000_000  # ~500 MB of dim rows; beyond this
# a forced broadcast evicts executor memory and the shuffle join wins

# broadcast decision cache: (applicationId, dim plan's semanticHash) ->
# row count. A pipeline run (and the bench loop) calls enrich with the
# SAME dimension plan many times; without this each call pays a full
# dim scan just to re-learn the size. Keyed on the SEMANTIC hash, so
# re-built-but-identical plans hit. Staleness (same plan, files grown
# underneath within one session) can only mis-pick the join strategy,
# never affect results.
_DIM_SIZE_CACHE: dict[tuple[str, int], int] = {}


def _dim_rows(dim: DataFrame) -> int:
    key = (dim.sparkSession.sparkContext.applicationId, dim.semanticHash())
    if key not in _DIM_SIZE_CACHE:
        _DIM_SIZE_CACHE[key] = dim.count()
    return _DIM_SIZE_CACHE[key]


def enrich(turns: DataFrame, lookup: DataFrame) -> DataFrame:
    """Left-join metadata on (conv_id, tool); null-tool rows (the
    missing-`app`-label analog, pod.go:32-35) never match and keep
    defaults. Dimension-side columns are pruned to what we attach.

    The dim is counted once PER SESSION (cached on the dim plan's
    semantic hash) and broadcast only when it fits under
    AUTO_BROADCAST_MAX_ROWS; otherwise Catalyst/AQE pick the join. At
    pod-inventory scale the dim always broadcasts; at 10^12-turn scale
    with ~10^9 conversations the dim side outgrows any executor and
    MUST shuffle, which this gets right without the caller knowing
    the size."""
    dim = lookup.select("conv_id", "tool", "namespace", "pod_name",
                        "node_name", "service_name")
    if _dim_rows(dim) <= AUTO_BROADCAST_MAX_ROWS:
        dim = F.broadcast(dim)
    joined = turns.join(dim, on=["conv_id", "tool"], how="left")
    for col, default in DEFAULTS.items():
        joined = joined.withColumn(col, F.coalesce(F.col(col), F.lit(default)))
    return joined

from logging_spark.operators.rules import Rule, load_rules  # noqa: F401
from logging_spark.operators.enrich import enrich  # noqa: F401
from logging_spark.operators.dedup import dedup_latest_wins  # noqa: F401
from logging_spark.operators.route import route  # noqa: F401
from logging_spark.operators.aggregate import per_sink_counts, per_sink_role_rollup  # noqa: F401

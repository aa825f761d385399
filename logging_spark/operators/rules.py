"""Rule-table compiler: rows of the rule table -> Catalyst predicates.

The rule language is exactly the reference's Filter contract —
regex/substring `expr` with `"*"` = match-all plus a `max_length`
truncation bound (reference pkg/apis/yamecloud/v1/filter_type.go:25-28,
defaults pkg/command/cmd.go:36-40 and pkg/service/service.go:130-144) —
extended with `role_filter` and the RUN/STOP `enabled` flag
(pkg/command/cmd.go:9-13). We deliberately do NOT invent a richer DSL.

The rule table is tiny (one row per sink); it is collected to the
driver once and compiled into Column predicates that Catalyst folds
into the scan stage — rules ride to executors inside the serialized
plan, the Spark analog of the reference's command broadcast
(pkg/utils/broadcask.go:5-48).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from logging_spark.schema import DEFAULT_MAX_LENGTH, MATCH_ALL_EXPR


@dataclass(frozen=True)
class Rule:
    sink_name: str
    expr: str = MATCH_ALL_EXPR
    max_length: int = DEFAULT_MAX_LENGTH
    role_filter: str | None = None
    enabled: bool = True

    def predicate(self, text: Column | str = "text", role: Column | str = "role") -> Column:
        """Compile to a Catalyst boolean Column. Disabled rules compile
        to constant-false, which Catalyst folds away entirely."""
        if not self.enabled:
            return F.lit(False)
        text = F.col(text) if isinstance(text, str) else text
        role = F.col(role) if isinstance(role, str) else role
        expr = self.expr if self.expr is not None else MATCH_ALL_EXPR
        pred = F.lit(True) if expr == MATCH_ALL_EXPR else text.rlike(expr)
        if self.role_filter:
            pred = pred & (role == F.lit(self.role_filter))
        return pred

    def truncate(self, text: Column | str = "text") -> Column:
        """max_length guard: truncation column (SURVEY P2). The default
        bound 1e9 means 'unbounded' (cmd.go:38); substring is a no-op
        then, and we skip it so codegen stays minimal."""
        text = F.col(text) if isinstance(text, str) else text
        n = self.max_length if self.max_length is not None else DEFAULT_MAX_LENGTH
        if n >= DEFAULT_MAX_LENGTH:
            return text
        return F.substring(text, 1, int(n))


def load_rules(rules_df: DataFrame) -> list[Rule]:
    """Collect the (small) rule table to driver Rule objects, applying
    the reference's default-on-missing semantics."""
    out = []
    for r in rules_df.collect():
        out.append(
            Rule(
                sink_name=r["sink_name"],
                expr=r["expr"] if r["expr"] is not None else MATCH_ALL_EXPR,
                max_length=r["max_length"] if r["max_length"] is not None else DEFAULT_MAX_LENGTH,
                role_filter=r["role_filter"],
                enabled=bool(r["enabled"]),
            )
        )
    return out


"""End-to-end: synth fixtures -> pipeline -> compare against the
pure-pandas oracle (per-sink exact counts, role rollups, and routed-row
text equality under stable (conv_id, turn_idx) ordering)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logging_spark import synth
from logging_spark.operators.rules import load_rules
from logging_spark.plans.job import ROUTED_TABLE, run_pipeline
from logging_spark.sources.catalog import Catalog

from tests import oracle


@pytest.fixture(scope="module")
def fixtures(spark):
    turns = synth.transcripts(spark, n_conversations=60, turns_per_conv=20,
                              hot_conversations=2, hot_factor=10)
    lookup = synth.lookup(spark, n_conversations=60)
    rules = synth.rules(spark)
    return turns, lookup, rules


@pytest.fixture(scope="module")
def run(spark, fixtures, tmp_path_factory):
    turns, lookup, rules = fixtures
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    res = run_pipeline(spark, turns, lookup, rules, cat, num_buckets=8)
    return cat, res, turns, rules


def _oracle_routed(turns_df, rules_df):
    pdf = turns_df.toPandas()
    rules = [(r["sink_name"], r["expr"], r["max_length"], r["role_filter"], r["enabled"])
             for r in rules_df.collect()]
    return oracle.route(oracle.dedup(pdf), rules)


def test_per_sink_counts_exact(run):
    cat, res, turns, rules = run
    got = res.per_sink_counts.orderBy("sink_name").toPandas()
    want = oracle.per_sink_counts(_oracle_routed(turns, rules))
    pd.testing.assert_frame_equal(
        got.reset_index(drop=True)[["sink_name", "n_rows", "n_distinct_conv"]],
        want[["sink_name", "n_rows", "n_distinct_conv"]],
        check_dtype=False,
    )


def test_role_rollup_exact(run):
    cat, res, turns, rules = run
    got = (res.role_rollup.orderBy("sink_name", "role").toPandas()
           .reset_index(drop=True))
    want = oracle.role_rollup(_oracle_routed(turns, rules))
    pd.testing.assert_frame_equal(
        got[["sink_name", "role", "n_turns"]], want, check_dtype=False
    )


def test_routed_text_equality_under_ordering(run):
    cat, res, turns, rules = run
    got = (
        cat.read(ROUTED_TABLE)
        .select("sink_name", "conv_id", "turn_idx", "text")
        .orderBy("sink_name", "conv_id", "turn_idx")
        .toPandas()
    )
    want = (
        _oracle_routed(turns, rules)[["sink_name", "conv_id", "turn_idx", "text"]]
        .sort_values(["sink_name", "conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want, check_dtype=False)


def _shuffles_and_broadcasts(node) -> tuple[int, int]:
    """(shuffle exchanges outside broadcast build sides, broadcast
    exchanges) in a physical plan tree. A build side is a few rows by
    construction; the shuffles that move the fact table are the rest."""
    name = node.nodeName()
    if name == "BroadcastExchange":
        return 0, 1
    if name == "AdaptiveSparkPlan":
        return _shuffles_and_broadcasts(node.executedPlan())
    shuffles, broadcasts = int(name == "Exchange"), 0
    kids = node.children()
    for i in range(kids.size()):
        s, b = _shuffles_and_broadcasts(kids.apply(i))
        shuffles, broadcasts = shuffles + s, broadcasts + b
    return shuffles, broadcasts


class RecordingCatalog(Catalog):
    written = None

    def overwrite_partitions(self, df, table, partition_cols):
        self.written = df
        super().overwrite_partitions(df, table, partition_cols)


def _resume_plan(spark, turns, fixtures, wh):
    """The executed plan of the routed frame a partial resume (bucket 0
    already done) hands to the sink write."""
    from logging_spark.sources import checkpoint as ckpt

    _, lookup, rules = fixtures
    cat = RecordingCatalog(spark, wh)
    ckpt.record_done(cat, pd.DataFrame([{
        "bucket": 0, "sink_name": "errors", "role": "assistant", "n_rows": 1,
        "parse_errors": 0, "n_distinct_conv": 1}]), "plan-1")
    res = run_pipeline(spark, turns, lookup, rules, cat, num_buckets=8,
                       input_snapshot="plan-1")
    assert res.buckets_skipped == 1
    return cat.written._jdf.queryExecution().executedPlan()


def test_single_write_path_plan(spark, fixtures, tmp_path):
    """The routed DataFrame handed to the sink write carries exactly
    one shuffle exchange — the dedup window — and one broadcast, the
    enrich join: skipping done buckets is a literal filter."""
    turns, _, _ = fixtures
    # scan committed files as the job does in production: one scan,
    # not the generator's union of branches
    turns.write.parquet(str(tmp_path / "turns"))
    turns = spark.read.parquet(str(tmp_path / "turns"))
    plan = _resume_plan(spark, turns, fixtures, str(tmp_path / "wh"))
    text = plan.toString()
    assert _shuffles_and_broadcasts(plan) == (1, 1), text
    assert "Exchange hashpartitioning(conv_id" in text, text


def test_generated_input_resume_plan_has_no_checkpoint_joins(spark, fixtures, tmp_path):
    """On the generator's union of branches the done-bucket filter is
    pushed into every branch; as a literal IN-list it adds no
    broadcast and no anti-join there (an anti-join against the
    checkpoint table planned one of each per branch)."""
    turns, _, _ = fixtures
    text = _resume_plan(spark, turns, fixtures, str(tmp_path / "wh")).toString()
    assert (text.count("BroadcastExchange"), text.count("LeftAnti")) == (1, 0), text


def test_enrich_defaults_on_miss(spark, fixtures):
    from logging_spark.operators.enrich import enrich

    turns, lookup, _ = fixtures
    e = enrich(turns, lookup)
    # null-tool rows can never match the dimension -> defaults
    nulls = e.where(F.col("tool").isNull())
    assert nulls.where(F.col("namespace") != "default").count() == 0
    assert e.where(F.col("namespace").isNull()).count() == 0
    # at least one real match got real metadata
    assert e.where(F.col("namespace") != "default").count() > 0


def test_input_order_invariance(spark, fixtures, tmp_path_factory):
    turns, lookup, rules = fixtures
    shuffled = turns.orderBy(F.rand(seed=7))
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh2")))
    res = run_pipeline(spark, shuffled, lookup, rules, cat, num_buckets=8)
    a = {tuple(r) for r in res.per_sink_counts.collect()}
    want = oracle.per_sink_counts(_oracle_routed(turns, rules))
    b = {tuple(r) for r in want.itertuples(index=False)}
    assert a == b


def test_observed_metrics_ride_the_write(spark, tmp_path):
    from logging_spark import synth
    from logging_spark.plans.job import run_pipeline
    from logging_spark.sources.catalog import Catalog
    turns = synth.transcripts(spark, n_conversations=20, turns_per_conv=10,
                              hot_conversations=0, hot_factor=1)
    cat = Catalog(spark, str(tmp_path / "wh"))
    res = run_pipeline(spark, turns, synth.lookup(spark, 20),
                       synth.rules(spark), cat, num_buckets=4,
                       input_snapshot="obs-1")
    routed_rows = sum(r["n_rows"] for r in res.per_sink_counts.collect())
    # the observed counter (riding the write action, no extra scan)
    # must equal the exact recomputed-from-sink total
    assert res.observed["rows_routed"] == routed_rows
    assert res.observed["text_chars"] > 0
    # and it lands in the metrics table for telemetry
    m = cat.read("meta.metrics").where(
        "phase = 'observe:rows_routed'").collect()
    assert m and int(m[0]["rows"]) == routed_rows

"""End-to-end: synth fixtures -> pipeline -> compare against the
pure-pandas oracle (per-sink exact counts, role rollups, and routed-row
text equality under stable (conv_id, turn_idx) ordering)."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from logging_spark import synth
from logging_spark.operators.rules import load_rules
from logging_spark.plans.job import ROUTED_TABLE, rollup, run_pipeline
from logging_spark.sources import checkpoint as ckpt
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


def _warehouse_rollup(cat):
    """The aggregates a warehouse reader rebuilds from the done rows of
    the run's snapshot (run_pipeline's default)."""
    return rollup(ckpt.done_rows(cat, "snap-0"))


def test_per_sink_counts_exact(run):
    cat, res, turns, rules = run
    want = oracle.per_sink_counts(_oracle_routed(turns, rules))
    for got in (res.per_sink_counts.toPandas(), _warehouse_rollup(cat)[0]):
        pd.testing.assert_frame_equal(
            got.sort_values("sink_name").reset_index(drop=True)[
                ["sink_name", "n_rows", "n_distinct_conv"]],
            want[["sink_name", "n_rows", "n_distinct_conv"]],
            check_dtype=False,
        )


def test_role_rollup_exact(run):
    cat, res, turns, rules = run
    want = oracle.role_rollup(_oracle_routed(turns, rules))
    for got in (res.role_rollup.toPandas(), _warehouse_rollup(cat)[1]):
        pd.testing.assert_frame_equal(
            got.sort_values(["sink_name", "role"]).reset_index(drop=True)[
                ["sink_name", "role", "n_turns"]],
            want, check_dtype=False,
        )


def test_warehouse_holds_the_sink_and_bookkeeping_only(run):
    """Each fact is stored once: the sink cells, the done rows and the
    run metrics. The per-sink aggregates have no table."""
    import os

    cat, _, _, _ = run
    tables = sorted(f"{ns}/{t}" for ns in os.listdir(cat.warehouse)
                    for t in os.listdir(os.path.join(cat.warehouse, ns)))
    assert tables == ["meta/checkpoint", "meta/metrics", "sinks/routed"], tables


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
    assert "Exchange shufflepartitionidpassthrough(" in text, text


def _files_per_cell(wh) -> dict[str, int]:
    import glob
    import os

    cells: dict[str, int] = {}
    for f in glob.glob(os.path.join(wh, "sinks", "routed", "*", "bucket=*", "*.parquet")):
        cell = os.path.relpath(os.path.dirname(f), wh)
        cells[cell] = cells.get(cell, 0) + 1
    return cells


def test_one_shuffle_lays_out_the_write_by_bucket_and_salt(spark, fixtures, tmp_path):
    """The dedup shuffle is keyed on (owned bucket, salt) with
    ceil(cores / |owned|) salts per bucket, an explicit partition count
    AQE cannot merge: a resume owning one of 8 buckets writes from
    `cores` tasks, each cell from at most `cores` files, and a fresh run
    owning all 8 writes at most ceil(cores / 8) files per cell."""
    from logging_spark.sources import checkpoint as ckpt

    turns, lookup, rules = fixtures
    cores = spark.sparkContext.defaultParallelism
    sizes = ckpt.with_bucket(turns, 8).groupBy("bucket").count().collect()
    hot = max(sizes, key=lambda r: r["count"])["bucket"]
    wh = str(tmp_path / "resume")
    cat = RecordingCatalog(spark, wh)
    ckpt.record_done(cat, pd.DataFrame([{
        "bucket": b, "sink_name": "errors", "role": "assistant", "n_rows": 1,
        "parse_errors": 0, "n_distinct_conv": 1} for b in range(8) if b != hot]), "lay-1")
    res = run_pipeline(spark, turns, lookup, rules, cat, num_buckets=8,
                       input_snapshot="lay-1")
    assert res.buckets_processed == 1
    assert cat.written.rdd.getNumPartitions() == cores
    cells = _files_per_cell(wh)
    assert cells and all(c.endswith(f"bucket={hot}") for c in cells), cells
    assert max(cells.values()) <= cores, cells

    wh = str(tmp_path / "fresh")
    run_pipeline(spark, turns, lookup, rules, Catalog(spark, wh), num_buckets=8,
                 input_snapshot="lay-2")
    cells = _files_per_cell(wh)
    assert len({c.rsplit("=", 1)[1] for c in cells}) == 8, cells
    assert max(cells.values()) <= -(-cores // 8), cells


def test_benchmark_imports_keep_their_signatures():
    """The benchmark's worker plans the job's layers from these three;
    their parameters and defaults stay as they are."""
    import inspect

    from logging_spark.operators.dedup import dedup_latest_wins
    from logging_spark.sources import checkpoint as ckpt

    def params(f):
        return [(p.name, p.default) for p in inspect.signature(f).parameters.values()]

    empty = inspect.Parameter.empty
    assert params(ckpt.with_bucket) == [
        ("df", empty), ("num_buckets", empty), ("key", "conv_id")]
    assert params(ckpt.pending) == [
        ("df_bucketed", empty), ("catalog", empty), ("input_snapshot", empty)]
    assert params(dedup_latest_wins) == [
        ("df", empty), ("keys", ("conv_id", "turn_idx")), ("order_ts", "ts"),
        ("tiebreak", "text")]


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
    # phase seconds are typed, not formatted strings
    metrics = cat.read("meta.metrics")
    assert dict(metrics.dtypes)["seconds"] == "double"
    (total,) = metrics.where("phase = 'pipeline'").collect()
    assert abs(total["seconds"] - res.seconds) < 0.01
    assert m[0]["seconds"] is None and total["rows"] is None
    # the run's stamp is data in both bookkeeping tables
    for table in ("meta.metrics", "meta.checkpoint"):
        stamped = cat.read(table)
        assert dict(stamped.dtypes)["updated_ts"] == "timestamp"
        assert stamped.where("updated_ts IS NULL").count() == 0

"""Resume/idempotence (SURVEY §5.4): run, damage the checkpoint, re-run
-> identical final outputs; completed buckets are skipped."""

import glob

import pytest
from pyspark.sql import functions as F

from logging_spark import synth
from logging_spark.plans.job import ROUTED_TABLE, read_sink, rollup, run_pipeline
from logging_spark.sources import checkpoint as ckpt
from logging_spark.sources.catalog import Catalog, merge_frames
from logging_spark.sources.checkpoint import CHECKPOINT_TABLE


@pytest.fixture(scope="module")
def fixtures(spark):
    turns = synth.transcripts(spark, n_conversations=40, turns_per_conv=15,
                              hot_conversations=1, hot_factor=10)
    lookup = synth.lookup(spark, n_conversations=40)
    rules = synth.rules(spark)
    return turns, lookup, rules


def _snapshot(cat, snap):
    """The warehouse's outputs under snapshot `snap`: the per-sink
    counts rolled up from its done rows, and a digest of the sink."""
    counts, _ = rollup(ckpt.done_rows(cat, snap))
    counts = set(counts.itertuples(index=False, name=None))
    routed = cat.read(ROUTED_TABLE).agg(
        F.count(F.lit(1)),
        F.expr("bit_xor(xxhash64(sink_name, conv_id, turn_idx, text))"),
    ).collect()[0]
    return counts, tuple(routed)


def test_rerun_after_partial_checkpoint_loss(spark, fixtures, tmp_path_factory):
    turns, lookup, rules = fixtures
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    r1 = run_pipeline(spark, turns, lookup, rules, cat, num_buckets=8,
                      input_snapshot="snap-A")
    want = _snapshot(cat, "snap-A")
    assert r1.buckets_skipped == 0

    # lose half the checkpoint rows (simulated partial failure):
    # rewrite the checkpoint table keeping buckets < 4
    cp = cat.read(CHECKPOINT_TABLE).where(F.col("bucket") < 4).collect()
    cat.drop(CHECKPOINT_TABLE)
    if cp:
        cat.append(spark.createDataFrame(cp), CHECKPOINT_TABLE)

    r2 = run_pipeline(spark, turns, lookup, rules, cat, num_buckets=8,
                      input_snapshot="snap-A")
    assert r2.buckets_skipped > 0  # surviving buckets were not redone
    assert _snapshot(cat, "snap-A") == want  # outputs identical, no double-writes


def test_fully_checkpointed_run_is_noop_on_sinks(spark, fixtures, tmp_path_factory):
    turns, lookup, rules = fixtures
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    run_pipeline(spark, turns, lookup, rules, cat, num_buckets=4,
                 input_snapshot="snap-B")
    want = _snapshot(cat, "snap-B")
    r2 = run_pipeline(spark, turns, lookup, rules, cat, num_buckets=4,
                      input_snapshot="snap-B")
    assert r2.buckets_skipped == 4
    assert _snapshot(cat, "snap-B") == want


def test_new_snapshot_reprocesses(spark, fixtures, tmp_path_factory):
    turns, lookup, rules = fixtures
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    run_pipeline(spark, turns, lookup, rules, cat, num_buckets=4,
                 input_snapshot="snap-C")
    r2 = run_pipeline(spark, turns, lookup, rules, cat, num_buckets=4,
                      input_snapshot="snap-D")
    assert r2.buckets_skipped == 0


def test_crashed_bucket_partial_write_is_overwritten(spark, fixtures, tmp_path_factory):
    """A bucket that crashed mid-write leaves stale rows in its sink
    partitions but no checkpoint row. The re-run owns it and clears
    its cells before writing them back — no garbage survives, counts
    exact."""
    import os
    turns, lookup, rules = fixtures
    wh = str(tmp_path_factory.mktemp("wh"))
    cat = Catalog(spark, wh)
    run_pipeline(spark, turns, lookup, rules, cat, num_buckets=8,
                 input_snapshot="snap-E")
    want = _snapshot(cat, "snap-E")

    # un-checkpoint bucket 2, then plant garbage rows in one of its
    # sink partitions (simulating a crash after a partial write)
    cp = cat.read(CHECKPOINT_TABLE).where(F.col("bucket") != 2).collect()
    cat.drop(CHECKPOINT_TABLE)
    cat.append(spark.createDataFrame(cp), CHECKPOINT_TABLE)
    part_dir = os.path.join(wh, "sinks", "routed", "sink_name=errors", "bucket=2")
    garbage = spark.createDataFrame(
        [("conv-GARBAGE", -1, "assistant", "[ERROR] bogus: crashed-partial-row",
          None, None, None, None, None, "ns-0", "pod-0", "node-0", "svc-0")],
        "conv_id string, turn_idx int, role string, text string, tool string, "
        "ts timestamp, level string, component string, attrs string, "
        "namespace string, pod_name string, node_name string, service_name string")
    garbage.write.mode("append").parquet(part_dir)
    assert cat.read(ROUTED_TABLE).where(
        F.col("conv_id") == "conv-GARBAGE").count() == 1  # damage visible

    r2 = run_pipeline(spark, turns, lookup, rules, cat, num_buckets=8,
                      input_snapshot="snap-E")
    assert r2.buckets_skipped == 7
    assert cat.read(ROUTED_TABLE).where(
        F.col("conv_id") == "conv-GARBAGE").count() == 0  # partition rewritten
    assert _snapshot(cat, "snap-E") == want


def _fresh(spark, turns, lookup, rules, tmp_path_factory):
    cat = Catalog(spark, str(tmp_path_factory.mktemp("fresh")))
    run_pipeline(spark, turns, lookup, rules, cat, num_buckets=8,
                 input_snapshot="fresh")
    return _snapshot(cat, "fresh")


def test_shrunk_input_new_snapshot_equals_fresh_run(spark, fixtures, tmp_path_factory):
    """Bucket 3's conversations vanish from the input under a new
    snapshot: the re-run owns bucket 3 again, so its old cells go even
    though the new run writes nothing there."""
    turns, lookup, rules = fixtures
    shrunk = ckpt.with_bucket(turns, 8).where("bucket != 3").drop("bucket")
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    run_pipeline(spark, turns, lookup, rules, cat, num_buckets=8,
                 input_snapshot="snap-F")
    run_pipeline(spark, shrunk, lookup, rules, cat, num_buckets=8,
                 input_snapshot="snap-G")
    assert _snapshot(cat, "snap-G") == _fresh(spark, shrunk, lookup, rules, tmp_path_factory)


def test_empty_bucket_stays_owned_until_it_has_rows(spark, fixtures, tmp_path_factory):
    """An owned bucket with no input rows gets no done row, so it stays
    owned. A run on input without bucket 3 commits the other seven; a
    run on the full input under the same snapshot then processes bucket
    3 alone. perfbench's resume_half commits half the buckets this way,
    and a done row for an empty bucket would make its timed runs skip
    every bucket."""
    turns, lookup, rules = fixtures
    shrunk = ckpt.with_bucket(turns, 8).where("bucket != 3").drop("bucket")
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    r1 = run_pipeline(spark, shrunk, lookup, rules, cat, num_buckets=8,
                      input_snapshot="snap-S")
    assert (r1.buckets_processed, r1.buckets_skipped) == (8, 0)
    r2 = run_pipeline(spark, turns, lookup, rules, cat, num_buckets=8,
                      input_snapshot="snap-S")
    assert (r2.buckets_processed, r2.buckets_skipped) == (1, 7)
    assert _snapshot(cat, "snap-S") == _fresh(spark, turns, lookup, rules, tmp_path_factory)


def test_disabled_rule_new_snapshot_empties_its_sink(spark, fixtures, tmp_path_factory):
    turns, lookup, rules = fixtures
    off = rules.withColumn("enabled", F.col("enabled") & (F.col("sink_name") != "errors"))
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    run_pipeline(spark, turns, lookup, rules, cat, num_buckets=8,
                 input_snapshot="snap-H")
    assert read_sink(cat, "errors").count() > 0
    res = run_pipeline(spark, turns, lookup, off, cat, num_buckets=8,
                       input_snapshot="snap-I")
    assert read_sink(cat, "errors").count() == 0
    assert "errors" not in {r["sink_name"] for r in res.per_sink_counts.collect()}
    assert _snapshot(cat, "snap-I") == _fresh(spark, turns, lookup, off, tmp_path_factory)


def test_crash_between_clear_and_write_ends_exact(spark, fixtures, tmp_path_factory):
    """The sink write fails after the owned cells were cleared: no done
    row was appended, so the re-run owns the same buckets again."""
    class CrashOnce(Catalog):
        crashed = False

        def overwrite_partitions(self, df, table, partition_cols):
            if not self.crashed:
                self.crashed = True
                raise RuntimeError("lost the sink write")
            super().overwrite_partitions(df, table, partition_cols)

    turns, lookup, rules = fixtures
    shrunk = ckpt.with_bucket(turns, 8).where("bucket != 3").drop("bucket")
    wh = str(tmp_path_factory.mktemp("wh"))
    run_pipeline(spark, turns, lookup, rules, Catalog(spark, wh), num_buckets=8,
                 input_snapshot="snap-J")
    cat = CrashOnce(spark, wh)
    with pytest.raises(RuntimeError, match="lost the sink write"):
        run_pipeline(spark, shrunk, lookup, rules, cat, num_buckets=8,
                     input_snapshot="snap-K")
    assert not glob.glob(f"{wh}/sinks/routed/*/bucket=*")  # all cells cleared
    res = run_pipeline(spark, shrunk, lookup, rules, cat, num_buckets=8,
                       input_snapshot="snap-K")
    assert res.buckets_skipped == 0
    assert _snapshot(cat, "snap-K") == _fresh(spark, shrunk, lookup, rules, tmp_path_factory)


def test_crash_inside_the_write_ends_exact(spark, fixtures, tmp_path_factory):
    """The sink write itself fails part-way: tasks of other buckets may
    already have committed files into owned cells, and no done row was
    appended. The re-run under the same snapshot owns every bucket,
    clears those cells and ends equal to a fresh run."""
    class CrashInWrite(Catalog):
        crashed = False

        def overwrite_partitions(self, df, table, partition_cols):
            if not self.crashed:
                self.crashed = True
                df = df.withColumn("text", F.when(
                    F.col("bucket") == 5, F.raise_error(F.lit("crash inside the write"))
                ).otherwise(F.col("text")))
            super().overwrite_partitions(df, table, partition_cols)

    turns, lookup, rules = fixtures
    assert ckpt.with_bucket(turns, 8).where("bucket = 5").count() > 0
    cat = CrashInWrite(spark, str(tmp_path_factory.mktemp("wh")))
    with pytest.raises(Exception, match="crash inside the write"):
        run_pipeline(spark, turns, lookup, rules, cat, num_buckets=8,
                     input_snapshot="snap-N")
    res = run_pipeline(spark, turns, lookup, rules, cat, num_buckets=8,
                       input_snapshot="snap-N")
    assert res.buckets_skipped == 0
    assert _snapshot(cat, "snap-N") == _fresh(spark, turns, lookup, rules, tmp_path_factory)


def test_empty_input_empty_warehouse(spark, fixtures, tmp_path_factory):
    """Empty input finishes: no bucket is done, and the result's
    aggregate frames are empty with their usual schema."""
    turns, lookup, rules = fixtures
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    res = run_pipeline(spark, turns.limit(0), lookup, rules, cat, num_buckets=4,
                       input_snapshot="snap-L")
    assert (res.buckets_processed, res.buckets_skipped) == (4, 0)
    assert ckpt.done_rows(cat, "snap-L").empty
    assert res.per_sink_counts.count() == 0 and res.role_rollup.count() == 0
    assert res.per_sink_counts.columns == ["sink_name", "n_rows", "n_distinct_conv"]
    assert res.role_rollup.columns == ["sink_name", "role", "n_turns"]


def test_table_exists_sees_partitioned_sink(spark, fixtures, tmp_path_factory):
    """A partitioned append leaves only `sink_name=...` dirs at the sink
    table's root, and that is a table."""
    turns, lookup, rules = fixtures
    cat = Catalog(spark, str(tmp_path_factory.mktemp("wh")))
    assert not cat.table_exists(ROUTED_TABLE)
    run_pipeline(spark, turns, lookup, rules, cat, num_buckets=4,
                 input_snapshot="snap-M")
    assert cat.table_exists(ROUTED_TABLE)


def test_merge_upsert_field_wise(spark):
    """S5 Apply with reference merge semantics (datasource.go:206-276),
    as the `pipe_merge_upsert` contract query runs it: a NULL field in
    an update row preserves the existing value; new keys insert;
    re-applying the same update is idempotent."""
    schema = "k string, a string, b string"
    base = spark.createDataFrame([("k1", "a1", "b1"), ("k2", "a2", "b2")], schema)
    # partial update: b=None must NOT clobber existing b1; k3 inserts
    upd = spark.createDataFrame([("k1", "a1x", None), ("k3", "a3", None)], schema)
    merged = merge_frames(base, upd, ["k"])
    got = {r["k"]: (r["a"], r["b"]) for r in merged.collect()}
    assert got == {"k1": ("a1x", "b1"), "k2": ("a2", "b2"), "k3": ("a3", None)}
    # idempotent re-apply
    got2 = {r["k"]: (r["a"], r["b"])
            for r in merge_frames(merged, upd, ["k"]).collect()}
    assert got2 == got


def test_merge_upsert_latest_wins_order_col(spark):
    schema = "k string, v string, ts long"
    first = spark.createDataFrame([("k1", "old", 1)], schema)
    first = merge_frames(first.limit(0), first, ["k"], order_col="ts")
    # two update rows for the same key: highest ts wins
    upd = spark.createDataFrame([("k1", "mid", 5), ("k1", "new", 9)], schema)
    rows = merge_frames(first, upd, ["k"], order_col="ts").collect()
    assert len(rows) == 1 and rows[0]["v"] == "new" and rows[0]["ts"] == 9

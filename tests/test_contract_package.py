"""The contract package (split from the original single module in round
5) must preserve the assembler surface exactly: same query names, same
oracle pairing, family modules bounded in size."""

from __future__ import annotations

import os
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "logging_spark" / "contract"

# bump together when the contract grows
N_QUERIES = 317
N_ORACLES = 303


def test_package_replaces_module():
    assert PKG.is_dir()
    assert (PKG / "__init__.py").exists()
    assert not (PKG.parent / "contract.py").exists()


def test_no_module_over_1500_lines():
    for p in PKG.glob("*.py"):
        n = sum(1 for _ in open(p))
        assert n <= 1500, f"{p.name} is {n} lines"


def test_every_family_module_registers():
    import logging_spark.contract as c

    q: dict = {}
    seen_counts = {}
    for m in c._FAMILY_MODULES:
        before = len(q)
        m.register(q)
        seen_counts[m.__name__.rsplit(".", 1)[-1]] = len(q) - before
    assert all(v > 0 for v in seen_counts.values()), seen_counts
    assert len(q) == N_QUERIES
    o: dict = {}
    for m in c._ORACLE_MODULES:
        m.register_oracles(o)
    assert len(o) == N_ORACLES
    assert set(o) <= set(q)


def test_build_surface_unchanged():
    """build_queries()/build_oracles() keep the exact contract: 304
    queries (290 oracle-checked), stratified ordering starts at the
    pinned flagships, every oracle key pairs with a query."""
    import logging_spark.contract as c

    saved = os.environ.get("SPARK_GRAFT_ROTATION")
    os.environ["SPARK_GRAFT_ROTATION"] = "0"
    try:
        q = c.build_queries()
        o = c.build_oracles()
    finally:
        if saved is None:
            os.environ.pop("SPARK_GRAFT_ROTATION", None)
        else:
            os.environ["SPARK_GRAFT_ROTATION"] = saved
    assert len(q) == N_QUERIES and len(o) == N_ORACLES
    keys = list(q)
    assert keys[: len(c._PINNED_IN_WINDOW)] == c._PINNED_IN_WINDOW
    assert set(o) <= set(q)
    # a few spot-pins across families so a dropped segment is loud
    for name in ("pipe_e2e", "events_logrank", "docs_pagerank",
                 "tpch_q21_lone_fault_supplier", "text_keyness",
                 "dedup_minhash_lsh", "sample_domain_cap",
                 "sim_hard_negatives", "mm_resize_dims",
                 "agg_kmv_intersection", "window_rank_family",
                 "dim_topn_other", "dq_wilson_keep", "audit_fingerprint"):
        assert name in q, name


def test_rotation_offset_reads_repo_root(monkeypatch, tmp_path):
    """The driver-window offset counts CORRECTNESS_r*.json in the repo
    root whatever the working directory is."""
    from logging_spark.contract._window import _rotation_offset

    monkeypatch.delenv("SPARK_GRAFT_ROTATION", raising=False)
    monkeypatch.chdir(tmp_path)
    root = Path(__file__).resolve().parents[1]
    assert _rotation_offset() == len(list(root.glob("CORRECTNESS_r*.json")))


def test_bench_core_tier_names_are_contract_queries():
    """bench.CORE_TIER is the one hand-kept query list left in the
    harness; every name in it must stay a contract query."""
    import bench
    import logging_spark.contract as c

    missing = set(bench.CORE_TIER) - set(c.build_queries())
    assert not missing, sorted(missing)

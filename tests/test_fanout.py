"""Pins for the r14 size-adaptive fan-out (session.ensure_parallelism).

The fan-out width derives from the optimizer's size estimate (one
partition per BIKIDATA_SPARK_FANOUT_BYTES) capped at the session's
defaultParallelism, instead of the pre-r14 unconditional
defaultParallelism. These tests pin the behaviors the change relies
on: the control setting reproduces the old width, the width never
exceeds the cap (including the cluster shape, where the estimate far
exceeds cores x target and behavior is identical to pre-r14), and
operator results are invariant to the width (the declared-query
contract)."""

from __future__ import annotations

import pytest

from bikidata_spark.operators import dedup as dd
from bikidata_spark.session import ensure_parallelism


def _nparts(df) -> int:
    return df._jdf.queryExecution().toRdd().getNumPartitions()


def _est_bytes(df) -> int:
    return int(str(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()))


def test_fanout_width_derives_from_size(spark, docs, monkeypatch):
    cores = spark.sparkContext.defaultParallelism
    # control: a 1-byte per-partition target saturates the cap —
    # exactly the pre-r14 full-width fan-out
    monkeypatch.setenv("BIKIDATA_SPARK_FANOUT_BYTES", "1")
    assert _nparts(ensure_parallelism(docs)) == cores
    # a huge target leaves the tiny input untouched: no shuffle at
    # all where the data does not justify one
    monkeypatch.setenv("BIKIDATA_SPARK_FANOUT_BYTES", str(1 << 40))
    assert _nparts(ensure_parallelism(docs)) == _nparts(docs)
    # explicit min_partitions bypasses the estimate entirely
    assert _nparts(ensure_parallelism(docs, min_partitions=5)) == 5
    # a target of half the estimate asks for exactly 2 partitions
    monkeypatch.setenv("BIKIDATA_SPARK_FANOUT_BYTES", str(-(-_est_bytes(docs) // 2)))
    assert _nparts(ensure_parallelism(docs)) == min(2, cores)
    monkeypatch.delenv("BIKIDATA_SPARK_FANOUT_BYTES")
    # default target: between no-op and the cores cap, never wider
    assert 1 <= _nparts(ensure_parallelism(docs)) <= max(cores, _nparts(docs))


def test_fanout_cluster_shape_caps_at_cores(spark, docs, monkeypatch):
    """The cluster shape (r14 VERDICT item 9): when the estimate is far
    past cores x target — the only regime a real deployment's corpus
    inputs occupy — the cap binds and the width is exactly
    defaultParallelism, i.e. identical to the pre-r14 behavior. The
    size-adaptive fan-out is sizing for small inputs, not shrinking at
    scale."""
    cores = spark.sparkContext.defaultParallelism
    est = _est_bytes(docs)
    assert est > 0
    # pick a target so est/target >= 10x cores: the derived width wants
    # 10x more partitions than the session has, so the cores cap binds
    target = max(1, est // (cores * 10))
    monkeypatch.setenv("BIKIDATA_SPARK_FANOUT_BYTES", str(target))
    assert _nparts(ensure_parallelism(docs)) == cores


def test_fanout_min_partitions_validated(docs):
    # 0 used to mean "full width" pre-r14 and "never repartition" after;
    # it is now rejected outright (ADVICE r14)
    with pytest.raises(ValueError):
        ensure_parallelism(docs, min_partitions=0)


def test_fanout_width_does_not_change_results(spark, docs, monkeypatch):
    # partition-count invariance of a fan-out consumer: identical pairs
    # at the pre-r14 width and at the size-derived width
    monkeypatch.setenv("BIKIDATA_SPARK_FANOUT_BYTES", "1")
    wide = {tuple(r) for r in dd.minhash_lsh_pairs(docs, "doc_id", "text").collect()}
    monkeypatch.delenv("BIKIDATA_SPARK_FANOUT_BYTES")
    adaptive = {tuple(r) for r in dd.minhash_lsh_pairs(docs, "doc_id", "text").collect()}
    assert wide == adaptive and len(wide) > 0

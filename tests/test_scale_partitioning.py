"""Scale-adaptive partitioning pins (r13 optimization round).

Two behaviors the 100 TB design depends on:
- ``spread_small_scan``'s stats-probe FAILURE must be a no-op (the unknown
  scan may be the fact table; the former fallback repartitioned it).
- ``shingle_rows``'s hashing-stage partition count must scale with the
  input-size estimate instead of being pinned to cluster cores.
"""

from __future__ import annotations

import pytest

from thanos_parquet_gateway_spark.operators import dedup
from thanos_parquet_gateway_spark.sources import tables


def _docs(spark):
    return spark.createDataFrame(
        [(i, f"word{i} alpha beta gamma delta epsilon") for i in range(20)],
        "doc_id int, text string")


def test_spread_probe_failure_is_noop(spark, monkeypatch):
    """A failing stats probe must NOT repartition: at 100 TB that would be
    a full wasted shuffle of the fact table (r12 verdict item #4)."""
    df = _docs(spark)

    def boom(_df):
        raise RuntimeError("stats unavailable")

    monkeypatch.setattr(tables, "scan_splits_estimate", boom)
    out = tables.spread_small_scan(df)
    assert out is df  # identity — no plan op added at all


def test_spread_small_scan_still_spreads_small(spark, monkeypatch):
    df = _docs(spark)
    monkeypatch.setattr(tables, "scan_splits_estimate", lambda _df: 0)
    out = tables.spread_small_scan(df)
    assert out is not df
    assert ("RoundRobinPartitioning" in out._jdf.queryExecution()
            .toString() or "Repartition" in out._jdf.queryExecution()
            .analyzed().toString())


def test_spread_large_scan_is_noop(spark, monkeypatch):
    monkeypatch.setattr(tables, "scan_splits_estimate", lambda _df: 10_000)
    df = _docs(spark)
    assert tables.spread_small_scan(df) is df


def test_hash_parallelism_scales_with_input(spark, monkeypatch):
    """max(cores, estimated splits): input-proportional on a big scan,
    core-spread on a small one, core fallback when the probe fails."""
    df = _docs(spark)
    cores = spark.sparkContext.defaultParallelism

    monkeypatch.setattr(tables, "scan_splits_estimate", lambda _df: 1000)
    assert tables.hash_parallelism(df) == 1000

    monkeypatch.setattr(tables, "scan_splits_estimate", lambda _df: 1)
    assert tables.hash_parallelism(df) == cores

    def boom(_df):
        raise RuntimeError("stats unavailable")

    monkeypatch.setattr(tables, "scan_splits_estimate", boom)
    assert tables.hash_parallelism(df) == cores


def test_shingle_rows_plan_uses_scaled_partitioning(spark, monkeypatch):
    """The shingling repartition must carry the input-proportional count
    in the plan (r12 verdict item #3 'Done' criterion)."""
    df = _docs(spark)
    monkeypatch.setattr(tables, "scan_splits_estimate", lambda _df: 333)
    out = dedup.shingle_rows(df)
    plan = out._jdf.queryExecution().analyzed().toString()
    assert "333" in plan, plan


def test_shingle_rows_results_partition_invariant(spark, monkeypatch):
    """Same shingle rows whatever the partition count (sanity that the
    partitioning change cannot alter results)."""
    df = _docs(spark)
    monkeypatch.setattr(tables, "scan_splits_estimate", lambda _df: 64)
    a = sorted(tuple(r) for r in dedup.shingle_rows(df).collect())
    monkeypatch.setattr(tables, "scan_splits_estimate", lambda _df: 0)
    b = sorted(tuple(r) for r in dedup.shingle_rows(df).collect())
    assert a == b and len(a) > 0


@pytest.mark.parametrize("bad", [None])
def test_scan_splits_estimate_real_parquet(spark, sf_dir, bad):
    """The probe itself works on a real parquet scan (returns an int)."""
    df = spark.read.parquet(f"{sf_dir}/documents.parquet")
    est = tables.scan_splits_estimate(df)
    assert isinstance(est, int) and est >= 0


def test_scan_splits_sentinel_raises(spark):
    """In-memory relations report the defaultSizeInBytes sentinel
    (Long.MaxValue) instead of real stats — the probe must raise, not
    return ~7e10 'splits' (which once overflowed repartition's int)."""
    df = _docs(spark)  # createDataFrame → ExistingRDD scan, sentinel stats
    with pytest.raises(Exception):
        tables.scan_splits_estimate(df)
    # ...and both consumers fall back to their safe defaults end to end
    assert tables.hash_parallelism(df) == spark.sparkContext.defaultParallelism
    out = dedup.shingle_rows(df)  # must not blow up in repartition()
    assert out.count() > 0

"""Unit tests for the partitioned bloom filter (SURVEY.md J3)."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from deepcrawl4ai_spark.frontier import bloom


def _hashes(prefix: str, n: int) -> list[str]:
    return [hashlib.sha1(f"{prefix}:{i}".encode()).hexdigest() for i in range(n)]


def test_no_false_negatives(spark):
    inserted = _hashes("in", 500)
    df = spark.createDataFrame([(h,) for h in inserted], ["url_hash"])
    filters = bloom.build_filters(df, 0)
    flagged = bloom.maybe_seen(df, filters)
    assert flagged.filter(~F.col("maybe_seen")).count() == 0


def test_low_false_positive_rate(spark):
    inserted = _hashes("in", 500)
    other = _hashes("out", 2000)
    filters = bloom.build_filters(
        spark.createDataFrame([(h,) for h in inserted], ["url_hash"]), 0
    )
    probe = spark.createDataFrame([(h,) for h in other], ["url_hash"])
    fp = bloom.maybe_seen(probe, filters).filter(F.col("maybe_seen")).count()
    assert fp / len(other) < 0.05  # 2^17 bits/partition, k=4, tiny load


def test_merge_is_union(spark):
    a = _hashes("a", 300)
    b = _hashes("b", 300)
    fa = bloom.build_filters(spark.createDataFrame([(h,) for h in a], ["url_hash"]), 0)
    fb = bloom.build_filters(spark.createDataFrame([(h,) for h in b], ["url_hash"]), 1)
    merged = bloom.merge_filters(fa, fb, 1)
    probe = spark.createDataFrame([(h,) for h in a + b], ["url_hash"])
    assert bloom.maybe_seen(probe, merged).filter(~F.col("maybe_seen")).count() == 0
    # idempotent: merging the same filter twice changes nothing
    again = bloom.merge_filters(merged, fb, 2)
    bits1 = {r["partition_id"]: r["bits"] for r in merged.collect()}
    bits2 = {r["partition_id"]: r["bits"] for r in again.collect()}
    assert bits1 == bits2


def _hashes_p0(start: int, stop: int) -> list[str]:
    """Hashes all landing in bloom partition 0 (first 4 hex chars = 0000)."""
    return [
        "0000" + hashlib.sha1(f"p0:{i}".encode()).hexdigest()[4:]
        for i in range(start, stop)
    ]


def test_sizing_tracks_n_items(spark, monkeypatch):
    """Filter bits scale with the inserted item count (ADVICE r1: no more
    fixed 2^17 — at 10^10 items a fixed filter saturates to FPR≈1)."""
    from deepcrawl4ai_spark.frontier import bloom as B

    assert B.size_for(1) == B.MIN_BITS  # floor
    assert B.size_for(10**9) >= 10**9 * B.BITS_PER_ITEM  # tracks n
    assert B.size_for(10**9) & (B.size_for(10**9) - 1) == 0  # power of two
    assert B.est_fpr(0, B.MIN_BITS) == 0.0
    assert B.est_fpr(10**10, 1 << 17) > 0.99  # the old fixed size saturates

    monkeypatch.setattr(B, "MIN_BITS", 256)
    df = spark.createDataFrame([(h,) for h in _hashes_p0(0, 2000)], ["url_hash"])
    row = B.build_filters(df, 0).collect()[0]
    assert row["n_items"] == 2000
    assert row["m_bits"] >= 2000 * B.BITS_PER_ITEM  # sized from data, not floor
    assert B.est_fpr(row["n_items"], row["m_bits"]) < 0.02


def test_generation_spill_and_membership(spark, monkeypatch):
    """When a partition outgrows its newest generation, add_to_filters spills
    into a larger generation; membership stays exact (no false negatives)
    across generations."""
    from deepcrawl4ai_spark.frontier import bloom as B

    monkeypatch.setattr(B, "MIN_BITS", 1024)  # capacity 102 items/partition
    a = _hashes_p0(0, 80)
    b = _hashes_p0(80, 240)

    def df(hs):
        return spark.createDataFrame([(h,) for h in hs], ["url_hash"])

    fa = B.build_filters(df(a), 0)
    fb = B.add_to_filters(fa, df(b), 1)
    rows = sorted(fb.collect(), key=lambda r: r["m_bits"])
    assert len(rows) == 2, "second generation expected"
    assert rows[1]["m_bits"] >= 2 * rows[0]["m_bits"]
    # no false negatives across generations
    assert B.maybe_seen(df(a + b), fb).filter(~F.col("maybe_seen")).count() == 0
    # filter_stats reflects both generations
    stats = B.filter_stats(fb)
    assert stats["generations"] == 2 and stats["n_items"] == 240
    # no filter kept (below the engine's gate): an empty summary
    assert B.filter_stats(None) == {
        "n_items": 0, "m_bits": 0, "generations": 0, "est_fpr": 0.0
    }


def test_empty_filter_partition(spark):
    """Candidates landing in a partition with no filter row → definitely new."""
    inserted = _hashes("in", 10)
    filters = bloom.build_filters(
        spark.createDataFrame([(h,) for h in inserted], ["url_hash"]), 0
    )
    probe = spark.createDataFrame([(h,) for h in _hashes("probe", 200)], ["url_hash"])
    out = bloom.maybe_seen(probe, filters)
    assert out.count() == 200  # every candidate row survives the cogroup

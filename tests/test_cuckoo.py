"""Cuckoo-filter URL-seen set (north_rule: 'bloom/cuckoo-filter'): numpy
table semantics, the shared bloom.py plumbing with filter_kind='cuckoo'
(build / generational absorb / membership), DELETION (the cuckoo
differentiator), and golden crawl equality vs the bloom-backed engine."""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from deepcrawl4ai_spark.frontier import bloom, cuckoo as CK


def _hashes(prefix: str, n: int) -> list[str]:
    return [hashlib.sha1(f"{prefix}:{i}".encode()).hexdigest() for i in range(n)]


# --- pure numpy table ---------------------------------------------------------


def test_insert_contains_no_false_negatives_at_load():
    hs = pd.Series(_hashes("a", 800))
    nb = CK.n_buckets_for(len(hs))  # sized for 0.84 load
    table = CK.new_table(nb)
    fps, i1, i2 = CK.keys(hs, nb)
    failed = CK.insert_batch(table, fps, i1, i2)
    assert not failed.any()
    assert CK.contains_batch(table, fps, i1, i2).all()


def test_false_positive_rate_small():
    hs = pd.Series(_hashes("in", 1000))
    nb = CK.n_buckets_for(len(hs))
    table = CK.new_table(nb)
    CK.insert_batch(table, *CK.keys(hs, nb))
    other = pd.Series(_hashes("out", 5000))
    fp = CK.contains_batch(table, *CK.keys(other, nb)).sum()
    # per-item FPR ≈ 8/2^16 ≈ 0.00012; allow generous slack
    assert fp / len(other) < 0.005


def test_delete_then_absent_and_noop_on_missing():
    hs = pd.Series(_hashes("d", 300))
    nb = CK.n_buckets_for(len(hs))
    table = CK.new_table(nb)
    CK.insert_batch(table, *CK.keys(hs, nb))
    victim = hs[:50]
    removed = CK.delete_batch(table, *CK.keys(victim, nb))
    assert removed.all()
    assert not CK.contains_batch(table, *CK.keys(victim, nb)).any()
    keep = pd.Series(hs[50:].tolist())
    assert CK.contains_batch(table, *CK.keys(keep, nb)).all()
    # deleting again: nothing present, mask all-False, table unchanged
    again = CK.delete_batch(table, *CK.keys(victim, nb))
    assert not again.any()


def test_overflow_rolls_back_no_false_negatives():
    """2 buckets × 4 slots hold at most 8 copies of one fingerprint; the 9th
    insert must fail AND leave every earlier item findable (rollback)."""
    h = _hashes("same", 1)[0]
    hs = pd.Series([h] * 9)
    nb = 64
    table = CK.new_table(nb)
    fps, i1, i2 = CK.keys(hs, nb)
    failed = CK.insert_batch(table, fps, i1, i2)
    assert failed.sum() == 1 and failed[-1]
    assert CK.contains_batch(table, fps[:8], i1[:8], i2[:8]).all()
    assert (table != 0).sum() == 8  # nothing orphaned by the failed chain


# --- bloom.py plumbing with filter_kind='cuckoo' ------------------------------


def test_spark_build_and_membership(spark, monkeypatch):
    monkeypatch.setattr(bloom, "FILTER_KIND", "cuckoo")
    inserted = _hashes("in", 500)
    df = spark.createDataFrame([(h,) for h in inserted], ["url_hash"])
    filters = bloom.build_filters(df, 0)
    rows = filters.collect()
    assert {r["filter_kind"] for r in rows} == {"cuckoo"}
    assert bloom.maybe_seen(df, filters).filter(~F.col("maybe_seen")).count() == 0
    other = spark.createDataFrame([(h,) for h in _hashes("out", 2000)], ["url_hash"])
    fp = bloom.maybe_seen(other, filters).filter(F.col("maybe_seen")).count()
    assert fp / 2000 < 0.01


def _hashes_p0(prefix: str, n: int) -> list[str]:
    return [
        "0000" + hashlib.sha1(f"{prefix}:{i}".encode()).hexdigest()[4:]
        for i in range(n)
    ]


def test_generational_absorb_and_spill(spark, monkeypatch):
    """Absorb into the newest generation under capacity; spill past it into
    a ≥2× generation — membership = OR over generations, no false negatives
    across the spill."""
    monkeypatch.setattr(bloom, "FILTER_KIND", "cuckoo")
    monkeypatch.setattr(bloom, "MIN_BITS", 4096)  # 64-bucket floor → cap 215
    first = _hashes_p0("g1", 200)
    second = _hashes_p0("g2", 400)  # overflows gen 1 → spill
    f1 = bloom.build_filters(
        spark.createDataFrame([(h,) for h in first], ["url_hash"]), 0
    )
    f2 = bloom.add_to_filters(
        f1, spark.createDataFrame([(h,) for h in second], ["url_hash"]), 1
    )
    rows = sorted(f2.filter(F.col("partition_id") == 0).collect(), key=lambda r: r["m_bits"])
    assert len(rows) == 2, "expected a generation spill"
    assert rows[1]["m_bits"] >= 2 * rows[0]["m_bits"]
    probe = spark.createDataFrame([(h,) for h in first + second], ["url_hash"])
    assert bloom.maybe_seen(probe, f2).filter(~F.col("maybe_seen")).count() == 0


def test_remove_from_filters_cuckoo_only(spark, monkeypatch):
    monkeypatch.setattr(bloom, "FILTER_KIND", "cuckoo")
    inserted = _hashes("rm", 400)
    df = spark.createDataFrame([(h,) for h in inserted], ["url_hash"])
    filters = bloom.build_filters(df, 0)
    victims = spark.createDataFrame([(h,) for h in inserted[:100]], ["url_hash"])
    pruned = bloom.remove_from_filters(filters, victims, 1)
    flagged = bloom.maybe_seen(df, pruned).toPandas().set_index("url_hash")
    # evicted URLs flow through the definitely-new path again …
    assert not flagged.loc[inserted[:100], "maybe_seen"].any()
    # … while everything else stays seen (no collateral deletion)
    assert flagged.loc[inserted[100:], "maybe_seen"].all()
    # bloom filters refuse deletion loudly
    bfilters = bloom.build_filters(df, 0, kind="bloom")
    with pytest.raises(Exception, match="cuckoo"):
        bloom.remove_from_filters(bfilters, victims, 1).collect()


def test_golden_crawl_equality_bloom_vs_cuckoo(spark, tmp_path_factory, monkeypatch):
    """The filter kind is a PHYSICAL choice: a cuckoo-backed crawl produces
    byte-identical crawl order, metrics, and seen set to the bloom-backed
    one (correctness never depends on the prefilter)."""
    from deepcrawl4ai_spark.frontier import engine as E, webgraph as WG
    from deepcrawl4ai_spark.frontier.engine import CrawlEngine, EngineConfig

    # keep a seen filter from the seeds on (default gate: none below 10^6)
    monkeypatch.setattr(E, "PRUNE_MIN_SEEN", 0)
    cfg = dict(global_budget=120, max_rounds=2, max_depth=3, record_order=True)
    runs = {}
    for kind in ("bloom", "cuckoo"):
        monkeypatch.setattr(bloom, "FILTER_KIND", kind)
        root = str(tmp_path_factory.mktemp(f"kind_{kind}"))
        eng = CrawlEngine(spark, root, EngineConfig(**cfg))
        metrics = eng.run(WG.gen_seeds(32))
        seen = {
            r["url_hash"]
            for r in eng.store.read(spark, "frontier").select("url_hash").collect()
        }
        kinds = {
            r["filter_kind"]
            for r in eng.store.read(spark, "seen_filter").collect()
        }
        assert kinds == {kind}
        runs[kind] = (metrics, seen)
    mb, sb = runs["bloom"]
    mc, sc = runs["cuckoo"]
    assert sb == sc
    assert len(mb) == len(mc)
    for a, b in zip(mb, mc):
        assert a["crawl_order"] == b["crawl_order"]
        for k in ("urls_popped", "urls_fetched", "new_frontier", "dedup_dropped"):
            assert a[k] == b[k]

"""Tests for the round-budget controller (R1/X1), cancellation (T6),
snapshot expiry (S11/X12), and config utilities (J2/P10)."""

from __future__ import annotations

import os

import pytest

from deepcrawl4ai_spark.frontier import engine as E, webgraph as WG
from deepcrawl4ai_spark.frontier.engine import CrawlEngine, EngineConfig
from deepcrawl4ai_spark.frontier.simulator import SimConfig, simulate

CFG = dict(global_budget=80, max_depth=3, max_attempts=2, record_order=True)


def test_adaptive_budget_matches_simulator(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("adaptive"))
    eng = CrawlEngine(
        spark, root, EngineConfig(max_rounds=3, adaptive_budget=True, **CFG)
    )
    metrics = eng.run(WG.gen_seeds(48))
    sim = simulate(
        WG.gen_seeds(48), SimConfig(max_rounds=3, adaptive_budget=True, **CFG)
    )
    assert len(metrics) == len(sim.round_metrics)
    for i, m in enumerate(metrics):
        assert m["crawl_order"] == sim.crawl_order[i], f"round {i}"
        assert m["urls_popped"] == sim.round_metrics[i]["urls_popped"]
    # controller relation: a round following failures runs with a shrunken
    # budget; a round following a clean round runs at full budget
    for prev, cur in zip(metrics, metrics[1:]):
        if prev["urls_failed"] > 0:
            assert cur["round_budget"] < CFG["global_budget"]
        else:
            assert cur["round_budget"] == CFG["global_budget"]


def test_cancel_between_rounds_then_resume(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("cancel"))
    eng = CrawlEngine(spark, root, EngineConfig(max_rounds=4, **CFG))

    def stop_after_first(m):
        if m["round"] == 0:
            eng.cancel()

    m1 = eng.run(WG.gen_seeds(48), on_round=stop_after_first)
    assert [m["round"] for m in m1] == [0]
    # resume completes the remaining rounds; total equals an uninterrupted run
    eng2 = CrawlEngine(spark, root, EngineConfig(max_rounds=4, **CFG))
    m2 = eng2.run()
    assert [m["round"] for m in m2] == [1, 2, 3]
    sim = simulate(WG.gen_seeds(48), SimConfig(max_rounds=4, **CFG))
    assert m2[-1]["crawl_order"] == sim.crawl_order[3]


def test_expire_snapshots(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("expire"))
    eng = CrawlEngine(spark, root, EngineConfig(max_rounds=4, **CFG))
    eng.run(WG.gen_seeds(32))
    snap_dir = os.path.join(root, "_snapshots")
    before = len(os.listdir(snap_dir))
    removed = eng.store.expire_snapshots(keep_last=2)
    assert removed and len(os.listdir(snap_dir)) == before - len(removed)
    # current snapshot still fully readable
    assert eng.store.read(spark, "frontier").count() > 0
    assert eng.store.read(spark, "results").count() > 0
    # resume still works from the retained tail
    eng2 = CrawlEngine(spark, root, EngineConfig(max_rounds=4, **CFG))
    assert eng2.run() == []  # already at max_rounds — nothing re-runs


def test_resubmit_cache_modes(spark, tmp_path_factory):
    """X9 CacheMode analog: ENABLED resubmission of a seen URL is a no-op
    (the seen set is the cache); BYPASS re-queues a fetched URL and the next
    round fetches it AGAIN (second results row, old done row retained);
    an unseen URL enqueues under either mode."""
    from pyspark.sql import functions as F

    root = str(tmp_path_factory.mktemp("resub"))
    eng = CrawlEngine(spark, root, EngineConfig(max_rounds=20, **CFG))
    # bound the crawl: run 2 rounds' worth by cancelling via on_round
    seen_rounds = []

    def stop_after_two(m):
        seen_rounds.append(m)
        if len(seen_rounds) >= 2:
            eng.cancel()

    eng.run(WG.gen_seeds(16), on_round=stop_after_two)
    # the top-ranked fetched URL: a requeued row then fits its host's
    # budget in the next round (an arbitrary head() depends on file order)
    fetched_url = (
        eng.store.read(spark, "done")
        .filter(F.col("state") == "fetched")
        .orderBy(F.col("score").desc(), "url_hash")
        .select("url_norm")
        .head()["url_norm"]
    )
    n_results = eng.store.read(spark, "results").count()

    # ENABLED: seen URL skipped entirely
    m1 = eng.resubmit([fetched_url], bypass_cache=False)
    assert m1["new_frontier"] == 0 and m1["requeued"] == 0

    # BYPASS: the same URL re-queues and is re-fetched next round
    m2 = eng.resubmit([fetched_url], bypass_cache=True)
    assert m2["new_frontier"] == 0 and m2["requeued"] == 1

    # double BYPASS before the re-fetch: the second call is a no-op for a
    # still-queued URL — one url_hash never holds two queued active rows
    # (ADVICE r2; the docstring's 'URLs still queued are never duplicated')
    m2b = eng.resubmit([fetched_url], bypass_cache=True)
    assert m2b["requeued"] == 0
    assert (
        eng.store.read(spark, "active")
        .filter((F.col("url_norm") == fetched_url) & (F.col("state") == "queued"))
        .count()
        == 1
    )

    eng2 = CrawlEngine(spark, root, EngineConfig(max_rounds=m2b["round"] + 2, **CFG))
    eng2.run()
    res = eng2.store.read(spark, "results")
    assert res.filter(F.col("url") == fetched_url).count() == 2  # both versions
    assert res.count() > n_results
    # old terminal row retained in the append-only done log
    done_rows = (
        eng2.store.read(spark, "done").filter(F.col("url_norm") == fetched_url).count()
    )
    assert done_rows == 2


def test_time_travel_read_as_of(spark, tmp_path_factory):
    """Iceberg time-travel analog: read_as_of(round) serves each table from
    that round's immutable manifest — results grow append-only round over
    round, the frontier view is consistent per round, and expired snapshots
    stop resolving."""
    root = str(tmp_path_factory.mktemp("asof"))
    eng = CrawlEngine(spark, root, EngineConfig(max_rounds=3, **CFG))
    metrics = eng.run(WG.gen_seeds(32))
    assert len(metrics) == 3
    store = eng.store
    cum_fetched = 0
    prev_results = 0
    for r, m in enumerate(metrics):
        cum_fetched += m["urls_fetched"]
        res = store.read_as_of(spark, "results", r)
        n_res = res.count()
        assert n_res == cum_fetched  # append-only growth, exact per round
        assert n_res >= prev_results
        prev_results = n_res
        # frontier view as-of r = that round's active ∪ done
        f = store.read_as_of(spark, "frontier", r).count()
        a = store.read_as_of(spark, "active", r).count()
        d = store.read_as_of(spark, "done", r).count()
        assert f == a + d
        # rounds lineage as-of r stops at r
        rounds = store.read_as_of(spark, "rounds", r).collect()
        assert max(x["round"] for x in rounds) == r
    # current read == as-of the last round
    assert store.read(spark, "results").count() == prev_results
    # expiry bounds time travel exactly like Iceberg
    store.expire_snapshots(keep_last=1)
    assert store.read_as_of(spark, "results", 0) is None
    assert store.read_as_of(spark, "results", 2).count() == prev_results


def test_config_signature_and_safe_load():
    from deepcrawl4ai_spark.functions.config import (
        config_signature,
        safe_load_config,
    )

    a = {"max_rounds": 3, "query": "x"}
    b = {"query": "x", "max_rounds": 3}
    assert config_signature(a) == config_signature(b)  # key order irrelevant
    assert config_signature(a) != config_signature({"max_rounds": 4, "query": "x"})

    assert safe_load_config({"filter_type": "bm25", "global_budget": 10}) == {
        "filter_type": "bm25",
        "global_budget": 10,
    }
    with pytest.raises(ValueError, match="unknown config key"):
        safe_load_config({"__import__": "os"})
    with pytest.raises(ValueError, match="expected"):
        safe_load_config({"global_budget": "10"})
    with pytest.raises(ValueError, match="filter_type"):
        safe_load_config({"filter_type": "nope"})


def test_token_bucket_matches_simulator(spark, tmp_path_factory):
    """R3/R4: host budgets carry token balances across rounds (capacity vs
    slower refill); engine equals the simulator exactly, including after a
    resume (host_state is checkpointed)."""
    root = str(tmp_path_factory.mktemp("bucket"))
    cfg = dict(global_budget=120, max_depth=3, max_attempts=2, record_order=True)
    eng = CrawlEngine(
        spark, root, EngineConfig(max_rounds=2, token_bucket=True, **cfg)
    )
    m1 = eng.run(WG.gen_seeds(48))
    # resume with a fresh engine — token balances must come from the snapshot
    eng2 = CrawlEngine(
        spark, root, EngineConfig(max_rounds=4, token_bucket=True, **cfg)
    )
    m2 = eng2.run()
    sim = simulate(
        WG.gen_seeds(48), SimConfig(max_rounds=4, token_bucket=True, **cfg)
    )
    all_metrics = m1 + m2
    assert len(all_metrics) == len(sim.round_metrics)
    for i, m in enumerate(all_metrics):
        assert m["crawl_order"] == sim.crawl_order[i], f"round {i}"
        assert m["urls_popped"] == sim.round_metrics[i]["urls_popped"], f"round {i}"
    # the slow-refill hosts must actually have been throttled below capacity
    # at least once (otherwise the carry logic was never exercised)
    nobucket = simulate(WG.gen_seeds(48), SimConfig(max_rounds=4, **cfg))
    assert [m["urls_popped"] for m in sim.round_metrics] != [
        m["urls_popped"] for m in nobucket.round_metrics
    ]


def test_distributed_limit_exact(spark):
    """The >20k path of distributed_limit (range partition + key cutoff,
    ADVICE r1 #2 rewrite) must equal a plain orderBy().limit() exactly."""
    from pyspark.sql import functions as F

    from deepcrawl4ai_spark.frontier.engine import _score_sql, distributed_limit

    n_rows, n = 60_000, 25_000
    df = (
        spark.range(n_rows)
        .select(F.sha1(F.encode(F.col("id").cast("string"), "UTF-8")).alias("url_hash"))
        .select(
            "url_hash",
            _score_sql(F.col("url_hash")).alias("score"),
            (F.conv(F.substring("url_hash", 9, 2), 16, 10).cast("int") % 5).alias(
                "depth"
            ),
        )
    )
    got = {
        r["url_hash"]
        for r in distributed_limit(df, n, spark).select("url_hash").collect()
    }
    want = {
        r["url_hash"]
        for r in df.orderBy(
            F.col("score").desc(), F.col("depth").asc(), F.col("url_hash").asc()
        )
        .limit(n)
        .select("url_hash")
        .collect()
    }
    assert len(got) == n
    assert got == want


def test_bloom_rebuild_keeps_golden_parity(spark, tmp_path_factory, monkeypatch):
    """With a tiny bloom floor the seen-set outgrows the filter fast: the
    engine must spill generations and trigger the log-rebuild path while
    still matching the simulator exactly (correctness never bloom-dependent)."""
    from deepcrawl4ai_spark.frontier import bloom
    from deepcrawl4ai_spark.frontier.simulator import SimConfig, simulate

    monkeypatch.setattr(bloom, "MIN_BITS", 16)  # rebuild floor: ~204 items
    # keep a seen filter from the seeds on (default gate: none below 10^6)
    monkeypatch.setattr(E, "PRUNE_MIN_SEEN", 0)
    cfg = dict(global_budget=150, max_depth=3, max_attempts=2, record_order=True)
    sim = simulate(WG.gen_seeds(48), SimConfig(max_rounds=3, **cfg))
    root = str(tmp_path_factory.mktemp("rebuild"))
    eng = CrawlEngine(spark, root, EngineConfig(max_rounds=3, **cfg))
    metrics = eng.run(WG.gen_seeds(48))
    assert any(m.get("bloom_built_n", 0) > 48 for m in metrics), "no rebuild ran"
    assert len(metrics) == len(sim.round_metrics)
    for i, m in enumerate(metrics):
        assert m["crawl_order"] == sim.crawl_order[i], f"round {i}"
        assert m["new_frontier"] == sim.round_metrics[i]["new_frontier"]


def test_seen_filter_gate_crossing(spark, tmp_path_factory, monkeypatch):
    """Below PRUNE_MIN_SEEN a round dedups with one exact anti-join and
    commits no seen filter; the round that reaches the gate builds it from
    the seen_hashes log. 12 seeds at budget 12: the seen set holds 109
    hashes before round 3 and 120 before round 4, so a gate of 115 crosses
    at round 4. The engine equals the simulator in every round, also when
    killed before the crossing and resumed across it, and a round's Spark
    job count does not grow with the crawl's history."""
    monkeypatch.setattr(E, "PRUNE_MIN_SEEN", 115)
    cfg = dict(global_budget=12, max_depth=3, max_attempts=2, record_order=True)
    seeds = WG.gen_seeds(12)
    sim = simulate(seeds, SimConfig(max_rounds=6, **cfg))
    crossing = 4

    def check(metrics, rounds):
        assert [m["round"] for m in metrics] == list(rounds)
        for m in metrics:
            i = m["round"]
            assert m["crawl_order"] == sim.crawl_order[i], f"round {i}"
            for k in ("urls_popped", "dedup_dropped", "new_frontier"):
                assert m[k] == sim.round_metrics[i][k], f"round {i} {k}"

    # job groups are named by round number and shared with earlier crawls
    # on the same SparkContext: count only the jobs this run adds
    tracker = spark.sparkContext.statusTracker()
    groups = ("crawl_round_1", "crawl_round_3")
    before = {g: set(tracker.getJobIdsForGroup(g)) for g in groups}
    root = str(tmp_path_factory.mktemp("gate"))
    eng = CrawlEngine(spark, root, EngineConfig(max_rounds=6, **cfg))
    check(eng.run(seeds), range(6))
    n_jobs = [len(set(tracker.getJobIdsForGroup(g)) - before[g]) for g in groups]
    assert n_jobs[0] == n_jobs[1] > 0, n_jobs
    for r in range(-1, 6):
        has_filter = "seen_filter" in eng.store.snapshot_at(r)["tables"]
        assert has_filter == (r >= crossing), f"round {r}"

    # kill before the crossing; the resumed run builds the filter itself
    root = str(tmp_path_factory.mktemp("gate_resume"))
    killed = CrawlEngine(spark, root, EngineConfig(max_rounds=crossing, **cfg))
    check(killed.run(seeds), range(crossing))
    resumed = CrawlEngine(spark, root, EngineConfig(max_rounds=6, **cfg)).run()
    check(resumed, range(crossing, 6))
    assert resumed[0].get("bloom_rebuilt") is True


def test_hot_host_salting_golden(spark, tmp_path_factory):
    """SURVEY §4 item 2: with budget_scale large enough to cross
    salt_threshold, the salted two-stage selection must still equal the
    simulator exactly, and the fetch stage must stay balanced (no partition
    holds >2x the mean)."""
    from deepcrawl4ai_spark.frontier.simulator import SimConfig, simulate

    cfg = dict(
        global_budget=1200,
        max_depth=2,
        max_attempts=2,
        budget_scale=40,  # hottest host budget = 8*40 = 320 > salt_threshold
        record_order=True,
    )
    sim = simulate(WG.gen_seeds(64), SimConfig(max_rounds=2, **cfg))
    root = str(tmp_path_factory.mktemp("salt"))
    # opt into the salt path at test scale (default threshold is calibrated
    # for 10^5+ budgets where the extra pre-stage shuffle actually pays)
    eng = CrawlEngine(spark, root, EngineConfig(max_rounds=2, salt_threshold=64, **cfg))
    assert eng._max_budget > eng.cfg.salt_threshold  # salt path engaged
    metrics = eng.run(WG.gen_seeds(64))
    assert len(metrics) == len(sim.round_metrics)
    for i, m in enumerate(metrics):
        assert m["crawl_order"] == sim.crawl_order[i], f"round {i}"
        # a mega-host's selected budget must not concentrate the fetch
        per_part = [p["rows"] for p in m["per_partition"]]
        mean = sum(per_part) / len(per_part)
        assert max(per_part) <= 2 * mean, f"round {i} fetch skewed: {per_part}"


def _failing_url() -> str:
    """First page in the synthetic universe whose fetch deterministically
    fails (webgraph: sha1 int % 37 == 0)."""
    for hi in range(len(WG.hosts())):
        for pj in range(WG.host_pages()[hi]):
            u = WG.page_url(hi, pj)
            if WG.fetch_page(u).fetch_status == "failed":
                return u
    raise AssertionError("no failing URL in universe")


def test_pending_retries_not_abandoned(spark, tmp_path_factory):
    """A round with zero due candidates but queued retries must skip ahead to
    the earliest due_round, not terminate (ADVICE r1 #1). Single failing
    seed: round 0 fails (retry due at round 2), round 1 is empty, round 2
    retries and exhausts max_attempts — no URL is left queued."""
    from deepcrawl4ai_spark.frontier.simulator import SimConfig, simulate

    url = _failing_url()
    sim = simulate([url], SimConfig(max_rounds=5, **CFG))
    assert [m["round"] for m in sim.round_metrics] == [0, 2]  # gap skipped

    root = str(tmp_path_factory.mktemp("retrygap"))
    eng = CrawlEngine(spark, root, EngineConfig(max_rounds=5, **CFG))
    metrics = eng.run([url])
    assert [m["round"] for m in metrics] == [0, 2]
    for i, m in enumerate(metrics):
        assert m["crawl_order"] == sim.crawl_order[i]
        assert m["urls_failed"] == sim.round_metrics[i]["urls_failed"]
    frontier = eng.store.read(spark, "frontier")
    states = {r["url_hash"]: r["state"] for r in frontier.collect()}
    assert states == {h: e.state for h, e in sim.frontier.items()}
    assert "queued" not in states.values()  # nothing abandoned


def test_crash_between_data_write_and_pointer_flip(spark, tmp_path_factory):
    """T2/T7 idempotent recovery: simulate a crash AFTER round 2's data files
    were written but BEFORE the manifest pointer flipped — the snapshot still
    points at round 1; re-running overwrites the orphan data and converges to
    the same final state as an uninterrupted run."""
    import os
    import shutil

    root = str(tmp_path_factory.mktemp("crash"))
    eng = CrawlEngine(spark, root, EngineConfig(max_rounds=2, **CFG))
    eng.run(WG.gen_seeds(32))

    # simulate the partial round-2 write: orphan data dirs, no pointer flip
    for table in ("active", "results", "done"):
        src = os.path.join(root, "data", table, "r00001")
        dst = os.path.join(root, "data", table, "r00002")
        if os.path.exists(src):
            shutil.copytree(src, dst)
    assert eng.store.last_round() == 1  # pointer untouched

    eng2 = CrawlEngine(spark, root, EngineConfig(max_rounds=3, **CFG))
    m = eng2.run()
    assert [x["round"] for x in m] == [2]
    sim = simulate(WG.gen_seeds(32), SimConfig(max_rounds=3, **CFG))
    assert m[0]["crawl_order"] == sim.crawl_order[2]
    frontier = eng2.store.read(spark, "frontier")
    assert {r["url_hash"] for r in frontier.select("url_hash").collect()} == sim.seen

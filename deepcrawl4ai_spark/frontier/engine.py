"""The frontier round loop — the reference's worker loop (crawl.py:189-290)
re-expressed as Spark rounds over checkpointed tables.

Per round (all DataFrame ops, one driver-side loop):
  selection   S4/O1/O2: due-filter → per-host top-budget in ONE window pass
              (the literal rank bound triggers Catalyst's WindowGroupLimit:
              map-side partial top-k per host BEFORE the shuffle — the
              north_rule's hot-host skew handling; a mega-host's queued
              millions never travel; above salt_threshold an exact
              (host, salt) pre-stage spreads even the survivors) → exact
              distributed global top-budget (range partition + key cutoff;
              no TakeOrdered driver merge).
  politeness  R3/R5: per-host budget = robots.max_tokens per round — budget
              arithmetic on round numbers, no wall clock, so replays/resume
              are exact.
  fetch       F1/F2: mapInPandas batches, rebalanced with an explicit
              round-robin repartition so the expensive stage uses every core
              (deterministic synthetic web here; async client pool on a real
              cluster).
  dedup       J3: below the seen-set gate (PRUNE_MIN_SEEN) ONE exact
              left-anti join of the outlink batch against the whole
              append-only seen_hashes log — no seen filter is kept. From the
              round the seen set reaches the gate on: bloom prefilter
              (partitioned, size-adaptive generations, applyInPandas; built
              from the log in that round) → exact left-anti rescue ONLY for
              maybe-seen rows, against ONLY the seen_hashes storage buckets
              they hash into (partition-pruned log scan).
  commit      X3/T7: frontier (+ seen_filter at/above the gate) + results in
              one atomic snapshot (round metrics/lineage live in the manifest
              itself); kill + restart resumes without re-fetching.

Canonical total order (SURVEY.md §4.5): (-score, depth, url_hash) — shared
with the pure-Python simulator, which is the golden oracle for crawl-order /
seen-set / span equality.

Efficiency notes (the 100 TB view):
- Round metrics come from one ≤budget-row collect (test scale, also records
  crawl order) or two tiny aggregates (bench scale) — never 10^5 rows to the
  driver.
- The frontier/seen-filter carry between rounds is the just-written snapshot
  read back lazily (truncates lineage without recomputing the plan).
- On a real cluster the frontier table is hash-partitioned by url_hash
  bucket; the per-round rewrite becomes an Iceberg MERGE on the touched
  partitions only.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from deepcrawl4ai_spark.frontier import bloom, webgraph as WG
from deepcrawl4ai_spark.frontier.checkpoint import CheckpointStore
from deepcrawl4ai_spark.frontier.fetcher import run_fetch, transport_replayable

FRONTIER_COLS = (
    "url_norm",
    "url_hash",
    "host",
    "depth",
    "score",
    "due_round",
    "state",
    "round_added",
    "attempt",
)


from deepcrawl4ai_spark.frontier import DEFAULT_HOST_MAX_TOKENS

# The seen-set gate, shared by the seen filter and the bucket prune: below
# it the append-only seen_hashes log is small enough to scan whole, so a
# round dedups with one exact anti-join and keeps no filter (the bloom
# probe, the filter merge and bucket discovery are jobs that pay only in
# front of a log too large to scan). At it, round_iter builds the filter
# from the log. Purely physical: results never depend on the filter.
PRUNE_MIN_SEEN = int(os.environ.get("CRAWL_PRUNE_MIN_SEEN", "1000000"))


@dataclass
class EngineConfig:
    global_budget: int = 200
    max_rounds: int = 10
    max_depth: int = 4
    max_attempts: int = 2
    budget_scale: int = 1  # multiplies per-host robots budgets (bench knob)
    # record_order collects every fetched row's metadata to the driver each
    # round (the golden-test crawl-order record). Default OFF: at 10^7-row
    # rounds a forgotten flag is a driver OOM — tests opt in explicitly.
    record_order: bool = False
    # R1/X1 dynamic rate limit (reference monitor.py:200-238): next round's
    # global budget = max(floor, base * (1 - last_round_error_rate)).
    # Deterministic (metrics-derived); the production controller also folds
    # in cpu/mem gauges, which are non-replayable and stay out of tests.
    adaptive_budget: bool = False
    min_budget: int = 10
    # A3/R7 health gate (reference monitor.py:175-238 + scrape.py:12-31 gate
    # admission on cpu/mem/error): optional driver-side callable returning
    # (cpu_frac, mem_frac) in [0,1]; the next round's budget factor becomes
    # min(1-cpu, 1-mem, 1-err). Gauges are non-replayable by nature — leave
    # None (off) for golden tests and deterministic replays.
    health_gauges: object | None = None
    # Hot-host salting (SURVEY §4 item 2): when per-host budgets exceed
    # salt_threshold, selection runs a pre-stage window over (host, salt) so
    # no single reducer sorts a mega-host's entire queued set — each salt
    # keeps its own top-budget and the exact per-host pass then ranks only
    # ≤ salt_splits × budget survivors. Physical only: results are identical
    # (any row in the host's true top-budget is inside its salt's top-budget).
    # Calibration: WindowGroupLimit already map-side-caps the UNSALTED
    # window's shuffle to ≤ budget × map-partitions rows per host, so a
    # host reducer's sort is bounded regardless — the pre-stage (a second
    # full shuffle of the due set EVERY round) only pays once that bounded
    # sort itself is large, i.e. budgets in the 10^5+ range on wide inputs.
    # Profiled at budget≈2k/32 maps the pre-stage was pure overhead
    # (~3-5 s/round at 16 cores); tests opt in with a small threshold.
    salt_threshold: int = 100_000
    salt_splits: int = 16
    # R3/R4 token bucket (reference TokenBucket, redisCache.py:85-89): when
    # on, a host's round budget is min(capacity, tokens + refill) with the
    # balance carried in a checkpointed host_state table; refill =
    # robots.rps_budget per round. When off, budget = capacity each round
    # (equivalent to refill == capacity). All integer round arithmetic — no
    # wall clock — so replays/resume are exact.
    token_bucket: bool = False
    # The optimistic selection cut (run_round) fetches the host-capped set
    # BEFORE confirming it fits the round budget; an overshoot discards the
    # fetch and re-fetches the exact subset — same-round double fetch. Sound
    # ONLY when the fetch stage is side-effect-free and replayable (the
    # synthetic transport is; a real HTTP transport is NOT: double-fetching
    # is a politeness violation). None = derive from the transport (synthetic
    # → True, http → False); set explicitly to override.
    replayable_fetch: bool | None = None
    # Fetch transport dict (fetcher.make_fetch_map): None = env default
    # (CRAWL_TRANSPORT), {"kind": "synthetic"}, or
    # {"kind": "http", "base": "http://host:port"}. Golden parity between the
    # two is tests/test_transport.py.
    transport: dict | None = None


def _score_sql(url_hash_col):
    """url_score as pure SQL — must equal webgraph.url_score bit-for-bit:
    ((int(hash[:8],16) >> 2) % 10000) / 10000.0"""
    v = F.conv(F.substring(url_hash_col, 1, 8), 16, 10).cast("long")
    return (F.shiftright(v, 2) % 10000) / 10000.0


def _order_cols():
    return [F.col("score").desc(), F.col("depth").asc(), F.col("url_hash").asc()]


def _unpersist_local_checkpoint(df: DataFrame) -> None:
    """Eagerly reclaim a localCheckpoint's cached blocks instead of waiting
    for the ContextCleaner's GC cycle (ADVICE r2: long drains with large
    frontiers accumulate checkpoint storage between cleaner passes). A
    localCheckpointed DataFrame's analyzed plan is a LogicalRDD wrapping the
    persisted internal RDD — unpersist that exact RDD. Best-effort: on any
    py4j/plan-shape mismatch the cleaner still reclaims it eventually."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # noqa: BLE001 — fall back to ContextCleaner reclaim
        pass


def distributed_limit(
    df: DataFrame, n: int, spark: SparkSession, holds: list | None = None
) -> DataFrame:
    """Exact global top-n in canonical order WITHOUT TakeOrdered's
    driver-side merge (which materializes n rows × partitions on the driver —
    the serial bottleneck at 10^5+ budgets).

    Strategy: range-partition on the sort key, localCheckpoint the ranged
    data (repartitionByRange's boundary sampling is nondeterministic across
    recomputations — counts and boundary contents must come from ONE stable
    materialization; lost blocks fail loudly instead of silently
    re-sampling), count per partition (tiny collect), locate the global
    n-th row's KEY inside the boundary partition, then filter the ORIGINAL
    df by key ≤ that key. The final selection is key-based, never
    partition-id-based, so it stays exact even if the upstream plan is later
    recomputed with different range boundaries. Exact because the sort key
    (-score, depth, url_hash) is a total order (url_hash unique)."""
    if n <= 20_000:
        return df.orderBy(*_order_cols()).limit(n)
    parts = max(spark.sparkContext.defaultParallelism * 2, 16)
    # persist the input: the range sampling pass, the count, and the final
    # key filter would otherwise recompute the (expensive) upstream plan
    df = df.persist()
    if holds is not None:
        holds.append(df)
    ranged = (
        df.repartitionByRange(parts, *_order_cols())
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = {
        r["_pid"]: r["cnt"]
        for r in ranged.groupBy("_pid").agg(F.count("*").alias("cnt")).collect()
    }
    total = 0
    target_pid: int | None = None
    target_rank = 0
    for pid in sorted(counts):
        if total < n <= total + counts[pid]:
            target_pid = pid
            target_rank = n - total
        total += counts[pid]
    if total <= n or target_pid is None:
        _unpersist_local_checkpoint(ranged)
        return df  # fewer than n rows — everything is selected
    # the global n-th row in canonical order = row target_rank of target_pid
    # (range partitions are ordered by pid along the sort key)
    w = W.partitionBy("_pid").orderBy(*_order_cols())
    krow = (
        ranged.filter(F.col("_pid") == target_pid)
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == target_rank)
        .select("score", "depth", "url_hash")
        .head()
    )
    ks, kd, ku = krow["score"], krow["depth"], krow["url_hash"]
    _unpersist_local_checkpoint(ranged)
    # key-based cutoff: (-score, depth, url_hash) ≤ (-ks, kd, ku). Safe to
    # compare doubles for equality — scores are closed-form int/10000.0.
    return df.filter(
        (F.col("score") > F.lit(ks))
        | ((F.col("score") == F.lit(ks)) & (F.col("depth") < F.lit(kd)))
        | (
            (F.col("score") == F.lit(ks))
            & (F.col("depth") == F.lit(kd))
            & (F.col("url_hash") <= F.lit(ku))
        )
    )


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        cfg: EngineConfig | None = None,
        robots_rows: list[dict] | None = None,
        robots_df: DataFrame | None = None,
    ):
        """*robots_rows* overrides the politeness dim (default: the synthetic
        config table). *robots_df* is the fully distributed variant (ADVICE
        r3): a DataFrame with fetch_robots_df's columns (host, crawl_delay,
        rps_budget, max_tokens, disallow_rules) — e.g. robots.txt bodies
        fetched over the wire — consumed WITHOUT ever materializing rows on
        the driver: it is localCheckpointed once (the robots CACHE — the wire
        fetch runs exactly once, not per broadcast re-plan) and the two
        driver-side bounds come from a single 2-value aggregate. Driver rows
        take the same path (an uncached Python-rows frame re-runs a Python
        job for every broadcast of every round)."""
        self.spark = spark
        self.cfg = cfg or EngineConfig()
        self.store = CheckpointStore(store_root)
        scale = self.cfg.budget_scale
        if robots_df is None:
            robots = robots_rows if robots_rows is not None else WG.robots_rows()
            robots_df = spark.createDataFrame(
                [
                    (r["host"], r["max_tokens"], float(r["rps_budget"]), r["disallow_rules"])
                    for r in robots
                ],
                "host string, max_tokens int, rps_budget double,"
                " disallow_rules array<string>",
            )
        dim = robots_df.select(
            "host",
            (F.col("max_tokens") * scale).cast("int").alias("max_tokens"),
            (F.col("rps_budget").cast("int") * scale).cast("int").alias("refill"),
            "disallow_rules",
        )
        # materialize once, executor-side: this IS the robots cache
        self.robots_df = dim.localCheckpoint()
        agg = self.robots_df.agg(F.max("max_tokens"), F.sum("max_tokens")).head()
        self._max_budget = int(agg[0]) if agg[0] is not None else 2
        # upper bound on a round's host-capped selection IF every robots
        # host has queued candidates — gates the optimistic fetch (run_round)
        self._sum_host_budgets = int(agg[1]) if agg[1] is not None else 0

    # -- seed ingest (S1) -------------------------------------------------------

    def submit_seeds(self, seed_urls: list[str]) -> None:
        """Initialize the frontier + seen log from a seed list (idempotent:
        no-op if a checkpoint already exists — resume wins). No seen filter:
        round_iter builds it from the log in the first round at the gate."""
        if self.store.last_round() is not None:
            return
        rows = WG.seed_frontier_rows(seed_urls)
        frontier = self.spark.createDataFrame(
            [
                (
                    r["url_norm"],
                    r["url_hash"],
                    r["url_norm"].split("://", 1)[1].split("/", 1)[0],
                    0,
                    r["score"],
                    0,
                    "queued",
                    0,
                    0,
                )
                for r in rows
            ],
            self._frontier_schema(),
            # an API-edge seed list is small — don't slice it into one local
            # partition per core (32 near-empty tasks per consuming job at
            # bench scale; guide §6 small-files). coalesce is narrow: no job.
        ).coalesce(max(2, min(8, len(rows) // 1000 + 1)))
        results = self.spark.createDataFrame([], self._results_schema())
        empty_done = self.spark.createDataFrame([], self._frontier_schema())
        self.store.commit_round(
            -1,
            overwrite={"active": frontier},
            append={
                "results": results,
                "done": empty_done,
                "seen_hashes": frontier.select(
                    "url_hash", bloom.seen_bucket_col(F.col("url_hash"))
                ),
            },
            metrics={"round": -1, "seeded": len(rows)},
        )

    def submit_frontier(self, frontier: DataFrame) -> None:
        """Distributed seed ingest: accept a prepared frontier DataFrame
        (FRONTIER_COLS) — the 10^10-scale path, where seeds are built with
        DataFrame ops (spark.range → url synth → sha1), never a driver loop.
        Idempotent like submit_seeds."""
        if self.store.last_round() is not None:
            return
        frontier = frontier.select(*FRONTIER_COLS).persist()
        n_seeds = frontier.count()  # once, at seed time — the seen-set size
        results = self.spark.createDataFrame([], self._results_schema())
        empty_done = self.spark.createDataFrame([], self._frontier_schema())
        self.store.commit_round(
            -1,
            overwrite={"active": frontier},
            append={
                "results": results,
                "done": empty_done,
                "seen_hashes": frontier.select(
                    "url_hash", bloom.seen_bucket_col(F.col("url_hash"))
                ),
            },
            metrics={"round": -1, "seeded": n_seeds},
        )
        frontier.unpersist()

    def resubmit(self, urls: list[str], bypass_cache: bool = False) -> dict:
        """X9 cache-mode analog (reference ``CacheMode.ENABLED/BYPASS``,
        tasks.py:182, api.py:229): enqueue *urls* into an existing crawl.

        ENABLED (default): the seen set IS the fetch cache — already-seen
        URLs are skipped, unseen ones join the queue. BYPASS: URLs whose
        terminal record sits in the append-only ``done`` log are re-queued
        as a fresh submission (attempt reset, due next round); the old
        terminal row stays in ``done`` and the re-fetch appends a second
        results row — a crawl-refresh, exactly the reference's BYPASS
        re-crawl with history retained. URLs still queued are never
        duplicated. Commits as its own snapshot round (resume-safe)."""
        last = self.store.last_round()
        if last is None:
            raise ValueError("no checkpoint — submit seeds first")
        r = last + 1
        rows = WG.seed_frontier_rows(urls)
        urls_df = self.spark.createDataFrame(
            [
                (
                    x["url_norm"],
                    x["url_hash"],
                    x["url_norm"].split("://", 1)[1].split("/", 1)[0],
                    x["score"],
                )
                for x in rows
            ],
            "url_norm string, url_hash string, host string, score double",
        ).persist()
        # seen check against the exact log, pruned to the buckets of the
        # submitted hashes (known driver-side — the list is an API edge)
        buckets = sorted({bloom.seen_bucket_of(x["url_hash"]) for x in rows})
        seen = self.store.read(self.spark, "seen_hashes")
        if "bucket" in seen.columns and len(buckets) < bloom.SEEN_BUCKETS:
            seen = seen.filter(F.col("bucket").isin(buckets))
        fresh = (
            urls_df.join(seen.select("url_hash"), "url_hash", "left_anti")
            .select(
                "url_norm",
                "url_hash",
                "host",
                F.lit(0).alias("depth"),
                "score",
                F.lit(r + 1).alias("due_round"),
                F.lit("queued").alias("state"),
                F.lit(r + 1).alias("round_added"),
                F.lit(0).alias("attempt"),
            )
            .persist()
        )
        n_fresh = fresh.count()
        requeued = self.spark.createDataFrame([], self._frontier_schema())
        n_requeued = 0
        prior_active = self.store.read(self.spark, "active")
        if bypass_cache:
            done = self.store.read(self.spark, "done")
            if done is not None:
                w = W.partitionBy("url_hash").orderBy(
                    F.col("round_added").desc(), F.col("attempt").desc()
                )
                requeued = (
                    done.join(urls_df.select("url_hash"), "url_hash", "left_semi")
                    # 'URLs still queued are never duplicated': a bypass
                    # resubmit issued twice before the re-fetch lands must be
                    # a no-op the second time — anti-join against the live
                    # queue so one url_hash never holds two queued rows
                    .join(
                        prior_active.filter(F.col("state") == "queued").select(
                            "url_hash"
                        ),
                        "url_hash",
                        "left_anti",
                    )
                    .withColumn("_rn", F.row_number().over(w))
                    .filter(F.col("_rn") == 1)
                    .select(
                        "url_norm",
                        "url_hash",
                        "host",
                        "depth",
                        "score",
                        F.lit(r + 1).alias("due_round"),
                        F.lit("queued").alias("state"),
                        F.lit(r + 1).alias("round_added"),
                        F.lit(0).alias("attempt"),
                    )
                    .persist()
                )
                n_requeued = requeued.count()
        active = prior_active.unionByName(fresh).unionByName(requeued)
        overwrite = {"active": active}
        filters = self.store.read(self.spark, "seen_filter")
        if filters is not None:  # none below the gate (round_iter builds it)
            overwrite["seen_filter"] = bloom.add_to_filters(
                filters, fresh.select("url_hash"), r
            )
        host_state = self.store.read(self.spark, "host_state")
        if host_state is not None:
            overwrite["host_state"] = host_state
        metrics = {
            "round": r,
            "state": "resubmitted",
            "resubmitted": len(rows),
            "new_frontier": n_fresh,
            "requeued": n_requeued,
        }
        self.store.commit_round(
            r,
            overwrite=overwrite,
            append={
                "results": self.spark.createDataFrame([], self._results_schema()),
                "done": self.spark.createDataFrame([], self._frontier_schema()),
                "seen_hashes": fresh.select(
                    "url_hash", bloom.seen_bucket_col(F.col("url_hash"))
                ),
            },
            metrics=metrics,
        )
        for df in (urls_df, fresh, requeued):
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — empty frames have no storage
                pass
        return metrics

    @staticmethod
    def _frontier_schema() -> str:
        return (
            "url_norm string, url_hash string, host string, depth int, score double,"
            " due_round int, state string, round_added int, attempt int"
        )

    @staticmethod
    def _results_schema() -> str:
        return (
            "doc_id string, url string, url_hash string, host string, depth int,"
            " round int, fetch_status string,"
            " spans array<struct<kind:string,text:string,media_ref:string,offset:int>>,"
            " links array<string>, error string"
        )

    @staticmethod
    def _rounds_schema() -> str:
        return (
            "round int, urls_popped long, urls_fetched long, urls_failed long,"
            " outlinks_seen long, dedup_dropped long, new_frontier long, state string"
        )

    # -- one round -----------------------------------------------------------------

    def run_round(
        self,
        r: int,
        frontier: DataFrame,
        filters: DataFrame | None,
        budget: int | None = None,
        extra_metrics: dict | None = None,
        active_est: int | None = None,
    ) -> tuple[dict, DataFrame | None, DataFrame | None]:
        """Execute and commit round *r*. *filters* is the carried seen
        filter, None below the PRUNE_MIN_SEEN gate (round_iter decides):
        then the round dedups with one exact anti-join against the whole
        seen_hashes log and commits no filter."""
        cfg = self.cfg
        round_budget = budget if budget is not None else cfg.global_budget
        self.spark.sparkContext.setJobGroup(
            f"crawl_round_{r}", f"frontier round {r}", interruptOnCancel=True
        )
        import time as _time

        _profile = os.environ.get("CRAWL_PROFILE") == "1"
        _phases: dict[str, float] = {}
        _t = _time.time()

        def _mark(name: str) -> None:
            nonlocal _t
            if _profile:
                _phases[name] = round(_time.time() - _t, 2)
                _t = _time.time()

        cand = frontier.filter((F.col("state") == "queued") & (F.col("due_round") <= r))

        # politeness budget join (broadcast — robots is a small dim table).
        # token_bucket: budget = min(capacity, carried tokens + refill); the
        # balance lives in the checkpointed host_state table (R3/R4).
        host_state = (
            self.store.read(self.spark, "host_state") if cfg.token_bucket else None
        )
        if cfg.token_bucket:
            eff = self.robots_df.select("host", "max_tokens", "refill")
            if host_state is not None:
                eff = eff.join(host_state, "host", "left")
            else:
                eff = eff.withColumn("tokens", F.lit(None).cast("int"))
            eff = (
                eff.withColumn(
                    "tokens", F.coalesce(F.col("tokens"), F.col("max_tokens"))
                )
                .withColumn(
                    "avail",
                    F.least(F.col("max_tokens"), F.col("tokens") + F.col("refill")),
                )
                .select("host", "avail")
                .persist()
            )
            budgets = eff.select("host", F.col("avail").alias("max_tokens"))
        else:
            eff = None
            budgets = self.robots_df.select("host", "max_tokens")
        # fallback for hosts with no robots row scales like every other
        # budget (the simulator applies the same DEFAULT_HOST_MAX_TOKENS)
        cand = cand.join(F.broadcast(budgets), "host", "left").withColumn(
            "budget",
            F.coalesce(
                F.col("max_tokens"), F.lit(DEFAULT_HOST_MAX_TOKENS * cfg.budget_scale)
            ),
        )

        # per-host exact top-budget in ONE window pass. The literal rank bound
        # makes Catalyst insert WindowGroupLimit: each map task keeps only its
        # local top-maxb per host BEFORE the shuffle — that is the hot-host
        # skew mitigation (a mega-host's million queued rows never travel;
        # at most maxb × input-partitions do). The exact per-host budget
        # (a column from robots) is then applied on the ranked rows.
        max_budget = max(self._max_budget, 2)
        salted = int(max_budget) > cfg.salt_threshold
        if salted:
            # hot-host pre-stage: exact per-(host, salt) top-budget first.
            # The salt comes from url_hash chars 5-8 (independent of the
            # bloom partition bits), so a mega-host's rows spread over
            # salt_splits reducers; survivors ≤ salt_splits × budget per
            # host, which the exact per-host pass below ranks cheaply.
            w1 = W.partitionBy("host", "_salt").orderBy(*_order_cols())
            cand = (
                cand.withColumn(
                    "_salt",
                    F.pmod(
                        F.conv(F.substring("url_hash", 5, 4), 16, 10).cast("int"),
                        F.lit(int(cfg.salt_splits)),
                    ),
                )
                .withColumn("rk1", F.row_number().over(w1))
                .filter(F.col("rk1") <= F.lit(int(max_budget)))
                .filter(F.col("rk1") <= F.col("budget"))
                .drop("_salt", "rk1")
            )
        w2 = W.partitionBy("host").orderBy(*_order_cols())
        host_capped = (
            cand.withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= F.lit(int(max_budget)))
            .filter(F.col("rk") <= F.col("budget"))
            .select(*FRONTIER_COLS)
        )
        holds: list[DataFrame] = []
        host_capped = host_capped.persist()
        holds.append(host_capped)
        # rebalance before the fetch: the selected set inherits skewed
        # partitioning (top-of-range or per-host clusters); the fetch stage is
        # the expensive one and must use every core evenly
        n_fetch = self.spark.sparkContext.defaultParallelism

        def _fetch_and_measure(sel: DataFrame):
            """Fetch + round metrics in ONE job: a small collect (test scale,
            also yields the crawl-order record) or two tiny aggregates (bench
            scale — never ship 10^5 rows to the driver)."""
            fetched = run_fetch(sel.repartition(n_fetch), cfg.transport).persist()
            order_record: list[str] | None = None
            per_partition: dict[int, int] = {}
            if cfg.record_order:
                meta = fetched.select(
                    "url_hash",
                    "score",
                    "depth",
                    "fetch_status",
                    F.size("links").alias("n_links"),
                    "fetch_pid",
                ).collect()
                popped = len(meta)
                n_success = sum(1 for m in meta if m["fetch_status"] == "success")
                outlinks = sum(
                    m["n_links"] for m in meta if m["fetch_status"] == "success"
                )
                for m in meta:
                    per_partition[m["fetch_pid"]] = per_partition.get(m["fetch_pid"], 0) + 1
                order_record = [
                    m["url_hash"]
                    for m in sorted(meta, key=lambda m: (-m["score"], m["depth"], m["url_hash"]))
                ]
            else:
                agg_rows = (
                    fetched.groupBy("fetch_status", "fetch_pid")
                    .agg(F.count("*").alias("n"), F.sum(F.size("links")).alias("nl"))
                    .collect()
                )
                popped = sum(a["n"] for a in agg_rows)
                n_success = sum(a["n"] for a in agg_rows if a["fetch_status"] == "success")
                outlinks = sum(
                    a["nl"] or 0 for a in agg_rows if a["fetch_status"] == "success"
                )
                for a in agg_rows:
                    per_partition[a["fetch_pid"]] = per_partition.get(a["fetch_pid"], 0) + a["n"]
            return fetched, popped, n_success, outlinks, per_partition, order_record

        # OPTIMISTIC selection (floor cut): in the politeness-bound regime —
        # the common crawl case — the host-capped set already fits the global
        # budget, so fetch it directly and let an Observation ride along with
        # that same job to report the selection count; only an overshoot
        # (budget-bound round) discards and redoes the exact distributed
        # top-N. Saves one full pass over the queue per round. Gated by a
        # driver-side bound: Σ per-host budgets ≤ 2× the round budget, else
        # a wrong guess wastes an unboundedly large fetch (the bound assumes
        # robots covers the host universe; unknown-host-heavy frontiers fall
        # back to count-first).
        fetched = None
        replayable = (
            cfg.replayable_fetch
            if cfg.replayable_fetch is not None
            else transport_replayable(cfg.transport)
        )
        if replayable and self._sum_host_budgets <= 2 * round_budget:
            from pyspark.sql import Observation

            obs = Observation(f"sel_r{r}")
            observed = host_capped.observe(obs, F.count(F.lit(1)).alias("n"))
            (
                fetched,
                popped,
                n_success,
                outlinks_seen,
                per_partition,
                order_record,
            ) = _fetch_and_measure(observed)
            # popped == 0 → the empty plan may have been constant-folded away
            # (PropagateEmptyRelation prunes the observe node; get would
            # fail), and 0 rows can't overshoot the budget anyway
            n_capped = int(obs.get["n"]) if popped > 0 else 0
        else:
            n_capped = host_capped.count()
        if n_capped > round_budget:
            if fetched is not None:
                fetched.unpersist()
            selected = distributed_limit(host_capped, round_budget, self.spark, holds)
            (
                fetched,
                popped,
                n_success,
                outlinks_seen,
                per_partition,
                order_record,
            ) = _fetch_and_measure(selected)
        elif fetched is None:  # count-first path and selection fits
            (
                fetched,
                popped,
                n_success,
                outlinks_seen,
                per_partition,
                order_record,
            ) = _fetch_and_measure(host_capped)
        for h in holds:
            h.unpersist()
        _mark("select_fetch_metrics")
        if popped == 0:
            fetched.unpersist()
            if eff is not None:
                eff.unpersist()
            # nothing due THIS round, but retries may be scheduled later
            # (due_round = r+1+attempt) — report the earliest pending
            # due_round so run() can skip ahead instead of abandoning them
            nxt_row = (
                frontier.filter(F.col("state") == "queued")
                .agg(F.min("due_round"))
                .head()
            )
            return (
                {"round": r, "urls_popped": 0, "empty": True, "next_due": nxt_row[0]},
                None,
                None,
            )

        succ = fetched.filter(F.col("fetch_status") == "success")

        # outlink pipeline: explode → robots/social filter → batch dedup →
        # exact anti-join against the seen log (bloom-prefiltered and
        # bucket-pruned at/above the gate)
        links = succ.filter(F.col("depth") < cfg.max_depth).select(
            (F.col("depth") + 1).alias("depth"), F.explode("links").alias("url_norm")
        )
        links = (
            links.withColumn("host", F.regexp_extract("url_norm", r"^[a-z]+://([^/]+)", 1))
            .withColumn("path", F.regexp_extract("url_norm", r"^[a-z]+://[^/]+(/.*)?$", 1))
            .filter(~F.col("host").isin(*WG.SOCIAL_HOSTS))
            .join(F.broadcast(self.robots_df.select("host", "disallow_rules")), "host", "left")
            .filter(
                ~F.coalesce(
                    F.exists("disallow_rules", lambda rule: F.col("path").startswith(rule)),
                    F.lit(False),
                )
            )
        )
        # sha1 stays JVM-side (links are already canonical — no re-normalize)
        batch = (
            links.withColumn("url_hash", F.sha1(F.encode("url_norm", "UTF-8")))
            .groupBy("url_hash")
            .agg(
                F.min("depth").alias("depth"),
                F.first("url_norm").alias("url_norm"),
                F.first("host").alias("host"),
            )
        )
        seen_hashes = self.store.read(self.spark, "seen_hashes")
        flagged = None
        if filters is None:
            # below the gate: the log is small — one exact anti-join
            new_src = batch.join(seen_hashes.select("url_hash"), "url_hash", "left_anti")
        else:
            # persist: both branches (definitely-new + rescue) read this
            # once, not recompute the explode→groupBy→cogroup chain each
            flagged = bloom.maybe_seen(batch, filters).persist()
            # exact-rescue anti-join, PARTITION-PRUNED: only the storage
            # buckets present among maybe-seen candidates are read from the
            # log (tiny distinct-collect over the persisted flagged set; at
            # 10^10 hashes the difference between scanning the whole log
            # and a few buckets per round)
            maybe = flagged.filter(F.col("maybe_seen"))
            buckets = [
                row[0]
                for row in maybe.select(
                    (F.col("partition_id") % bloom.SEEN_BUCKETS).alias("b")
                )
                .distinct()
                .collect()
            ]
            new_src = flagged.filter(~F.col("maybe_seen"))
            if buckets:  # else the bloom says every candidate is new
                if "bucket" in seen_hashes.columns and len(buckets) < bloom.SEEN_BUCKETS:
                    seen_hashes = seen_hashes.filter(F.col("bucket").isin(buckets))
                rescued = maybe.join(
                    seen_hashes.select("url_hash"), "url_hash", "left_anti"
                )
                new_src = new_src.unionByName(rescued)
        new_rows = (
            new_src
            .select(
                "url_norm",
                "url_hash",
                "host",
                "depth",
                _score_sql(F.col("url_hash")).alias("score"),
                F.lit(r + 1).alias("due_round"),
                F.lit("queued").alias("state"),
                F.lit(r + 1).alias("round_added"),
                F.lit(0).alias("attempt"),
            )
            .persist()
        )
        new_count = new_rows.count()
        _mark("outlinks_dedup")

        # frontier state update (the "pop" rewrite — reference LTRIM analog).
        # The outcome side is ≤ round-budget rows (tiny next to the queue):
        # broadcast it so the O(queue) rewrite never shuffles the frontier.
        # At 10^8+ round budgets the hint stops binding and AQE falls back
        # to a shuffle join — correctness unchanged.
        outcome = fetched.select("url_hash", F.col("fetch_status").alias("_st"))
        if popped <= 2_000_000:
            outcome = F.broadcast(outcome)
        updated = (
            frontier.join(outcome, "url_hash", "left")
            .withColumn(
                "attempt",
                F.when(F.col("_st") == "failed", F.col("attempt") + 1).otherwise(
                    F.col("attempt")
                ),
            )
            .withColumn(
                "state",
                F.when(F.col("_st") == "success", F.lit("fetched"))
                .when(
                    (F.col("_st") == "failed") & (F.col("attempt") >= cfg.max_attempts),
                    F.lit("failed"),
                )
                .otherwise(F.col("state")),
            )
            .withColumn(
                "due_round",
                F.when(
                    (F.col("_st") == "failed") & (F.col("state") == "queued"),
                    F.lit(r + 1) + F.col("attempt"),
                ).otherwise(F.col("due_round")),
            )
            .select(*FRONTIER_COLS)
            .persist()
        )
        # split: terminal rows (fetched/failed) leave the live queue for the
        # append-only done log — the per-round rewrite is O(queue), not
        # O(all-seen); retry rows stay queued with their new due_round
        done_rows = updated.filter(F.col("state") != "queued")
        # bound write fan-out with a repartition (NOT coalesce — coalesce
        # would cap the upstream join's parallelism too). Fan-out is sized
        # from the tracked queue estimate when the driver supplies one
        # (guide §6: file count follows data volume, not core count — a
        # 16k-row bench frontier gets 4 files, a 10M-row drain still gets
        # one per core), falling back to defaultParallelism.
        n_par = max(self.spark.sparkContext.defaultParallelism, 4)
        if active_est is None:
            n_write = n_par
        else:
            rows_per_file = int(
                os.environ.get("CRAWL_WRITE_ROWS_PER_FILE", "250000")
            )
            n_write = min(n_par, max(4, active_est // rows_per_file + 1))
        new_active = (
            updated.filter(F.col("state") == "queued")
            .unionByName(new_rows.select(*FRONTIER_COLS))
            .repartition(n_write)
        )

        results = succ.select(
            F.col("url_hash").alias("doc_id"),
            F.col("url_norm").alias("url"),
            "url_hash",
            "host",
            "depth",
            F.lit(r).alias("round"),
            "fetch_status",
            "spans",
            "links",
            F.lit(None).cast("string").alias("error"),
            # ≤ round-budget rows read from the persisted fetch — bound the
            # append's file fan-out like the frontier write (guide §6)
        ).coalesce(n_write)

        metrics = {
            "round": r,
            "round_budget": round_budget,
            "urls_popped": popped,
            "urls_fetched": n_success,
            "urls_failed": popped - n_success,
            "outlinks_seen": int(outlinks_seen),
            "dedup_dropped": int(outlinks_seen) - int(new_count),
            "new_frontier": int(new_count),
            "per_partition": [
                {"pid": pid, "rows": n} for pid, n in sorted(per_partition.items())
            ],
        }
        if salted:
            # evidence line for the skew bench: the two-stage salted
            # selection engaged this round (physical-only, results identical)
            metrics["salted"] = True
        if order_record is not None:
            metrics["crawl_order"] = order_record
        if extra_metrics:
            metrics.update(extra_metrics)

        metrics["state"] = "committed"
        overwrite = {"active": new_active}
        if filters is not None:
            # seen filter merge: single cogrouped OR pass (associative/idempotent)
            overwrite["seen_filter"] = bloom.add_to_filters(
                filters, new_rows.select("url_hash"), r
            )
        if cfg.token_bucket and eff is not None:
            consumed = fetched.groupBy("host").agg(F.count("*").alias("consumed"))
            overwrite["host_state"] = eff.join(consumed, "host", "left").select(
                "host",
                (F.col("avail") - F.coalesce(F.col("consumed"), F.lit(0)))
                .cast("int")
                .alias("tokens"),
            )
        # the rounds lineage table lives in the snapshot manifests (the
        # manifest IS the commit) — no per-round parquet job for it
        self.store.commit_round(
            r,
            overwrite=overwrite,
            append={
                "results": results,
                "done": done_rows.coalesce(n_write),
                "seen_hashes": new_rows.select(
                    "url_hash", bloom.seen_bucket_col(F.col("url_hash"))
                ),
            },
            metrics=metrics,
        )
        _mark("commit")
        # carry the just-written snapshot (lazy read-back: truncates lineage
        # without recomputing the plan a second time)
        carried_frontier = self.store.read(self.spark, "active")
        carried_filters = self.store.read(self.spark, "seen_filter")
        if _profile:
            metrics["_phases"] = _phases
            # effective seen-filter state: items, bits, generations, FPR —
            # the round-over-round saturation signal (ADVICE r1: log it)
            metrics["bloom"] = bloom.filter_stats(carried_filters)
            print(
                f"[profile] round {r}: {_phases} bloom={metrics['bloom']}",
                flush=True,
            )
        fetched.unpersist()
        if flagged is not None:
            flagged.unpersist()
        new_rows.unpersist()
        updated.unpersist()
        if eff is not None:
            eff.unpersist()
        return metrics, carried_frontier, carried_filters

    # -- full run ---------------------------------------------------------------------

    def cancel(self) -> None:
        """T6 cancellation (reference cancel_a_job, api.py:484-606): stop
        before the next round; any in-flight round's jobs are interruptible
        via the per-round job group. Uncommitted work is simply not in the
        snapshot — resume re-runs that round exactly."""
        self._cancel = True
        try:
            last = self.store.last_round()
            if last is not None:
                self.spark.sparkContext.cancelJobGroup(f"crawl_round_{last + 1}")
        except Exception:  # noqa: BLE001 — cancellation is best-effort
            pass

    def _next_budget(self, last_metrics: dict | None) -> int:
        """R1/X1/R7 controller: budget = base * min(1-err, 1-cpu, 1-mem),
        floored (reference monitor.py:200-238)."""
        self._last_gauges: dict = {}
        factor = 1.0
        if self.cfg.adaptive_budget and last_metrics:
            popped = last_metrics.get("urls_popped", 0)
            err = (last_metrics.get("urls_failed", 0) / popped) if popped else 0.0
            factor = 1.0 - err
        if self.cfg.health_gauges is not None:
            cpu, mem = self.cfg.health_gauges()
            # recorded into the round's metrics (A3: the reference persists
            # SystemStats per machine, monitor.py:186-197) and surfaced via
            # checkpoint.prometheus_metrics
            self._last_gauges = {
                "cpu_frac": round(float(cpu), 4),
                "mem_frac": round(float(mem), 4),
            }
            factor = min(factor, 1.0 - cpu, 1.0 - mem)
        if factor >= 1.0:
            return self.cfg.global_budget
        return max(self.cfg.min_budget, int(self.cfg.global_budget * factor))

    def run(self, seed_urls: list[str] | None = None, on_round=None) -> list[dict]:
        out = []
        for m in self.round_iter(seed_urls):
            out.append(m)
            if on_round is not None:
                on_round(m)
        return out

    def round_iter(self, seed_urls: list[str] | None = None):
        """Generator seam for the round loop (T1): each next() executes and
        commits exactly ONE frontier round and yields its metrics; exhaustion
        = drained queue (or max_rounds/cancel). The batch driver (run) and
        the Structured-Streaming driver (streaming/structured
        .run_streaming_crawl's foreachBatch) both consume THIS, so per-round
        semantics — controller state, bloom sizing, retry skip-ahead — are
        one code path, not two."""
        if seed_urls is not None:
            self.submit_seeds(seed_urls)
        last = self.store.last_round()
        if last is None:
            raise ValueError("no checkpoint and no seeds — call with seed_urls")
        self._cancel = False
        frontier = self.store.read(self.spark, "active")
        filters = self.store.read(self.spark, "seen_filter")
        # resume picks up the controller state from the last committed round
        committed = self.store.round_metrics()
        last_metrics = committed[-1] if committed else None
        # seen-filter state: total seen-set size (against PRUNE_MIN_SEEN) +
        # size at the last (re)build — pure driver arithmetic over committed
        # metrics, no jobs
        seen_total = 0
        built_n = 0
        # live-queue size estimate (file-sizing only — factor-2 accuracy is
        # fine): seeds + new frontier − popped; retried failures re-enter the
        # queue so this slightly undercounts, which only costs a file split
        active_est = 0
        for m0 in committed:
            if m0.get("round", -1) < 0:
                seen_total = max(m0.get("seeded") or 0, 0)
                active_est = seen_total
            else:
                seen_total += m0.get("new_frontier", 0) or 0
                built_n = m0.get("bloom_built_n", built_n)
                active_est += (m0.get("new_frontier", 0) or 0) - (
                    m0.get("urls_popped", 0) or 0
                )
        # below this the initial MIN_BITS floor still has headroom — never
        # rebuild inside it
        rebuild_floor = bloom.N_PARTITIONS * bloom.MIN_BITS // bloom.BITS_PER_ITEM
        import time as _time

        r = last + 1
        while r < self.cfg.max_rounds:
            if self._cancel:
                break
            t0 = _time.time()
            rebuilt = False
            if seen_total < PRUNE_MIN_SEEN:
                filters = None  # below the gate: exact anti-join only
            elif filters is None or seen_total > max(4 * built_n, rebuild_floor):
                # the round that reaches the gate (round 0 when the seeds
                # alone do; also on a resume past it without a committed
                # filter), or the seen-set outgrew the last build: build one right-sized filter per partition
                # from the append-only seen_hashes log (O(log N) times over
                # a crawl's lifetime; persisted with this round's commit)
                filters = bloom.build_filters(
                    self.store.read(self.spark, "seen_hashes").select("url_hash"), r
                )
                built_n = seen_total
                rebuilt = True  # lazy — the cost lands in this round's dedup
            budget = self._next_budget(last_metrics)
            extra = dict(self._last_gauges)
            if filters is not None:
                extra["bloom_built_n"] = built_n
            if rebuilt:
                extra["bloom_rebuilt"] = True
            m, nf, nflt = self.run_round(
                r,
                frontier,
                filters,
                budget,
                extra_metrics=extra,
                active_est=max(active_est, 0),
            )
            if m.get("empty"):
                nxt = m.get("next_due")
                if nxt is None or nxt >= self.cfg.max_rounds:
                    break  # queue truly drained (or retries past the horizon)
                # pending retries exist but none are due this round — skip
                # ahead to the earliest due_round. Idle rounds do nothing
                # (token refill is per *executed* round — the simulator skips
                # identically, so parity holds).
                r = nxt
                continue
            m["_sec"] = round(_time.time() - t0, 2)
            frontier, filters = nf, nflt
            last_metrics = m
            seen_total += m.get("new_frontier", 0) or 0
            active_est += (m.get("new_frontier", 0) or 0) - (
                m.get("urls_popped", 0) or 0
            )
            yield m
            r += 1

"""The ``crawl_wire`` workload: frontier rounds over the ``http`` transport
against the benchmark's own origin process.

Universe: 100 hosts, hottest host 10^6 pages. Every host is seeded with 1.5x
its per-round politeness budget, so from round 0 on each round is
politeness-bound (4,700 URLs popped, under the global budget of 5,000) and
the queue never drains; depth is unbounded. The transport is
non-replayable, so every round takes the count-first selection path, and
each Python worker fetches over one keep-alive connection.

A step is one committed round (one ``next(round_iter)``). Round 0 is an
untimed warm-up; rounds 1..K are timed, K fixed by ``--seconds`` alone
(measure.timed_steps), since every round adds one Spark job to the next.
"""

from __future__ import annotations

import hashlib
import http.client
import json
import math
import os
import statistics
import subprocess
import sys
import time

UNIVERSE = {"CRAWL_N_HOSTS": "100", "CRAWL_PAGE_SCALE": "1000000"}
TINY_UNIVERSE = {"CRAWL_N_HOSTS": "20", "CRAWL_PAGE_SCALE": "20000"}
GLOBAL_BUDGET = 5000
BUDGET_SCALE = 10
TINY_BUDGET_SCALE = 1
MAX_DEPTH = 1_000_000  # unbounded in practice
SEEDS_PER_BUDGET = 1.5
WARMUP_ROUNDS = 1
NOMINAL_ROUND_S = 5.0
FETCH_CONCURRENCY = 1
SIM_FIELDS = ("urls_popped", "urls_fetched", "urls_failed", "new_frontier")
CHECKS = (
    "engine_equals_simulator",
    "origin_requests_equal_popped",
    "exactly_once_total",
    "timed_rounds_equal_popped",
)


class CheckFailed(Exception):
    pass


def make_seeds(seed: int, budget_scale: int) -> list[str]:
    """Seed URLs drawn from *seed*: per host, 1.5x its per-round budget."""
    from deepcrawl4ai_spark.frontier import webgraph as WG

    seeds = []
    for hi, row in enumerate(WG.robots_rows()):
        for k in range(math.ceil(row["max_tokens"] * budget_scale * SEEDS_PER_BUDGET)):
            b = hashlib.sha1(f"{seed}:{hi}:{k}".encode()).digest()
            seeds.append(WG.page_url(hi, int.from_bytes(b[:8], "big") % WG.host_pages()[hi]))
    return seeds


class OriginProcess:
    """The origin server (origin.py) as a child process."""

    def __init__(self, root: str, work: str, env: dict) -> None:
        self.port_file = os.path.join(work, "origin.port")
        if os.path.exists(self.port_file):
            os.remove(self.port_file)
        self.log = open(os.path.join(work, "origin.log"), "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(root, "perfbench", "origin.py"),
             "--port-file", self.port_file],
            cwd=root, env=env, stdin=subprocess.DEVNULL,
            stdout=self.log, stderr=subprocess.STDOUT,
        )
        self.port: int | None = None

    def wait_ready(self, timeout_s: float = 60.0) -> int:
        deadline = time.monotonic() + timeout_s
        while not os.path.exists(self.port_file):
            if self.proc.poll() is not None:
                raise RuntimeError(f"origin exited with code {self.proc.returncode}")
            if time.monotonic() > deadline:
                raise RuntimeError("origin did not start")
            time.sleep(0.02)
        with open(self.port_file) as f:
            self.port = int(f.read())
        return self.port

    def stats(self) -> dict:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=30)
        try:
            conn.request("GET", "/_stats", headers={"Connection": "close"})
            return json.loads(conn.getresponse().read())
        finally:
            conn.close()

    def stop(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()
        self.log.close()


def _delta(a: dict, b: dict) -> dict:
    return {k: b[k] - a[k] for k in b}


def run(ctx) -> dict:
    """Run the workload; return the step samples, counts, layer metrics and
    the first failed output check (``failure``, None when all passed)."""
    tr, tiny = ctx.tracer, ctx.tiny
    scale = TINY_BUDGET_SCALE if tiny else BUDGET_SCALE
    origin = OriginProcess(ctx.root, ctx.work, dict(os.environ))
    ctx.rss.exclude.add(origin.proc.pid)
    try:
        return _run(ctx, tr, scale, origin)
    finally:
        origin.stop()


def _run(ctx, tr, scale: int, origin: OriginProcess) -> dict:
    from deepcrawl4ai_spark.frontier import bloom
    from deepcrawl4ai_spark.frontier.engine import CrawlEngine, EngineConfig
    from deepcrawl4ai_spark.frontier.fetcher import warm_pool

    from measure import timed_steps

    layer: dict[str, float] = {}
    spark = ctx.start_spark()
    with tr.span("fetcher.warm_pool") as s:
        warm_pool(spark)
    layer["fetcher.warm_pool_s"] = s["end"] - s["start"]
    with tr.span("origin.start"):
        port = origin.wait_ready()
    seeds = make_seeds(ctx.seed, scale)
    cfg = EngineConfig(
        global_budget=GLOBAL_BUDGET, max_rounds=10**6, max_depth=MAX_DEPTH,
        budget_scale=scale,
        transport={"kind": "http", "base": f"http://127.0.0.1:{port}",
                   "concurrency": FETCH_CONCURRENCY},
    )
    eng = CrawlEngine(spark, os.path.join(ctx.work, "store"), cfg)
    jc = ctx.jobs
    commits: dict[int, dict] = {}
    commit_round = eng.store.commit_round

    def traced_commit(round_id, *args, **kwargs):
        group = f"crawl_round_{round_id}"
        before = jc.job_ids(group)
        with tr.span("checkpoint.commit_round", round=round_id) as cs:
            commit_round(round_id, *args, **kwargs)
        commits[round_id] = {
            "s": cs["end"] - cs["start"],
            "jobs": len(jc.job_ids(group) - before),
        }

    eng.store.commit_round = traced_commit
    with tr.span("engine.submit_seeds") as s:
        eng.submit_seeds(seeds)
    layer["engine.seed_s"] = s["end"] - s["start"]
    rounds_iter = eng.round_iter()
    rounds: list[dict] = []

    def one_round(timed: bool) -> None:
        o0 = origin.stats()
        with tr.span("engine.round", timed=timed) as rs:
            m = next(rounds_iter)
        o1 = origin.stats()
        r = m["round"]
        rec = {
            "round": r, "timed": timed, "s": rs["end"] - rs["start"],
            "metrics": {k: m[k] for k in (*SIM_FIELDS, "outlinks_seen", "dedup_dropped")},
            "origin": _delta(o0, o1),
            "commit": commits.get(r, {"s": 0.0, "jobs": 0}),
        }
        if tr.enabled:
            rec["spark"] = jc.counts(jc.job_ids(f"crawl_round_{r}"))
            snap = eng.store.current_snapshot()
            meta = snap.get("tables_meta") or {}
            rec["bytes_written"] = sum(t["bytes"] for t in meta.values())
            rec["files_written"] = sum(t["files"] for t in meta.values())
            with tr.span("checkpoint.prometheus_metrics") as ps:
                eng.store.prometheus_metrics()
            rec["scrape_ms"] = 1000.0 * (ps["end"] - ps["start"])
        rec["heap_mb"] = ctx.settle()
        rounds.append(rec)

    for _ in range(WARMUP_ROUNDS):
        one_round(timed=False)
    ctx.mark_timed_start()
    for _ in range(timed_steps(ctx.seconds, NOMINAL_ROUND_S)):
        one_round(timed=True)
    ctx.rss.stop()  # the checks below are the benchmark's, not the program's
    timed = [r for r in rounds if r["timed"]]
    final_stats = origin.stats()

    if tr.enabled:
        spark.sparkContext.setJobGroup("perfbench_probe", "bloom filter_stats")
        with tr.span("bloom.filter_stats"):
            fs = bloom.filter_stats(eng.store.read(spark, "seen_filter"))
        layer["bloom.fpr"] = fs["est_fpr"]
        layer["bloom.generations"] = fs["generations"]

    try:
        checks, failure = check(seeds, scale, rounds, final_stats), None
    except CheckFailed as e:
        checks, failure = [], str(e)

    def med(f) -> float:
        return statistics.median(f(r) for r in timed)

    popped = sum(r["metrics"]["urls_popped"] for r in timed)
    fetched = sum(r["metrics"]["urls_fetched"] for r in timed)
    seen = sum(r["metrics"]["outlinks_seen"] for r in timed)
    dropped = sum(r["metrics"]["dedup_dropped"] for r in timed)
    if tr.enabled:
        layer.update({
            "engine.round_s": med(lambda r: r["s"]),
            "engine.self_s": med(lambda r: r["s"] - r["commit"]["s"]),
            "engine.jobs_per_round": med(lambda r: r["spark"]["jobs"]),
            "engine.stages_per_round": med(lambda r: r["spark"]["stages"]),
            "engine.tasks_per_round": med(lambda r: r["spark"]["tasks"]),
            "engine.urls_popped": med(lambda r: r["metrics"]["urls_popped"]),
            "engine.dedup_dropped_frac": dropped / seen if seen else 0.0,
            "origin.requests": med(lambda r: r["origin"]["requests"]),
            "origin.requests_per_conn": (
                final_stats["requests"] / max(final_stats["connections"], 1)
            ),
            "origin.busy_s": med(lambda r: r["origin"]["busy_s"]),
            "fetcher.success_frac": fetched / popped if popped else 0.0,
            "checkpoint.commit_s": med(lambda r: r["commit"]["s"]),
            "checkpoint.commit_jobs": med(lambda r: r["commit"]["jobs"]),
            "checkpoint.bytes_written": med(lambda r: r["bytes_written"]),
            "checkpoint.files_written": med(lambda r: r["files_written"]),
            "checkpoint.scrape_ms": med(lambda r: r["scrape_ms"]),
        })
    return {
        "steps_s": [r["s"] for r in timed],
        "items": fetched,
        "heap_mb": [r["heap_mb"] for r in timed],
        "attempted": len(rounds),
        "checks": checks,
        "failure": failure,
        "layer": layer,
        "report": {"rounds": rounds, "origin_final": final_stats},
    }


def check(seeds: list[str], scale: int, rounds: list[dict], final_stats: dict) -> list[str]:
    """Untimed output checks; raise CheckFailed on the first that fails.
    Returns the names of the checks that ran."""
    from deepcrawl4ai_spark.frontier.simulator import SimConfig, simulate

    sim = simulate(
        seeds,
        SimConfig(global_budget=GLOBAL_BUDGET, max_rounds=len(rounds),
                  max_depth=MAX_DEPTH, budget_scale=scale),
    ).round_metrics
    check_rounds(rounds, sim, final_stats)
    return list(CHECKS)


def check_rounds(rounds: list[dict], sim: list[dict], final_stats: dict) -> None:
    if len(sim) != len(rounds):
        raise CheckFailed(f"simulator ran {len(sim)} rounds, engine {len(rounds)}")
    for rec, want in zip(rounds, sim):
        got = rec["metrics"]
        if rec["round"] != want["round"] or any(got[k] != want[k] for k in SIM_FIELDS):
            raise CheckFailed(
                f"round {rec['round']}: engine {got} != simulator {want}"
            )
        if rec["origin"]["requests"] != got["urls_popped"]:
            raise CheckFailed(
                f"round {rec['round']}: origin served {rec['origin']['requests']}"
                f" requests for {got['urls_popped']} popped URLs"
            )
    total_popped = sum(r["metrics"]["urls_popped"] for r in rounds)
    if final_stats["requests"] != total_popped:
        raise CheckFailed(
            f"origin served {final_stats['requests']} requests in all,"
            f" engine popped {total_popped}"
        )
    popped = {r["metrics"]["urls_popped"] for r in rounds if r["timed"]}
    if len(popped) != 1:
        raise CheckFailed(f"urls_popped differs between timed rounds: {sorted(popped)}")

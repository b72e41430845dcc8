"""Benchmark of the crawl engine and the corpus funnel, end to end and (with
``--trace 1``) layer by layer.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_wire --seed 1 --seconds 10 --trace 0

Workloads (see README.md in this directory for why each exists and what the
benchmark leaves out):

- ``crawl_wire``     frontier rounds over the http transport (crawl.py)
- ``corpus_funnel``  corpus_pipeline_v3 into the noop sink (funnel.py)

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1``
the per-layer metrics). A traced run also writes its spans, self time per
layer and tracing overhead to ``.perfbench_work/<workload>.trace.json``.
Exit code 1 means an output check failed (the JSON then reads
``"correct": false``); 2 means the program could not be imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T_MAIN = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK_DIR = ".perfbench_work"
# One fixed driver heap limit. Under the program's default (24g) the heap's
# committed size, and with it peak_rss_mb, varied 2x between runs of one
# seed; heap_live_mb shows what the program keeps inside the limit.
DRIVER_MEMORY = "2g"
SETTLE_MAX_GCS = 6  # full collections after a step, at most (Context.settle)

END_TO_END = {
    "step_s.p50": "s",
    "items_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "heap_live_mb": "MB",
    "ok_frac": "frac",
}
PER_LAYER = {
    "session.start_s": "s",
    "fetcher.warm_pool_s": "s",
    "engine.seed_s": "s",
    "engine.round_s": "s",
    "engine.self_s": "s",
    "engine.jobs_per_round": "count",
    "engine.stages_per_round": "count",
    "engine.tasks_per_round": "count",
    "engine.urls_popped": "count",
    "engine.dedup_dropped_frac": "frac",
    "origin.requests": "count",
    "origin.requests_per_conn": "count",
    "origin.busy_s": "s",
    "fetcher.success_frac": "frac",
    "bloom.fpr": "frac",
    "bloom.generations": "count",
    "checkpoint.commit_s": "s",
    "checkpoint.commit_jobs": "count",
    "checkpoint.bytes_written": "bytes",
    "checkpoint.files_written": "count",
    "checkpoint.scrape_ms": "ms",
    "operators.text_entropy_filter_s": "s",
    "operators.quality_classifier_s": "s",
    "operators.dedup_minhash_apply_s": "s",
    "operators.sample_temperature_s": "s",
    "operators.pack_sequences_s": "s",
    "funnel.jobs": "count",
    "funnel.stages": "count",
    "funnel.tasks": "count",
    "plan.exchanges": "count",
    "plan.python_evals": "count",
}
# counts that must read the same in every traced run of a workload
EXACT = ("engine.urls_popped", "engine.jobs_per_round", "origin.requests", "plan.exchanges")


def process_age_s() -> float:
    """Seconds since this process was started by the kernel."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


AGE_AT_MAIN = process_age_s()


class Context:
    """What a workload gets: its arguments, work directory, tracer, the
    Spark session factory and the set-up clock."""

    def __init__(self, root: str, work: str, args, tracer, rss) -> None:
        self.root, self.work = root, work
        self.seed, self.seconds, self.tiny = args.seed, args.seconds, args.tiny
        self.tracer, self.rss = tracer, rss
        self.spark = None
        self.jobs = None
        self.session_start_s = 0.0
        self.setup_s: float | None = None

    def start_spark(self):
        from deepcrawl4ai_spark.session import get_spark

        from measure import JobCounter

        with self.tracer.span("session.get_spark") as s:
            self.spark = get_spark(
                "perfbench",
                cores=len(os.sched_getaffinity(0)),
                extra_conf={"spark.ui.showConsoleProgress": "false"},
            )
        self.session_start_s = s["end"] - s["start"]
        self.jobs = JobCounter(self.spark.sparkContext)
        return self.spark

    def mark_timed_start(self) -> None:
        self.setup_s = AGE_AT_MAIN + time.perf_counter() - T_MAIN

    def settle(self) -> float:
        """End of a step, untimed: full garbage collections in the driver
        JVM until the heap in use stops shrinking; returns it (MB), which is
        what the program keeps, not how far its garbage happened to grow.
        One collection is not enough: Spark's context cleaner frees the
        broadcast and shuffle state of collected plans only after it, so
        the next collection finds more garbage. Every step thus also starts
        from a collected heap."""
        jvm = self.spark.sparkContext._jvm
        heap = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        used = float("inf")
        for _ in range(SETTLE_MAX_GCS):
            jvm.java.lang.System.gc()
            prev, used = used, heap.getHeapMemoryUsage().getUsed() / 2**20
            if prev - used < 1.0:
                break
            time.sleep(0.3)  # the cleaner's turn
        return used

    def stop_spark(self) -> None:
        """Stop the session and wait for the driver JVM (and with it the
        Python workers) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc
        self.spark.stop()
        self.spark = None
        jvm.stdin.close()  # the JVM exits when its driver's pipe closes
        jvm.wait(timeout=60)


def _prepare_env(root: str, work: str, tiny: bool) -> None:
    import crawl

    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ.update(crawl.TINY_UNIVERSE if tiny else crawl.UNIVERSE)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="crawl engine + corpus funnel benchmark")
    ap.add_argument("--workload", required=True, choices=("crawl_wire", "corpus_funnel"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    try:
        import deepcrawl4ai_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program from {root}: {e}", file=sys.stderr)
        return 2

    import crawl
    import funnel
    from measure import PeakRss, Tracer, step_stats

    work_root = os.path.join(root, WORK_DIR)
    work = os.path.join(work_root, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _prepare_env(root, work, args.tiny)
    module = {"crawl_wire": crawl, "corpus_funnel": funnel}[args.workload]

    tracer = Tracer(enabled=bool(args.trace))
    rss = PeakRss()
    ctx = Context(root, work, args, tracer, rss)
    res = None
    with rss:
        try:
            res = module.run(ctx)
        except Exception:  # noqa: BLE001 — any failure is reported as a failed run
            print(f"perfbench: {traceback.format_exc()}", file=sys.stderr)
        finally:
            ctx.stop_spark()

    if res is None:
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return 1
    failed = int(res["failure"] is not None)
    if failed:
        print(f"perfbench: output check failed: {res['failure']}", file=sys.stderr)

    steps = res["steps_s"]
    st = step_stats(steps)
    e2e = {
        "step_s.p50": st["p50"],
        "items_per_s": res["items"] / sum(steps),
        "setup_s": ctx.setup_s,
        "peak_rss_mb": rss.peak_mb,
        "heap_live_mb": max(res["heap_mb"]),
        "ok_frac": 1.0 - failed / res["attempted"],
    }
    print(
        f"# {args.workload} seed={args.seed} trace={args.trace} steps={len(steps)}"
        f" step_s={[round(s, 3) for s in steps]} {json.dumps({k: v for k, v in st.items() if k != 'p50'})}"
        f" heap_mb={[round(m, 1) for m in res['heap_mb']]}"
        f" checks={res['checks']}"
    )
    last_path = os.path.join(work_root, f"{args.workload}.untraced.json")
    if args.trace:
        layer = {name: 0.0 for name in PER_LAYER}
        layer["session.start_s"] = ctx.session_start_s
        layer.update(res["layer"])
        overhead = None
        if os.path.exists(last_path):
            with open(last_path) as f:
                base = json.load(f)["step_s.p50"]
            overhead = st["p50"] / base - 1.0
        trace_path = os.path.join(work_root, f"{args.workload}.trace.json")
        tracer.write(trace_path, {
            "workload": args.workload, "seed": args.seed,
            "end_to_end": e2e, "per_layer": layer,
            "exact_counts": {k: layer[k] for k in EXACT if k in res["layer"]},
            "tracing_overhead_frac": overhead,
            "checks": res["checks"],
            **res["report"],
        })
        print(f"# trace written to {os.path.relpath(trace_path, root)}"
              f" tracing_overhead_frac={overhead}")
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        with open(last_path, "w") as f:
            json.dump(e2e, f)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({
        "correct": not failed, "attempted": res["attempted"], "failed": failed,
        "metrics": metrics,
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())

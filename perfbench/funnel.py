"""The ``corpus_funnel`` workload: ``registry.QUERIES["corpus_pipeline_v3"]``
into the noop sink over a ``documents.parquet`` generated from the seed.

A step is one full funnel run: build the DataFrame, write it to the noop
sink. The number of timed steps is fixed by ``--seconds`` alone
(measure.timed_steps). An order-insensitive hash of the output rows and the
funnel counts ride along as observed metrics of the same pass, so each step
yields its output hash without a second evaluation. The untimed warm-up is one funnel
run over a small corpus whose rows are collected and, after the timed
steps, compared with the DuckDB reference (oracle.py).
"""

from __future__ import annotations

import os
import re
import statistics

N_DOCS = 10_000
TINY_N_DOCS = 1_000
ORACLE_DOCS = 400
NOMINAL_STEP_S = 5.0
QUERY = "corpus_pipeline_v3"
COUNT_COLS = ("n_input", "n_entropy", "n_clf", "n_dedup", "n_final")
STAGE_TWINS = (
    "text_entropy_filter",
    "quality_classifier",
    "dedup_minhash_apply",
    "sample_temperature",
    "pack_sequences",
)
CHECKS = ("output_hash_repeats", "funnel_counts_monotone", "duckdb_reference")
_PYTHON_EVAL = re.compile(
    r"(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapCoGroupsInPandas|AggregateInPandas"
    r"|WindowInPandas)"
)
_EXCHANGE = re.compile(r"\b(Exchange|BroadcastExchange|ReusedExchange)\b")


class CheckFailed(Exception):
    pass


def _observed(df, obs):
    """*df* with its row count, an order-insensitive row hash and the funnel
    counts observed during the write."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(h).alias("xor"),
        F.sum(F.pmod(h, F.lit(2**31))).alias("sum"),
        *[F.max(c).alias(c) for c in COUNT_COLS],
    )


def plan_counts(df) -> dict[str, int]:
    """Exchange and Python-evaluation nodes in *df*'s physical plan (the
    plan before adaptive re-planning; stages behind lazy checkpoints run as
    separate jobs and show in the stage counts instead)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return {
        "plan.exchanges": len(_EXCHANGE.findall(plan)),
        "plan.python_evals": len(_PYTHON_EVAL.findall(plan)),
    }


def run(ctx) -> dict:
    from pyspark.sql import Observation

    from deepcrawl4ai_spark.registry import ORACLES, QUERIES

    import corpus
    import oracle
    from measure import timed_steps

    tr = ctx.tracer
    n_docs = TINY_N_DOCS if ctx.tiny else N_DOCS
    big = os.path.join(ctx.work, "corpus")
    small = os.path.join(ctx.work, "corpus_oracle")
    with tr.span("corpus.generate"):
        corpus.write_documents(big, n_docs, ctx.seed)
        small_path = corpus.write_documents(small, ORACLE_DOCS, ctx.seed)
    spark = ctx.start_spark()
    sc = spark.sparkContext
    layer: dict[str, float] = {}

    sc.setJobGroup("perfbench_warmup", "funnel warm-up")
    with tr.span("operators.pipeline.warmup"):
        small_rows = QUERIES[QUERY](spark, small).select(*oracle.COLUMNS).collect()
    ctx.settle()

    ctx.mark_timed_start()
    steps: list[dict] = []
    for _ in range(timed_steps(ctx.seconds, NOMINAL_STEP_S)):
        group = f"perfbench_funnel_{len(steps)}"
        sc.setJobGroup(group, "funnel step")
        obs = Observation(f"funnel_{len(steps)}")
        with tr.span("operators.pipeline", step=len(steps)) as s:
            df = QUERIES[QUERY](spark, big)
            _observed(df, obs).write.format("noop").mode("overwrite").save()
        steps.append({"s": s["end"] - s["start"], "out": dict(obs.get), "group": group,
                      "heap_mb": ctx.settle()})
    ctx.rss.stop()  # the checks below are the benchmark's, not the program's

    if tr.enabled:
        for st in steps:
            st["spark"] = ctx.jobs.counts(ctx.jobs.job_ids(st["group"]))
        for name, key in (("jobs", "funnel.jobs"), ("stages", "funnel.stages"),
                          ("tasks", "funnel.tasks")):
            layer[key] = statistics.median(st["spark"][name] for st in steps)
        layer.update(plan_counts(QUERIES[QUERY](spark, big)))
        for q in STAGE_TWINS:
            sc.setJobGroup(f"perfbench_{q}", q)
            with tr.span(f"operators.{q}") as s:
                QUERIES[q](spark, big).write.format("noop").mode("overwrite").save()
            layer[f"operators.{q}_s"] = s["end"] - s["start"]

    with tr.span("check.oracle"):
        want = oracle.funnel_rows(small_path, ORACLES, os.path.join(ctx.work, "duckdb"))
    try:
        checks, failure = check(steps, n_docs, small_rows, want), None
    except CheckFailed as e:
        checks, failure = [], str(e)
    return {
        "steps_s": [st["s"] for st in steps],
        "items": n_docs * len(steps),
        "heap_mb": [st["heap_mb"] for st in steps],
        "attempted": len(steps) + 1,
        "checks": checks,
        "failure": failure,
        "layer": layer,
        "report": {"steps": [{k: v for k, v in st.items() if k != "group"} for st in steps]},
    }


def check(steps: list[dict], n_docs: int, small_rows, want) -> list[str]:
    """Untimed output checks; raise CheckFailed on the first that fails."""
    import oracle

    outs = [st["out"] for st in steps]
    if any(o != outs[0] for o in outs[1:]):
        raise CheckFailed(f"output hash differs between steps: {outs}")
    counts = [outs[0][c] for c in COUNT_COLS]
    if counts[0] != n_docs or any(a < b for a, b in zip(counts, counts[1:])):
        raise CheckFailed(f"funnel counts not monotone from {n_docs}: {counts}")
    if outs[0]["rows"] != counts[-1] or counts[-1] == 0:
        raise CheckFailed(f"{outs[0]['rows']} output rows for n_final={counts[-1]}")
    got = oracle.normalize(small_rows)
    exp = oracle.normalize(want)
    if got != exp:
        diff = sorted(set(got) ^ set(exp))[:3]
        raise CheckFailed(
            f"funnel differs from the DuckDB reference: {len(got)} vs {len(exp)}"
            f" rows, first differing {diff}"
        )
    return list(CHECKS)

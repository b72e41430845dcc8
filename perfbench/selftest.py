"""Self-test of the benchmark at tiny sizes (about three minutes on 4 cores).

Run from the repository root:

    python3 perfbench/selftest.py

It checks that

1. every output check rejects a corrupted result (no Spark needed);
2. each workload, untraced and traced, exits 0, prints exactly the metric
   names and units ``BENCHMARK.json`` lists, and runs every output check;
3. without the program beside it, the benchmark exits non-zero and prints
   no result.
"""

from __future__ import annotations

import copy
import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import crawl  # noqa: E402
import funnel  # noqa: E402


def _expect_fail(exc_type, fn, *args) -> None:
    try:
        fn(*args)
    except exc_type:
        return
    raise AssertionError(f"{fn.__name__} accepted a corrupted result")


def test_checks_reject_corruption() -> None:
    def rnd(r, timed, popped=10, requests=10):
        return {
            "round": r, "timed": timed,
            "metrics": {"urls_popped": popped, "urls_fetched": 9,
                        "urls_failed": popped - 9, "new_frontier": 20},
            "origin": {"requests": requests},
        }

    rounds = [rnd(0, False), rnd(1, True), rnd(2, True)]
    sim = [dict(r["metrics"], round=r["round"]) for r in rounds]
    final = {"requests": 30}
    crawl.check_rounds(rounds, sim, final)  # the consistent case passes
    bad_sim = copy.deepcopy(sim)
    bad_sim[1]["new_frontier"] += 1
    _expect_fail(crawl.CheckFailed, crawl.check_rounds, rounds, bad_sim, final)
    double = copy.deepcopy(rounds)
    double[2]["origin"]["requests"] += 1
    _expect_fail(crawl.CheckFailed, crawl.check_rounds, double, sim, final)
    _expect_fail(crawl.CheckFailed, crawl.check_rounds, rounds, sim, {"requests": 31})
    uneven = [rnd(0, False), rnd(1, True), rnd(2, True, popped=11, requests=11)]
    uneven_sim = [dict(r["metrics"], round=r["round"]) for r in uneven]
    _expect_fail(crawl.CheckFailed, crawl.check_rounds, uneven, uneven_sim, {"requests": 31})

    out = {"rows": 2, "xor": 5, "sum": 7, "n_input": 9, "n_entropy": 8,
           "n_clf": 6, "n_dedup": 5, "n_final": 2}
    ref = [(1, "en", 3, 0, 9, 8, 6, 5, 2), (2, "de", 4, 0, 9, 8, 6, 5, 2)]
    steps = [{"out": out}, {"out": dict(out)}]
    funnel.check(steps, 9, ref, ref)
    _expect_fail(funnel.CheckFailed, funnel.check,
                 [{"out": out}, {"out": dict(out, xor=6)}], 9, ref, ref)
    _expect_fail(funnel.CheckFailed, funnel.check,
                 [{"out": dict(out, n_dedup=7)}] * 2, 9, ref, ref)
    _expect_fail(funnel.CheckFailed, funnel.check, steps, 9, ref, ref[:1])


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    # the program must come from *cwd*, not from an inherited PYTHONPATH
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=600,
    )


def test_workloads(root: str) -> None:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    checks = {"crawl_wire": crawl.CHECKS, "corpus_funnel": funnel.CHECKS}
    assert sorted(checks) == sorted(w["name"] for w in bench["workloads"])
    for wl in checks:
        for trace, listed in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            p = _run(["--workload", wl, "--seed", "3", "--seconds", "1",
                      "--trace", trace, "--tiny"], root)
            lines = p.stdout.strip().splitlines()
            assert p.returncode == 0, f"{wl} trace={trace}: exit {p.returncode}\n{p.stderr[-3000:]}"
            res = json.loads(lines[-1])
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
            want = {m["name"]: m["unit"] for m in listed}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            assert got == want, f"{wl} trace={trace}: metrics {sorted(got)} != {sorted(want)}"
            ran = next(ln for ln in lines if ln.startswith(f"# {wl} "))
            missing = [c for c in checks[wl] if f"'{c}'" not in ran]
            assert not missing, f"{wl}: checks not run: {missing}"
            print(f"ok {wl} trace={trace}: {len(got)} metrics, checks {list(checks[wl])}")


def test_without_program(root: str) -> None:
    with tempfile.TemporaryDirectory(dir=os.path.join(root, ".perfbench_work")) as bare:
        shutil.copy(os.path.join(root, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"))
        p = _run(["--workload", "crawl_wire", "--seed", "1", "--seconds", "1",
                  "--trace", "0"], bare)
        assert p.returncode != 0, "ran without the program"
        assert not p.stdout.strip(), f"printed a result without the program: {p.stdout!r}"
    print("ok without the program: exit", p.returncode)


def main() -> int:
    root = os.getcwd()
    os.makedirs(os.path.join(root, ".perfbench_work"), exist_ok=True)
    test_checks_reject_corruption()
    print("ok output checks reject corrupted results")
    test_without_program(root)
    test_workloads(root)
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Self-tests for the benchmark harness, on the sf0.001 test tables.

    python3 perfbench/selftest.py

Checks that

1. an injected raising key and an injected wrong-result key are both
   counted as failed, while a correct key is not;
2. a persist-bearing key (dedup_minhash_lsh) runs the same number of
   execution jobs on two consecutive timed runs, and the ExactSubstr
   pair builds the same nonzero number of stages on each pass, so no
   cache state leaks from one timed run into the next;
3. the command prints every metric named in BENCHMARK.json, with its
   unit, in both modes.

Exits non-zero on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402
from workloads import DATA_DIR, Unit, Workload  # noqa: E402


def inject(plans) -> None:
    """Register a key whose builder raises and one whose oracle disagrees."""

    def raises(spark, sf_dir):
        raise RuntimeError("injected failure")

    plans.register("selftest_raises")(raises)
    plans.register("selftest_wrong", oracle="SELECT 1 AS n")(
        plans.QUERIES["q1_pricing_summary"]
    )


def in_process_checks() -> None:
    dirs = {"sf0.001": os.path.join(DATA_DIR, "sf0.001")}
    bench = run.Bench(Workload("selftest", ()), dirs, trace=True, after_load=inject)
    try:
        bench.start(restarts=0)
        units = [Unit("sf0.001", (k,)) for k in ("q1_pricing_summary", "selftest_raises", "selftest_wrong")]
        for n in range(2):
            bench.run_pass(units, n, traced=False)
        v = {k: oks for (_, k), oks in bench.verdicts().items()}
        assert v["q1_pricing_summary"] == [True, True], v
        assert v["selftest_raises"] == [False, False], v
        assert v["selftest_wrong"] == [False, False], v
        print("ok: injected raising and wrong-result keys are counted as failed")

        bench.records.clear()
        units = [
            Unit("sf0.001", ("dedup_minhash_lsh",)),
            Unit("sf0.001", ("dedup_substring_spans", "dedup_substring_excise")),
        ]
        for n in (1, 2):
            bench.run_pass(units, n, traced=True)
        by = {}
        for r in bench.records:
            by.setdefault(r["key"], []).append(r)
        jobs = [r["exec_jobs"]["jobs"] + r["build_jobs"]["jobs"] for r in by["dedup_minhash_lsh"]]
        assert len(jobs) == 2 and jobs[0] == jobs[1] > 0, jobs
        builds = [
            sum(r["operators"].get("stage_builds", 0) for r in bench.records if r["pass_no"] == n)
            for n in (1, 2)
        ]
        assert builds[0] == builds[1] > 0, builds
        print(f"ok: dedup_minhash_lsh runs {jobs[0]} jobs on both timed runs; "
              f"{builds[0]} stage builds on both passes")
    finally:
        bench.stop()


def cli_checks() -> None:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for trace, section in ((0, "end_to_end"), (1, "per_layer")):
        proc = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", "observatory",
             "--seed", "1", "--seconds", "1", "--trace", str(trace)],
            cwd=run.ROOT, capture_output=True, text=True, timeout=600, check=True,
        )
        out = json.loads(proc.stdout.strip().splitlines()[-1])
        assert set(out) == {"correct", "attempted", "failed", "metrics"}, out
        assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0, out
        want = {m["name"]: m["unit"] for m in spec[section]}
        got = {k: m["unit"] for k, m in out["metrics"].items()}
        assert got == want, (section, sorted(set(got) ^ set(want)))
        print(f"ok: --trace {trace} prints all {len(want)} {section} metrics with units")


def main() -> int:
    if not os.path.isdir(os.path.join(run.ROOT, run.PACKAGE)):
        print("selftest: engine package not found", file=sys.stderr)
        return 2
    run.prepare_env()
    in_process_checks()
    cli_checks()
    print("selftest: all checks passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())

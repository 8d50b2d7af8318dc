"""Benchmark of record for the ojo_daps_mirror_spark engine.

    python3 perfbench/run.py --workload observatory --seed 1 --seconds 60 --trace 0

One process, one client, a closed loop on ``local[<cpus>]``: each query
is built and collected to pandas before the next one starts. A run

1. reads the repository's fixed test tables, copied under
   ``perfbench/data``;
2. starts cold (JVM launch, session, plan import, one warm-up job),
   then restarts the Spark session five times with a fresh import of
   every plan module and reports the median restart as ``setup_s``;
3. runs one cold pass over the workload's keys in their own order
   (``first_pass_cpu_s``: CPU seconds of the process tree);
4. runs a fixed number of warm passes (two; five when traced), each
   in a seed-permuted order, clearing the data caches before every unit
   (``pass_cpu_s`` sums each key's lowest CPU seconds, JIT compiler
   threads left out). ``--seconds`` only caps this: no further pass
   starts once that many seconds have passed since the cold pass began;
5. checks every result against the key's DuckDB oracle, outside the
   timed region, and prints one JSON line.

With ``--trace 1`` every other warm pass is traced: each layer is
timed and counted from outside the program (see probes.py), one JSONL
record per key goes to ``.perfbench/trace/``, and the JSON line holds
the per-layer metrics instead of the end-to-end ones.

Exits with code 2 when the engine is not next to this directory.
"""

from __future__ import annotations

import argparse
import gc
import importlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from collections import Counter

import probes
from workloads import DATA_DIR, DATASETS, WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
PACKAGE = "ojo_daps_mirror_spark"
WARM_PASSES = 2
RESTARTS = 5
MB = 1024.0 * 1024.0


def prepare_env() -> int:
    """Keep every file the run writes inside the checkout, and pin the
    engine's knobs; returns the core count used."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    for var in [v for v in os.environ if v.startswith("SPARK_GRAFT_")]:
        del os.environ[var]
    cpus = len(os.sched_getaffinity(0))
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": local,
            "SPARK_GRAFT_CPUS": str(cpus),
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_SUBMIT_ARGS": (
                f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
            ),
        }
    )
    tempfile.tempdir = None
    sys.path.insert(0, ROOT)
    return cpus


def data_dirs(workload) -> dict[str, str]:
    """Input directory of each dataset the workload reads. A dataset
    capped to its first documents gets only that documents table,
    written afresh under .perfbench/data/ on every run."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    dirs = {}
    for name in sorted({u.dataset for u in workload.units}):
        ds = DATASETS[name]
        src = os.path.join(DATA_DIR, ds.scale)
        if ds.max_docs is None:
            dirs[name] = src
            continue
        out = os.path.join(WORK, "data", name)
        shutil.rmtree(out, ignore_errors=True)
        os.makedirs(out)
        docs = pq.read_table(os.path.join(src, "documents.parquet"))
        pq.write_table(docs.filter(pc.less(docs["doc_id"], ds.max_docs)),
                       os.path.join(out, "documents.parquet"))
        dirs[name] = out
    return dirs


class Bench:
    """One benchmark process: session, probes, passes and checks."""

    def __init__(self, workload, data_dirs, trace: bool, after_load=None):
        self.workload = workload
        self.dirs = data_dirs
        self.trace = trace
        self.after_load = after_load
        self.ops = None
        self.spark = None
        self.plans = None
        self.sparkp = None
        self.streamp = None
        self.records: list[dict] = []
        self.observed: dict[tuple[str, str], list] = {}
        if trace:
            from pyspark.sql.classic.dataframe import DataFrame

            self.ops = probes.OperatorProbe()
            self.ops.install(DataFrame)

    # ------------------------------------------------------------ setup

    def setup(self) -> dict:
        from ojo_daps_mirror_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench")
        t1 = time.perf_counter()
        self.plans = importlib.import_module(f"{PACKAGE}.plans")
        self.plans.load_all()
        if self.after_load is not None:
            self.after_load(self.plans)
        t2 = time.perf_counter()
        return {"session_s": t1 - t0, "load_all_s": t2 - t1, "total_s": t2 - t0}

    def _warm_up(self) -> None:
        """A join, an aggregate and a collect, to wake the JVM before the
        cold pass. The JVM, and the code it has compiled, outlive the
        session restarts that follow."""
        d = os.path.join(DATA_DIR, "sf0.01")
        orders = self.spark.read.parquet(f"{d}/orders.parquet")
        customer = self.spark.read.parquet(f"{d}/customer.parquet")
        (
            orders.join(customer, orders.o_custkey == customer.c_custkey)
            .groupBy("c_mktsegment")
            .agg({"o_totalprice": "sum", "*": "count"})
            .collect()
        )

    def restart(self) -> None:
        """Stop the session and forget every plan module, so the next
        setup() pays session start and plan import again."""
        self.clear_caches()
        self.spark.stop()
        prefix = f"{PACKAGE}.plans"
        for name in [m for m in sys.modules if m == prefix or m.startswith(prefix + ".")]:
            del sys.modules[name]
        pkg = sys.modules[PACKAGE]
        if hasattr(pkg, "plans"):
            delattr(pkg, "plans")
        self.plans = None

    def start(self, restarts: int = RESTARTS) -> list[dict]:
        """The cold set-up (JVM launch, session, plan import and a first
        job), measured from process start, then ``restarts`` in-process
        restarts of the session and the plan modules."""
        cold = self.setup()
        self._warm_up()
        out = [dict(cold, total_s=probes.process_age_s(), cold=True)]
        for _ in range(restarts):
            self.restart()
            out.append(dict(self.setup(), cold=False))
        if self.trace:
            self.sparkp = probes.SparkProbe(self.spark)
            self.streamp = probes.make_stream_probe()
        return out

    def stop(self) -> None:
        """Stop Spark and its JVM, and wait until the JVM has exited."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else 0

    # ---------------------------------------------------------- passes

    def clear_caches(self) -> None:
        from ojo_daps_mirror_spark.operators import stagecache, suffix

        self.spark.catalog.clearCache()
        stagecache.clear_cache()
        suffix.clear_cache()
        if self.ops is not None:
            self.ops.forget()
        gc.collect()

    def run_pass(self, order, pass_no: int, traced: bool) -> dict:
        use0 = probes.tree_usage()
        lat: dict[str, float] = {}
        cpu: dict[str, float] = {}
        jit: dict[str, float] = {}
        wall = probe_wall = 0.0
        if traced:
            self.spark.streams.addListener(self.streamp)
        for unit in order:
            self.clear_caches()
            for key in unit.keys:
                data_dir = self.dirs[unit.dataset]
                key_use0 = probes.tree_usage()
                if traced:
                    rec = self._traced_key(key, data_dir)
                    rec.update(pass_no=pass_no, dataset=unit.dataset)
                    self.records.append(rec)
                    t, pdf = rec["wall_s"], rec.pop("_pdf")
                    probe_wall += rec["wall_s"] + rec["probe_s"]
                else:
                    t, pdf = self._timed_key(key, data_dir)
                key_use = probes.usage_delta(key_use0, probes.tree_usage())
                wall += t
                if pdf is not None:
                    lat[key] = t
                    cpu[key] = key_use["cpu_s"] - key_use["jit_s"]
                    jit[key] = key_use["jit_s"]
                self._observe(data_dir, key, pdf)
        if traced:
            self.spark.streams.removeListener(self.streamp)
        use = probes.usage_delta(use0, probes.tree_usage())
        return {
            "pass_no": pass_no,
            "traced": traced,
            "wall_s": wall,
            "traced_wall_s": probe_wall,
            "latencies": lat,
            "cpu": cpu,
            "jit": jit,
            "write_mb": use["wchar"] / MB,
            "disk_write_mb": use["write_bytes"] / MB,
        }

    def _timed_key(self, key: str, data_dir: str):
        t0 = time.perf_counter()
        try:
            pdf = self.plans.QUERIES[key](self.spark, data_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 - a failure is a result
            print(f"# {key}: {type(exc).__name__}: {str(exc)[:200]}", file=sys.stderr)
            pdf = None
        return time.perf_counter() - t0, pdf

    def _traced_key(self, key: str, data_dir: str) -> dict:
        sp, ops = self.sparkp, self.ops
        sp.new_jobs()
        self.streamp.take()
        ops_before = Counter(ops.counts)
        t0 = time.perf_counter()
        pdf = qe = None
        build_s = plan_s = exec_s = 0.0
        build_jobs: list[int] = []
        try:
            df = self.plans.QUERIES[key](self.spark, data_dir)
            t1 = time.perf_counter()
            build_s = t1 - t0
            build_jobs = sp.new_jobs()
            t2 = time.perf_counter()
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            t3 = time.perf_counter()
            pdf = df.toPandas()
            t4 = time.perf_counter()
            plan_s, exec_s = t3 - t2, t4 - t3
        except Exception as exc:  # noqa: BLE001 - a failure is a result
            print(f"# {key}: {type(exc).__name__}: {str(exc)[:200]}", file=sys.stderr)
            if not build_s:
                build_s = time.perf_counter() - t0
        p0 = time.perf_counter()
        exec_jobs = sp.new_jobs()
        build = sp.job_stats(build_jobs)
        ex = sp.job_stats(exec_jobs)
        catalyst = sp.catalyst_ms(qe) if qe is not None else {}
        plan = sp.final_plan(qe) if qe is not None else {"nodes": {}, "udf": {}}
        stream = self.streamp.take()
        ops_delta = {k: ops.counts[k] - ops_before[k] for k in ops.counts}
        persisted = sp.persisted_mb()
        wall = build_s + plan_s + exec_s
        attributed = (
            build_s
            + (catalyst.get("optimization", 0) + catalyst.get("planning", 0)) / 1e3
            + ex.get("span_s", 0.0)
        )
        rec = {
            "key": key,
            "ok_run": pdf is not None,
            "wall_s": wall,
            "build_s": build_s,
            "plan_s": plan_s,
            "exec_wall_s": exec_s,
            "build_jobs": build,
            "exec_jobs": ex,
            "catalyst_ms": catalyst,
            "nodes": plan["nodes"],
            "python_udf": plan["udf"],
            "operators": dict(ops_delta, persisted_mb=persisted),
            "streaming": stream,
            "unattributed_s": wall - attributed,
            "_pdf": pdf,
        }
        rec["probe_s"] = time.perf_counter() - p0
        return rec

    def _observe(self, data_dir: str, key: str, pdf) -> None:
        from check import result_hash

        obs = self.observed.setdefault((data_dir, key), [])
        obs.append(None if pdf is None else result_hash(pdf))

    def measure(self, seed: int, seconds: float) -> dict:
        """Cold pass, then a fixed number of warm passes; ``seconds`` only
        stops further passes from starting, down to a minimum.

        The cold pass keeps the workload's own order, since its first
        key pays for waking the JVM; only warm passes are permuted."""
        rng = random.Random(seed)
        units = list(self.workload.units)

        def order():
            rng.shuffle(units)
            return list(units)

        t_start = time.perf_counter()
        first = self.run_pass(list(self.workload.units), 0, traced=False)
        warm = []
        # Traced runs alternate untraced and traced passes and end on an
        # untraced one, so every traced pass has an untraced pass on each
        # side to compare with. The pass count is fixed so that the
        # best-of-passes statistic is always over the same number of
        # samples, whatever the speed of the code under test.
        passes, least = (2 * WARM_PASSES + 1, 3) if self.trace else (WARM_PASSES, 1)
        while len(warm) < passes and (
            len(warm) < least or time.perf_counter() - t_start < seconds
        ):
            traced = self.trace and len(warm) % 2 == 1
            warm.append(self.run_pass(order(), len(warm) + 1, traced))
        return {"first": first, "warm": warm}

    def verdicts(self) -> dict:
        from check import Oracles, verdicts

        oracles = Oracles(dict(self.plans.ORACLES), os.path.join(WORK, "oracle"))
        return verdicts(self.observed, oracles)


# ------------------------------------------------------------- metrics


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _best_sum(passes, field: str) -> float:
    """Sum over keys of each key's lowest value across ``passes``."""
    best: dict[str, float] = {}
    for p in passes:
        for k, v in p[field].items():
            best[k] = min(v, best.get(k, v))
    return sum(best.values())


def end_to_end(setups, passes) -> dict:
    warm = [p for p in passes["warm"] if not p["traced"]]
    return {
        "setup_s": metric(statistics.median(s["total_s"] for s in setups if not s["cold"]), "s"),
        "first_pass_cpu_s": metric(
            sum(passes["first"]["cpu"].values()) + sum(passes["first"]["jit"].values()), "s"
        ),
        "pass_cpu_s": metric(_best_sum(warm, "cpu"), "s"),
        "io_write_mb": metric(statistics.median(p["write_mb"] for p in warm), "MB"),
    }


def per_layer(setups, passes, records, cpus) -> dict:
    """Per traced pass totals, reported as the median over traced passes."""
    traced = [p["pass_no"] for p in passes["warm"] if p["traced"]]
    rows: dict[str, list[float]] = {}
    for pass_no in traced:
        recs = [r for r in records if r["pass_no"] == pass_no]
        tot = Counter()
        batches: list[float] = []
        for r in recs:
            b, e = r["build_jobs"], r["exec_jobs"]
            tot["plans.build_s"] += r["build_s"]
            tot["plans.build_jobs"] += b.get("jobs", 0)
            tot["plans.build_task_s"] += b.get("task_s", 0.0)
            for ph in ("analysis", "optimization", "planning"):
                tot[f"catalyst.{ph}_ms"] += r["catalyst_ms"].get(ph, 0)
            for kind, n in r["nodes"].items():
                tot[f"catalyst.nodes.{kind}"] += n
            tot["exec.wall_s"] += r["exec_wall_s"]
            for f in ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
                      "shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
                tot[f"exec.{f}"] += e.get(f, 0)
            for f in ("scan_mb", "scan_rows"):
                tot[f"sources.{f}"] += b.get(f, 0) + e.get(f, 0)
            for f in ("stage_builds", "stage_hits", "stage_build_s",
                      "checkpoints", "checkpoint_s", "persisted_mb"):
                tot[f"operators.{f}"] += r["operators"].get(f, 0)
            for f in ("rows", "sent_mb", "returned_mb"):
                tot[f"python_udf.{f}"] += r["python_udf"].get(f, 0)
            s = r["streaming"]
            for f in ("batches", "add_batch_ms", "planning_ms", "wal_commit_ms",
                      "state_rows", "state_mb"):
                tot[f"streaming.{f}"] += s.get(f, 0)
            batches += s.get("batch_ms", [])
            tot["trace.unattributed_s"] += r["unattributed_s"]
        tot["exec.busy_frac"] = (
            tot["exec.task_s"] / (tot["exec.wall_s"] * cpus) if tot["exec.wall_s"] else 0.0
        )
        tot["streaming.batch_p50_ms"] = statistics.median(batches) if batches else 0.0
        for name, value in tot.items():
            rows.setdefault(name, []).append(value)
    out = {name: statistics.median(vals) for name, vals in rows.items()}
    restarts = [s for s in setups if not s["cold"]]
    out["session.start_s"] = statistics.median(s["session_s"] for s in restarts)
    out["plans.load_all_s"] = statistics.median(s["load_all_s"] for s in restarts)
    out["session.cold_setup_s"] = next(s["total_s"] for s in setups if s["cold"])
    untraced = [p for p in passes["warm"] if not p["traced"]]
    out["process.disk_write_mb"] = statistics.median(p["disk_write_mb"] for p in untraced)
    out["process.jit_cpu_s"] = statistics.median(sum(p["jit"].values()) for p in untraced)
    # Warm passes keep speeding up (JIT), so each traced pass is set
    # against the mean of the untraced passes just before and after it.
    warm = passes["warm"]
    ratios = []
    for i, p in enumerate(warm):
        around = [q["wall_s"] for q in warm[max(i - 1, 0) : i + 2] if not q["traced"]]
        if p["traced"] and around:
            ratios.append(p["traced_wall_s"] / statistics.mean(around))
    out["trace.overhead_frac"] = statistics.median(ratios) - 1.0
    return out


def _units(spec: str) -> dict[str, str]:
    return dict(line.split() for line in spec.strip().splitlines())


PER_LAYER_UNITS = _units("""
process.peak_rss_mb MB
process.disk_write_mb MB
process.jit_cpu_s s
session.cold_setup_s s
session.start_s s
plans.load_all_s s
plans.build_s s
plans.build_jobs count
plans.build_task_s s
catalyst.analysis_ms ms
catalyst.optimization_ms ms
catalyst.planning_ms ms
catalyst.nodes.exchange count
catalyst.nodes.smj count
catalyst.nodes.shj count
catalyst.nodes.bhj count
catalyst.nodes.bnlj count
catalyst.nodes.window count
catalyst.nodes.python count
exec.wall_s s
exec.jobs count
exec.stages count
exec.tasks count
exec.task_s s
exec.cpu_s s
exec.gc_s s
exec.busy_frac ratio
exec.shuffle_write_mb MB
exec.shuffle_read_mb MB
exec.spill_mb MB
sources.scan_mb MB
sources.scan_rows count
operators.stage_builds count
operators.stage_hits count
operators.stage_build_s s
operators.checkpoints count
operators.checkpoint_s s
operators.persisted_mb MB
python_udf.rows count
python_udf.sent_mb MB
python_udf.returned_mb MB
streaming.batches count
streaming.batch_p50_ms ms
streaming.add_batch_ms ms
streaming.planning_ms ms
streaming.wal_commit_ms ms
streaming.state_rows count
streaming.state_mb MB
trace.unattributed_s s
trace.overhead_frac ratio
""")


# ----------------------------------------------------------------- main


def parse_args(argv):
    ap = argparse.ArgumentParser(description="ojo_daps_mirror_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: the {PACKAGE} package is not next to {HERE}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]
    cpus = prepare_env()
    bench = Bench(workload, data_dirs(workload), trace=bool(args.trace))
    try:
        setups = bench.start()
        passes = bench.measure(args.seed, args.seconds)
        pids = (os.getpid(), bench.jvm_pid())
        peak_rss_mb = sum(probes.proc_field(p, "status", "VmHWM") for p in pids) / 1024.0
        verdicts = bench.verdicts()
    finally:
        bench.stop()
    attempted = sum(len(v) for v in verdicts.values())
    failed = sum(not ok for v in verdicts.values() for ok in v)
    bad = sorted(k for (_, k), v in verdicts.items() if not all(v))
    warm = [p for p in passes["warm"] if not p["traced"]]
    lat = sorted(t for p in warm for t in p["latencies"].values())
    p50, p90 = (statistics.median(lat), statistics.quantiles(lat, n=10)[-1]) if len(lat) > 1 else (0, 0)
    print(
        f"# workload={workload.name} seed={args.seed} cpus={cpus} keys={len(workload.keys)} "
        f"warm_passes={len(warm)} latency_samples={len(lat)} "
        f"cold_setup_s={setups[0]['total_s']:.2f} first_pass_s={passes['first']['wall_s']:.3f} "
        f"pass_best_s={_best_sum(warm, 'latencies'):.3f} "
        f"query_p50_s={p50:.3f} query_p90_s={p90:.3f} peak_rss_mb={peak_rss_mb:.0f} "
        f"failed_frac={failed / attempted:.4f} failed_keys={bad} "
        f"pass_walls={[round(p['wall_s'], 2) for p in passes['warm']]} "
        f"pass_cpu={[round(sum(p['cpu'].values()), 2) for p in [passes['first']] + passes['warm']]} "
        f"pass_jit={[round(sum(p['jit'].values()), 2) for p in [passes['first']] + passes['warm']]}"
    )
    if args.trace:
        os.makedirs(os.path.join(WORK, "trace"), exist_ok=True)
        path = os.path.join(WORK, "trace", f"{workload.name}-seed{args.seed}.jsonl")
        layers = per_layer(setups, passes, bench.records, cpus)
        layers["process.peak_rss_mb"] = peak_rss_mb
        with open(path, "w") as fh:
            for s in setups:
                fh.write(json.dumps({"record": "setup", **s}) + "\n")
            for r in bench.records:
                fh.write(json.dumps({"record": "key", "workload": workload.name, **r}) + "\n")
            fh.write(json.dumps({"record": "run", "per_layer": layers}) + "\n")
        print(f"# trace: {path}")
        metrics = {n: metric(layers.get(n, 0.0), u) for n, u in PER_LAYER_UNITS.items()}
    else:
        metrics = end_to_end(setups, passes)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

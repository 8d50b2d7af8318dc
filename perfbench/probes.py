"""Layer probes, all measured from outside the program.

Nothing here edits the engine: each probe either wraps a public
function (installed before ``plans.load_all()`` so plan modules bind
the wrapper), reads Spark's own bookkeeping through py4j (query
execution tracker, status tracker, app status store, SQL metrics of
the final plan), or listens on the streaming listener bus. Process
memory, CPU time and writes come from ``/proc``.
"""

from __future__ import annotations

import os
import re
import time
from collections import Counter

MB = 1024.0 * 1024.0

# ---------------------------------------------------------------- /proc


def proc_field(pid: int, path: str, field: str) -> int:
    """One integer field of /proc/<pid>/<path> ("VmHWM" in status, in
    kB; "write_bytes" in io, in bytes); 0 if the process is gone."""
    try:
        with open(f"/proc/{pid}/{path}") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


IO_FIELDS = ("wchar", "write_bytes")


def _tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant, from the ppid field of
    /proc/<pid>/stat."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")


def _cpu_ticks(pid: int) -> int:
    """utime + stime + cutime + cstime of /proc/<pid>/stat: CPU time of
    the process and of its children it has reaped; 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in f[11:15])


# Thread names (as /proc truncates them) of the JVM's JIT compilers.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _jit_ticks(pid: int) -> dict[str, int]:
    """utime + stime of each of the process's JIT compiler threads, by
    thread id. The JVM starts and stops compiler threads as the load
    changes, so a sum over the live ones is not monotonic."""
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        if stat[stat.index("(") + 1 : stat.rindex(")")].startswith(JIT_THREADS):
            out[tid] = sum(int(x) for x in stat.rsplit(")", 1)[1].split()[11:13])
    return out


def tree_usage() -> dict[int, dict[str, float]]:
    """Write counters, CPU seconds and JIT-compiler CPU seconds of this
    process and its live descendants: the JVM, and the Python workers
    the JVM forks."""
    return {
        pid: dict(
            {f: proc_field(pid, "io", f) for f in IO_FIELDS},
            cpu_s=_cpu_ticks(pid) / CLK_TCK,
            jit=_jit_ticks(pid),
        )
        for pid in _tree_pids(os.getpid())
    }


def usage_delta(before: dict, after: dict) -> dict[str, float]:
    """Bytes written and CPU seconds spent between two ``tree_usage()``
    snapshots. A process or compiler thread started in between counts
    from zero. A process that ended in between counts only through its
    parent's reaped-children CPU time; a compiler thread that ended in
    between is not counted as JIT time."""
    out = {
        f: sum(c[f] - before.get(pid, {}).get(f, 0) for pid, c in after.items())
        for f in (*IO_FIELDS, "cpu_s")
    }
    out["jit_s"] = sum(
        ticks - before.get(pid, {}).get("jit", {}).get(tid, 0)
        for pid, c in after.items()
        for tid, ticks in c["jit"].items()
    ) / CLK_TCK
    return out


def process_age_s() -> float:
    """Seconds since this process started, from /proc/self/stat."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# ----------------------------------------------------- operator wrappers


class OperatorProbe:
    """Counts stage builds/hits and checkpoints by wrapping
    ``stagecache.materialized_stage``, ``suffix.adjacent_suffixes`` and
    the DataFrame checkpoint methods (which ``lineage.cut_lineage`` and
    every direct caller go through).

    A stage call is a hit when it returns the very object an earlier
    call with the same arguments returned; anything else built (or
    re-read) the stage and is counted as a build. Build time counts
    only the outermost call, since one stage's builder may build another.
    """

    def __init__(self) -> None:
        self.counts: Counter = Counter()
        self._seen: dict[tuple, object] = {}
        self._depth = 0

    def forget(self) -> None:
        """Drop the remembered stage handles (call when caches are cleared)."""
        self._seen.clear()

    def install(self, df_class) -> None:
        from ojo_daps_mirror_spark.operators import stagecache, suffix

        stagecache.materialized_stage = self._stage(
            stagecache.materialized_stage,
            lambda a, kw: ("stagecache", a[0].sparkContext.applicationId) + tuple(a[1:4]),
        )
        suffix.adjacent_suffixes = self._stage(
            suffix.adjacent_suffixes,
            lambda a, kw: ("suffix", a[0].sparkContext.applicationId)
            + tuple(a[1:])
            + tuple(sorted(kw.items())),
        )
        for name in ("checkpoint", "localCheckpoint"):
            setattr(df_class, name, self._checkpoint(getattr(df_class, name)))

    def _stage(self, fn, key_of):
        def wrapper(*args, **kwargs):
            key = key_of(args, kwargs)
            t0 = time.perf_counter()
            self._depth += 1
            try:
                out = fn(*args, **kwargs)
            finally:
                self._depth -= 1
            if self._seen.get(key) is out:
                self.counts["stage_hits"] += 1
            else:
                self._seen[key] = out
                self.counts["stage_builds"] += 1
                if not self._depth:
                    self.counts["stage_build_s"] += time.perf_counter() - t0
            return out

        wrapper.__wrapped__ = fn
        return wrapper

    def _checkpoint(self, fn):
        def wrapper(df, *args, **kwargs):
            t0 = time.perf_counter()
            out = fn(df, *args, **kwargs)
            self.counts["checkpoints"] += 1
            self.counts["checkpoint_s"] += time.perf_counter() - t0
            return out

        wrapper.__wrapped__ = fn
        return wrapper


# ------------------------------------------------------------ streaming


def make_stream_probe():
    """A StreamingQueryListener that keeps every progress report."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProbe(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self.started = 0
            self.terminated = 0

        def onQueryStarted(self, event) -> None:
            self.started += 1

        def onQueryProgress(self, event) -> None:
            p = event.progress
            self.progress.append(
                {
                    "id": str(p.id),
                    "duration": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    "state_bytes": sum(s.memoryUsedBytes for s in p.stateOperators),
                }
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            self.terminated += 1

        def take(self) -> dict:
            """Summarise and forget the reports seen since the last call."""
            deadline = time.time() + 5.0
            while self.terminated < self.started and time.time() < deadline:
                time.sleep(0.02)
            reps, self.progress = self.progress, []
            self.started = self.terminated = 0
            dur = [r["duration"] for r in reps]
            peak_rows: dict[str, int] = {}
            peak_bytes: dict[str, int] = {}
            for r in reps:
                peak_rows[r["id"]] = max(peak_rows.get(r["id"], 0), r["state_rows"])
                peak_bytes[r["id"]] = max(peak_bytes.get(r["id"], 0), r["state_bytes"])
            return {
                "batches": len(reps),
                "batch_ms": [d.get("triggerExecution", 0) for d in dur],
                "add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
                "planning_ms": sum(d.get("queryPlanning", 0) for d in dur),
                "wal_commit_ms": sum(d.get("walCommit", 0) for d in dur),
                "state_rows": sum(peak_rows.values()),
                "state_mb": sum(peak_bytes.values()) / MB,
            }

    return StreamProbe()


# --------------------------------------------------------- Spark status


_PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")
_NODE_KINDS = {
    "Exchange": "exchange",
    "BroadcastExchange": "exchange",
    "SortMergeJoin": "smj",
    "ShuffledHashJoin": "shj",
    "BroadcastHashJoin": "bhj",
    "BroadcastNestedLoopJoin": "bnlj",
    "Window": "window",
}
_UDF_METRICS = {
    "number of output rows": "rows",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "returned_mb",
}


class SparkProbe:
    """Reads jobs, stages, Catalyst phases and final-plan metrics."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.jvm = self.sc._jvm
        self.tracker = self.sc.statusTracker()
        self.store = self.jsc.statusStore()
        self.conv = self.jvm.scala.jdk.javaapi.CollectionConverters
        self.next_job = 0
        self.new_jobs()

    def drain(self) -> None:
        """Wait until every queued listener event has been delivered."""
        self.jsc.listenerBus().waitUntilEmpty()

    def new_jobs(self) -> list[int]:
        """Ids of the jobs submitted since the last call (ids are dense)."""
        self.drain()
        ids = []
        while self.tracker.getJobInfo(self.next_job) is not None:
            ids.append(self.next_job)
            self.next_job += 1
        return ids

    def job_stats(self, job_ids: list[int]) -> dict:
        """Totals over the completed stages of ``job_ids``, plus the
        union of the jobs' run spans in seconds."""
        out = Counter(jobs=len(job_ids))
        spans = []
        seen: set[int] = set()
        for jid in job_ids:
            info = self.tracker.getJobInfo(jid)
            job = self.store.job(jid)
            sub, end = job.submissionTime(), job.completionTime()
            if sub.isDefined() and end.isDefined():
                spans.append((sub.get().getTime(), end.get().getTime()))
            for sid in info.stageIds if info is not None else []:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = self.store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                out["task_s"] += sd.executorRunTime() / 1e3
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                out["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                out["spill_mb"] += sd.diskBytesSpilled() / MB
                out["scan_mb"] += sd.inputBytes() / MB
                out["scan_rows"] += sd.inputRecords()
        out["span_s"] = _union_ms(spans) / 1e3
        return dict(out)

    def catalyst_ms(self, qe) -> dict:
        phases = self.conv.asJava(qe.tracker().phases())
        return {
            name: phases.get(name).durationMs() if phases.containsKey(name) else 0
            for name in ("analysis", "optimization", "planning")
        }

    def final_plan(self, qe) -> dict:
        """Node counts and Python-UDF SQL metrics of the executed plan
        (the AQE final plan once the query has run). Subtrees under a
        ReusedExchange are not walked again."""
        info = self.jvm.org.apache.spark.sql.execution.SparkPlanInfo.fromSparkPlan(
            qe.executedPlan()
        )
        counts = Counter({k: 0 for k in set(_NODE_KINDS.values()) | {"python"}})
        udf = Counter({k: 0 for k in _UDF_METRICS.values()})
        acc = self.jvm.org.apache.spark.util.AccumulatorContext
        stack = [info]
        while stack:
            node = stack.pop()
            name = node.nodeName()
            if name in _NODE_KINDS:
                counts[_NODE_KINDS[name]] += 1
            if _PYTHON_NODE.search(name):
                counts["python"] += 1
                metrics = self.conv.asJava(node.metrics())
                for i in range(metrics.size()):
                    m = metrics.get(i)
                    field = _UDF_METRICS.get(m.name())
                    value = acc.get(m.accumulatorId()) if field else None
                    if value is not None and value.isDefined():
                        v = value.get().value()
                        udf[field] += v / MB if field.endswith("_mb") else v
            if name == "ReusedExchange":
                continue
            children = self.conv.asJava(node.children())
            stack.extend(children.get(i) for i in range(children.size()))
        return {"nodes": dict(counts), "udf": dict(udf)}

    def persisted_mb(self) -> float:
        return sum(
            (r.memSize() + r.diskSize()) / MB for r in self.jsc.getRDDStorageInfo()
        )


def _union_ms(spans: list[tuple[int, int]]) -> float:
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)


"""Shared machinery for the perfbench workloads: host regime stamp, session
sizing, the closed-loop op runner, spans, and Spark status-store readers.

Nothing here imports ``score_spark`` at module import; the runner imports it
after the environment (work dirs, oracle sf dir) is pinned.
"""

from __future__ import annotations

import json
import os
import platform
import resource
import time
from collections import defaultdict
from contextlib import contextmanager

# ------------------------------------------------------------------ host


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def _cpu_times() -> tuple[int, int]:
    """(total jiffies, steal jiffies) from the aggregate cpu line."""
    with open("/proc/stat") as f:
        parts = f.readline().split()
    vals = [int(v) for v in parts[1:]]
    return sum(vals[:8]), vals[7] if len(vals) > 7 else 0


class Host:
    """Host regime, stamped at start and closed at the end of a run."""

    def __init__(self) -> None:
        self.cores = len(os.sched_getaffinity(0))
        self.mem_total_bytes = _mem_total_bytes()
        self.load1_start = os.getloadavg()[0]
        self._cpu_start = _cpu_times()

    def driver_memory(self) -> str:
        """An eighth of MemTotal, 1-4 GiB (the session defaults assume a
        32 GiB host). sf0.1 needs well under 1 GiB of heap."""
        mib = min(max(self.mem_total_bytes // 8, 1 << 30), 4 << 30) >> 20
        return f"{mib}m"

    def stamp(self, spark) -> dict:
        total0, steal0 = self._cpu_start
        total1, steal1 = _cpu_times()
        dt = total1 - total0
        return {
            "nproc": self.cores,
            "mem_total_mb": self.mem_total_bytes >> 20,
            "driver_memory": self.driver_memory(),
            "load1_start": self.load1_start,
            "steal_pct": 100.0 * (steal1 - steal0) / dt if dt > 0 else 0.0,
            "spark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }


def peak_memory(spark) -> dict[str, float]:
    """Memory the run drove, in MB. ``total_mb`` (the peak_rss_mb metric)
    = ru_maxrss of this Python process + the Spark JVM's peak used
    non-heap bytes (code cache, metaspace) + the JVM heap still live after
    a full GC at the end of the run. The heap's own peak (per-pool peaks
    from the memory MXBeans, summed) is reported beside it but not
    counted: it follows when the GC chose to collect, not what the program
    keeps, and moved by a quarter between runs of the same seed."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    out = {"python_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0,
           "jvm_heap_peak_mb": 0.0, "jvm_nonheap_peak_mb": 0.0}
    for pool in mf.getMemoryPoolMXBeans():
        key = "jvm_heap_peak_mb" if pool.getType().name() == "HEAP" else "jvm_nonheap_peak_mb"
        out[key] += pool.getPeakUsage().getUsed() / 2**20
    spark._jvm.System.gc()
    out["jvm_heap_live_mb"] = mf.getMemoryMXBean().getHeapMemoryUsage().getUsed() / 2**20
    out["total_mb"] = out["python_mb"] + out["jvm_nonheap_peak_mb"] + out["jvm_heap_live_mb"]
    return out


def session_conf(host: Host, work: str) -> dict[str, str]:
    """Session settings that keep every byte Spark writes inside ``work``."""
    tmp = os.path.join(work, "tmp")
    return {
        "spark.driver.memory": host.driver_memory(),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        # initial heap = maximum heap: the default starts at a 64th of RAM
        # and grows during the run. On the same five seeds of prune_nested,
        # the fixed size cut the run-to-run spread of op_ms_p80 from 0.24
        # to 0.10 and of ops_per_s from 0.19 to 0.12. Pages are not
        # pre-touched, and peak_rss_mb reads used bytes, not committed ones.
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{host.driver_memory()}",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
    }


# ------------------------------------------------------------------ stats


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


# ------------------------------------------------------------------ ops


class OpLog:
    """Closed loop, one client: each op starts when the previous one ends.
    Latency covers the op only; verification hooks run outside the clock."""

    def __init__(self) -> None:
        self.lat_ms: list[float] = []
        self.errors: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.wall_s = 0.0

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:300])

    def summary(self, tail_pct: float) -> dict:
        """``tail_pct``: the workload's tail percentile (its TAIL_PCT)."""
        if not self.lat_ms:
            raise RuntimeError("no op completed: " + "; ".join(self.errors[:3]))
        return {
            "op_ms_p50": percentile(self.lat_ms, 50),
            "op_ms_p80": percentile(self.lat_ms, 80),
            "op_ms_tail": percentile(self.lat_ms, tail_pct),
            "tail_pct": tail_pct,
            "ops_per_s": len(self.lat_ms) / self.wall_s,
            "failed_frac": self.failed / max(self.attempted, 1),
        }


# ------------------------------------------------------------------ spans


class Tracer:
    """In-memory spans (name, start, end, parent, op id), written once at
    the end. ``wrap`` swaps a module or class attribute for a spanning
    wrapper; the program's files are not touched."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None
        self._undo: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, tag=None) -> None:
        """``tag(result)`` may return fields to store on the span."""
        raw = owner.__dict__[attr]
        is_cm = isinstance(raw, classmethod)
        fn = raw.__func__ if is_cm else raw
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if tag is not None:
                    rec.update(tag(out))
                return out

        traced.__name__ = getattr(fn, "__name__", attr)
        traced.__doc__ = getattr(fn, "__doc__", None)
        setattr(owner, attr, classmethod(traced) if is_cm else traced)
        self._undo.append((owner, attr, raw))

    def unwrap_all(self) -> None:
        while self._undo:
            owner, attr, raw = self._undo.pop()
            setattr(owner, attr, raw)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_time_by_layer(spans: list[dict]) -> dict[str, float]:
    """Span duration minus the part covered by its child spans, summed per
    layer (the span name's first dotted part)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"].split(".", 1)[0]] += s["end"] - s["start"] - child[s["id"]]
    return dict(out)


def wrap_program(tracer: Tracer) -> None:
    """Span every public entry point the workloads reach. Must run before
    ``score_spark.queries`` is imported: the operator modules bind
    ``load_table`` and friends by name at import."""
    from score_spark import io, schema_on_read, xcheck
    from score_spark.schema_on_read import bytes_audit, generator, rewrite

    for attr in ("load_table", "load_tables", "load_events"):
        tracer.wrap(io, attr, f"io.{attr}")
    tracer.wrap(xcheck, "write_xcheck", "xcheck.write_xcheck")
    seen: dict[int, object] = {}

    def cache_hit(sor) -> dict:
        # the memo returns the identical object on a hit; holding every
        # result keeps its id from being reused
        hit = id(sor) in seen
        seen[id(sor)] = sor
        return {"hit": hit}

    tracer.wrap(generator.SchemaOnRead, "generate", "schema_on_read.generate", tag=cache_hit)
    tracer.wrap(generator.SchemaOnRead, "for_paths", "schema_on_read.for_paths")
    tracer.wrap(rewrite, "prune", "rewrite.prune")
    schema_on_read.prune = rewrite.prune
    tracer.wrap(bytes_audit, "scan_bytes", "bytes_audit.scan_bytes")


# ------------------------------------------------------------------ engine


def _opt(o):
    return o.get() if o.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


class Engine:
    """Stage counters and busy intervals from Spark's in-process status
    store, keyed by the job group set around each op. Works with the UI
    disabled."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def group(self, name: str):
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def collect(self) -> dict[str, dict]:
        """group id -> {jobs, stages, tasks, executor_run_s, executor_cpu_s,
        gc_s, shuffle_*, spill_bytes, intervals: [(start_ms, end_ms)],
        job_submit_ms: [...]}."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        by_stage: dict[int, str] = {}
        out: dict[str, dict] = {}
        for job in _seq(store.jobsList(None)):
            gid = _opt(job.jobGroup())
            if gid is None:
                continue
            rec = out.setdefault(gid, _empty_engine())
            rec["jobs"] += 1
            sub = _opt(job.submissionTime())
            if sub is not None:
                rec["job_submit_ms"].append(sub.getTime())
            for sid in _seq(job.stageIds()):
                by_stage[int(sid)] = gid
        gw = self.sc._gateway
        stages = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
        for st in _seq(stages):
            gid = by_stage.get(int(st.stageId()))
            if gid is None:
                continue
            rec = out[gid]
            rec["stages"] += 1
            rec["tasks"] += int(st.numCompleteTasks()) + int(st.numFailedTasks())
            rec["executor_run_s"] += st.executorRunTime() / 1e3
            rec["executor_cpu_s"] += st.executorCpuTime() / 1e9
            rec["gc_s"] += st.jvmGcTime() / 1e3
            rec["shuffle_read_bytes"] += st.shuffleReadBytes()
            rec["shuffle_write_bytes"] += st.shuffleWriteBytes()
            rec["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            start = _opt(st.firstTaskLaunchedTime()) or _opt(st.submissionTime())
            end = _opt(st.completionTime())
            if start is not None and end is not None:
                rec["intervals"].append((start.getTime(), end.getTime()))
        return out


def _empty_engine() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "intervals": [],
        "job_submit_ms": [],
    }


def union_ms(intervals: list[tuple[int, int]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


ENGINE_KEYS = (
    "jobs",
    "stages",
    "tasks",
    "driver_gap_s",
    "executor_run_s",
    "executor_cpu_s",
    "busy_frac",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "gc_s",
)


def engine_metrics(groups: dict[str, dict], op_walls: dict[str, float], cores: int) -> dict[str, float]:
    """Per-op means over the timed ops; busy_frac = executor run time /
    (op wall x cores); driver_gap_s = op wall minus the union of that op's
    stage busy intervals."""
    tot = _empty_engine()
    gap = 0.0
    for gid, wall in op_walls.items():
        rec = groups.get(gid, _empty_engine())
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                  "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            tot[k] += rec[k]
        gap += max(wall - union_ms(rec["intervals"]) / 1e3, 0.0)
    wall = sum(op_walls.values())
    n = max(len(op_walls), 1)
    out = {f"engine.{k}": tot[k] / n for k in ENGINE_KEYS if k in tot}
    out["engine.driver_gap_s"] = gap / n
    out["engine.busy_frac"] = tot["executor_run_s"] / (wall * cores) if wall > 0 else 0.0
    return out


def stop_session(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)

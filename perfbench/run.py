#!/usr/bin/env python3
"""score-pyspark benchmark: one closed-loop client in one driver process.

    python3 perfbench/run.py --workload suite_sf0.1 --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Workloads: suite_sf0.1, prune_nested,
analyze_plans (see perfbench/METRICS.json). ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` wraps each module's public entry points in
spans, reads per-op engine counters from Spark's status store and prints the
per-layer metrics. Metric names and units come from BENCHMARK.json. The
last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
Everything the run writes lands under perfbench/.work/.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")


def catalogue() -> dict[int, dict[str, str]]:
    """{trace: {metric name: unit}} from BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return {t: {m["name"]: m["unit"] for m in bench[key]} for t, key in ((0, "end_to_end"), (1, "per_layer"))}


class Runner:
    """Times ops in a closed loop and runs each op's check outside the
    clock. In a traced run every op gets its own span op id and Spark job
    group."""

    def __init__(self, seconds: float, tracer, engine) -> None:
        from harness import OpLog

        self.seconds = seconds
        self.tracer = tracer
        self.engine = engine
        self.log = OpLog()
        self.op_walls: dict[str, float] = {}
        self.kind_ms: dict[str, list[float]] = {}

    def op(self, kind: str, fn, check=None) -> None:
        i = self.log.attempted
        self.log.attempted += 1
        gid = f"op{i}"
        if self.tracer is not None:
            self.tracer.op = i
        group = self.engine.group(gid) if self.engine is not None else nullcontext()
        span = self.tracer.span(f"op.{kind}") if self.tracer is not None else nullcontext()
        try:
            with group, span:
                t0 = time.perf_counter()
                out = fn()
                dt = time.perf_counter() - t0
        except Exception as e:  # an op that raises is a failed op, not a crash
            self.log.fail(f"{kind}: {type(e).__name__}: {e}")
            return
        finally:
            if self.tracer is not None:
                self.tracer.op = None
        self.log.lat_ms.append(dt * 1e3)
        self.log.wall_s += dt
        self.op_walls[gid] = dt
        self.kind_ms.setdefault(kind, []).append(dt * 1e3)
        if check is not None:
            try:
                problem = check(out)
            except Exception as e:
                problem = f"check raised {type(e).__name__}: {e}"
            if problem:
                self.log.fail(f"{kind}: {problem}")


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny: sf0.001 and small fixtures, for the self-test")
    return ap.parse_args()


def main() -> int:
    start = time.perf_counter()
    args = _parse()
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; known: {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    if not os.path.isfile(os.path.join(ROOT, "score_spark", "__init__.py")):
        print(f"no score_spark package under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    wl_cls = WORKLOADS[args.workload]
    units = catalogue()[args.trace]

    for sub in ("tmp", "xcheck", "out"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    # pinned before score_spark is imported: xcheck paths and oracle strings
    # freeze at import
    os.environ["SCORE_SPARK_XCHECK_DIR"] = os.path.join(WORK, "xcheck")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    # every JVM (spark-submit's launcher too) would write hsperfdata files
    # to the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    sf_dir = wl_cls.sf_dir(args.size)
    if sf_dir is not None:
        if not os.path.isdir(sf_dir):
            print(f"test data {sf_dir} missing", file=sys.stderr)
            return 2
        os.environ["SCORE_SPARK_ORACLE_SF_DIR"] = sf_dir

    import harness

    host = harness.Host()
    tracer = harness.Tracer() if args.trace else None
    if tracer is not None:
        harness.wrap_program(tracer)

    from score_spark.session import get_session

    t0 = time.perf_counter()
    with tracer.span("session.get_session") if tracer else nullcontext():
        spark = get_session(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{host.cores}]",
            extra_conf=harness.session_conf(host, WORK),
        )
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        engine = harness.Engine(spark) if args.trace else None
        wl = wl_cls(spark, args.seed, args.size, WORK)
        t1 = time.perf_counter()
        wl.prepare()
        prepare_s = time.perf_counter() - t1
        t1 = time.perf_counter()
        wl.warm(tracer)
        warm_s = time.perf_counter() - t1
        runner = Runner(args.seconds, tracer, engine)
        setup_s = time.perf_counter() - start
        wl.run(runner)
        summary = runner.log.summary(wl.TAIL_PCT)
        t1 = time.perf_counter()
        extra = wl.finish(runner)  # untimed: audits and sampled checks
        finish_s = time.perf_counter() - t1
        e2e = {
            "setup_s": setup_s,
            **{k: summary[k] for k in ("op_ms_p50", "op_ms_p80", "op_ms_tail", "ops_per_s")},
            "bytes_read_ratio": extra.pop("bytes_read_ratio"),
        }
        memory = harness.peak_memory(spark)
        e2e["peak_rss_mb"] = memory["total_mb"]
        layer = {}
        if tracer is not None:
            groups = engine.collect()
            layer = wl.layer_metrics(runner, tracer, session_s, groups)
            layer.update(harness.engine_metrics(groups, runner.op_walls, host.cores))
            layer.update(_self_time_layer(tracer, runner, units))
            tracer.dump(os.path.join(WORK, "out", f"spans-{args.workload}-s{args.seed}.json"))
            tracer.unwrap_all()
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "size": args.size,
            "trace": args.trace,
            "ops": len(runner.log.lat_ms),
            "op_ms_by_kind": {k: harness.median(v) for k, v in runner.kind_ms.items()},
            "op_ms": runner.log.lat_ms,
            "op_ms_quantiles": {q: harness.percentile(runner.log.lat_ms, q)
                                for q in (10, 25, 50, 75, 80, 85, 90, 95, 99)},
            "failed_frac": summary["failed_frac"],
            "tail_pct": summary["tail_pct"],
            "errors": runner.log.errors,
            "prepare_s": prepare_s,
            "memory_mb": memory,
            "warm_s": warm_s,
            "finish_s": finish_s,
            "session_s": session_s,
            "host": host.stamp(spark),
            **extra,
            "end_to_end": e2e,
            "per_layer": layer,
        }
    finally:
        harness.stop_session(spark)
    path = os.path.join(WORK, "out", f"result-{args.workload}-s{args.seed}-t{args.trace}.json")
    with open(path, "w") as f:
        json.dump(report, f, indent=1, default=str)
    print(json.dumps({k: report[k] for k in ("workload", "seed", "ops", "tail_pct", "failed_frac", "host", "errors")},
                     default=str))
    values = layer if args.trace else e2e
    unknown = sorted(set(values) - set(units))
    if unknown:
        raise RuntimeError(f"metrics missing from BENCHMARK.json: {unknown}")
    if not args.trace:
        missing = sorted(set(units) - set(values))
        if missing:
            raise RuntimeError(f"end-to-end metrics not measured: {missing}")
    # a per-layer metric of a layer this workload never reaches reads 0
    metrics = {k: {"value": values.get(k, 0.0), "unit": unit} for k, unit in units.items()}
    print(json.dumps({
        "correct": runner.log.failed == 0,
        "attempted": runner.log.attempted,
        "failed": runner.log.failed,
        "metrics": metrics,
    }))
    return 0


def _self_time_layer(tracer, runner: Runner, units: dict[str, str]) -> dict[str, float]:
    """Self time per layer over the timed ops, as a share of op wall, for
    each ``self_frac.<layer>`` metric BENCHMARK.json names. The ``op``
    layer's self time is what no wrapped module covered: Spark execution
    and the workload's own DataFrame construction."""
    import harness

    by_layer = harness.self_time_by_layer([s for s in tracer.spans if s["op"] is not None])
    wall = runner.log.wall_s
    out = {}
    for name in units:
        if name.startswith("self_frac."):
            out[name] = by_layer.get(name.split(".", 1)[1], 0.0) / wall if wall > 0 else 0.0
    out["trace.op_p50_ms"] = harness.percentile(runner.log.lat_ms, 50)
    return out


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:
        traceback.print_exc()
        sys.exit(1)

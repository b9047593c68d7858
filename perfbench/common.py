"""Helpers the workloads share: the suite's query set, schema checks and
span-derived layer metrics."""

from __future__ import annotations

import os

from harness import median



def testdata_root() -> str:
    """PERFBENCH_TESTDATA, else the directory of the test data the
    program's oracle channel defaults to. Import after the xcheck
    environment is pinned."""
    if os.environ.get("PERFBENCH_TESTDATA"):
        return os.environ["PERFBENCH_TESTDATA"]
    from score_spark import xcheck

    return os.path.dirname(xcheck._DEFAULT_ORACLE_SF_DIR)


# A fixed cross-section of the 50-entry registry. It keeps every layer the
# full suite reaches: construction-time Spark jobs (h01, s02, p01), an xcheck
# oracle channel (h01), the analyzer inside p01, and memoized relational and
# text plans. The whole registry does not fit the run budget: its first pass
# alone takes ~95 s on 4 cores, and d05's DuckDB oracle ~160 s at sf0.1.
# d04 (7-9 s a call on 4 cores) and s03 (3-5 s) would each make up the whole
# tail.
SUITE_QUERIES = (
    "d01_exact_dedup",
    "h01_time_rollup",
    "p01_pruned_rewrite",
    "q01_pricing_summary",
    "q13_cte_union",
    "s02_embedding_near_dups",
    "t01_text_stats",
)


def leaf_count(dt) -> int:
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return sum(leaf_count(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return leaf_count(dt.elementType)
    if isinstance(dt, T.MapType):
        return leaf_count(dt.keyType) + leaf_count(dt.valueType)
    return 1


def is_subtree(pruned, full) -> bool:
    """Every field of ``pruned`` exists in ``full`` at the same place, with
    the same leaf types (field order may differ)."""
    from pyspark.sql import types as T

    if isinstance(pruned, T.StructType):
        if not isinstance(full, T.StructType):
            return False
        by_name = {f.name.lower(): f for f in full.fields}
        return all(
            f.name.lower() in by_name and is_subtree(f.dataType, by_name[f.name.lower()].dataType)
            for f in pruned.fields
        )
    if isinstance(pruned, T.ArrayType):
        return isinstance(full, T.ArrayType) and is_subtree(pruned.elementType, full.elementType)
    if isinstance(pruned, T.MapType):
        return (
            isinstance(full, T.MapType)
            and is_subtree(pruned.keyType, full.keyType)
            and is_subtree(pruned.valueType, full.valueType)
        )
    return pruned == full


def span_layer(tracer, runner) -> dict[str, float]:
    """Layer metrics every workload reads off its op spans (per-op means
    for times and calls)."""
    ops = max(len(runner.log.lat_ms), 1)
    in_ops = [s for s in tracer.spans if s["op"] is not None and s["end"] is not None]

    def durs(name):
        return [(s["end"] - s["start"]) * 1e3 for s in in_ops if s["name"] == name]

    gen = [s for s in in_ops if s["name"] == "schema_on_read.generate"]
    cold = [(s["end"] - s["start"]) * 1e3 for s in gen if not s.get("hit")]
    warm = [(s["end"] - s["start"]) * 1e3 for s in gen if s.get("hit")]
    loads = durs("io.load_table")
    prunes = durs("rewrite.prune")
    builds = durs("queries.build")
    return {
        "queries.build_ms": median(builds) if builds else 0.0,
        "io.load_table_ms": sum(loads) / ops,
        "io.load_table_calls": len(loads) / ops,
        "schema_on_read.generate_cold_ms": median(cold) if cold else 0.0,
        "schema_on_read.generate_warm_ms": median(warm) if warm else 0.0,
        "schema_on_read.cache_hit_frac": len(warm) / len(gen) if gen else 0.0,
        "rewrite.prune_ms": median(prunes) if prunes else 0.0,
    }


def plan_json_ms(dfs) -> float:
    """Median time of the analyzed plan's toJSON() (the analyzer's
    reflection step), timed on its own outside ``generate``."""
    import time

    times = []
    for df in dfs:
        jplan = df._jdf.queryExecution().analyzed()
        t0 = time.perf_counter()
        jplan.toJSON()
        times.append((time.perf_counter() - t0) * 1e3)
    return median(times) if times else 0.0

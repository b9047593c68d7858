"""Workload registry.

A workload class takes (spark, seed, size, work_dir) and provides
``TAIL_PCT`` (the percentile op_ms_tail reports), ``sf_dir(size)`` (test
data it reads, or None), ``prepare()`` and ``warm(tracer)`` (each once,
together with the session start they make up setup_s),
``run(runner)`` (the timed closed loop), ``finish(runner)`` (untimed
audits; returns ``bytes_read_ratio`` plus report fields) and
``layer_metrics(runner, tracer, session_s, engine_groups)`` for traced runs.
"""

from analyze_plans import AnalyzePlans
from prune_nested import PruneNested
from suite import Suite

WORKLOADS = {"suite_sf0.1": Suite, "prune_nested": PruneNested, "analyze_plans": AnalyzePlans}

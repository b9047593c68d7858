"""analyze_plans: the driver-side analyzer and its memo cache; no Spark job
runs inside an op.

Setup writes six small parquet tables with nested schemas (structs, arrays
of structs, maps; widths 6-40, depths 1-5) and builds a fixed pool of
distinct SQL plans over them: 1-6 relations, joins, unions, IN/EXISTS
subqueries, CTEs, windows over exploded arrays and chains of up to
hundreds of Projects. Building a DataFrame forces Spark's own analysis,
outside the clock. The pool is larger than the analyzer's 64-entry memo.

One op takes the next plan of a seeded cycle and calls
``SchemaOnRead.generate(df)`` and ``for_paths`` for every source, so the
memo sees misses, hits and evictions. The cycle is a seeded order of a
Zipf-weighted multiset of the plans (the popular ones appear several times,
the rest once), repeated like a periodic job that re-derives the read
schemas of more queries than the memo holds. Each result must be a sub-tree
of the full schema and identical across repeats of a plan; a seeded sample
of plans is executed over the pruned schemas and must return the
full-schema rows.
"""

from __future__ import annotations

import os
import random
import shutil
import time

from harness import median
from common import is_subtree, leaf_count, plan_json_ms, span_layer

TABLES = 6
POOL = {"full": 72, "tiny": 12}
ROWS = 64
# Plan i appears max(1, round(CYCLE_TOP / (i + 1))) times a cycle: 86 ops
# over 72 plans, 8 of them the most popular plan. Repeating one order over
# more plans than the 64-entry FIFO memo holds evicts every plan drawn once
# before its next turn, so ~84% of ops are cold analyses and op_ms_p50 and
# op_ms_p80 sit among them; the hits are repeats of popular plans within a
# cycle. Fresh Zipf shuffles over the pool would make ~96% of ops hits:
# sub-millisecond memo lookups, a few py4j round trips whose latency moved
# with host load by up to a half between runs, while the cold analyses of
# the same runs stayed within 6%.
CYCLE_TOP = 8
SAMPLE_EXEC = {"full": 2, "tiny": 1}
TABLE_VERSION = 3
# Projects chained on the i-th chain plan of the pool: most are tens deep,
# one is hundreds. Fixed, like the table shapes and the popularity order
# below, so the op mix (and with it every percentile) is the same for every
# seed. The deepest chain is among the popular plans: its rare misses cost
# ~0.3 s each, and as a tail plan their count per run swung ops_per_s by a
# third.
CHAIN_DEPTHS = (300, 20, 8, 40, 16, 12, 24, 10, 60, 14, 30, 18)


# ---------------------------------------------------------------- tables
# A field spec is (name, kind, children): kind in long/string/double leaves,
# or struct/array/map over a list of child specs.


def _gen_fields(rnd: random.Random, width: int, depth: int, prefix: str) -> list:
    fields = []
    for i in range(width):
        name = f"{prefix}{i}"
        r = rnd.random()
        if depth > 1 and r < 0.25:
            fields.append((name, "struct", _gen_fields(rnd, rnd.randint(2, 5), depth - 1, "f")))
        elif depth > 1 and r < 0.33:
            fields.append((name, "array", _gen_fields(rnd, rnd.randint(2, 4), 1, "e")))
        elif depth > 1 and r < 0.40:
            fields.append((name, "map", _gen_fields(rnd, rnd.randint(2, 3), 1, "v")))
        else:
            fields.append((name, rnd.choice(("long", "long", "string", "double")), None))
    return fields


def _value_sql(kind: str, children, k: int, var: str = "id") -> str:
    if kind == "long":
        return f"({var} * {k % 7 + 1} + {k})"
    if kind == "double":
        return f"({var} / {k % 5 + 2}.0)"
    if kind == "string":
        return f"concat('s{k}-', {var} % {k % 11 + 3})"
    inner = ", ".join(
        f"'{n}', {_value_sql(kd, ch, k * 31 + j + 1, var if kind == 'struct' else 'x')}"
        for j, (n, kd, ch) in enumerate(children)
    )
    if kind == "struct":
        return f"named_struct({inner})"
    if kind == "array":
        return f"transform(sequence({var}, {var} + 2), x -> named_struct({inner}))"
    return f"map_from_arrays(array('k0', 'k1'), transform(sequence({var}, {var} + 1), x -> named_struct({inner})))"


def _paths(fields, prefix: str = "") -> list[tuple[str, str]]:
    """(sql expression, kind) for leaves reachable without subscripts, plus
    one subscripted leaf per map and the array columns themselves."""
    out = []
    for name, kind, children in fields:
        p = f"{prefix}{name}"
        if kind == "struct":
            out += _paths(children, p + ".")
        elif kind == "map":
            n, kd, _ = children[0]
            if kd in ("long", "double", "string"):
                out.append((f"{p}['k0'].{n}", kd))
        elif kind == "array":
            out.append((p, "array"))
        else:
            out.append((p, kind))
    return out


# (top-level width, nesting depth) per table
SHAPES = ((6, 1), (12, 2), (18, 3), (26, 3), (34, 4), (40, 5))


def table_specs() -> list[list]:
    rnd = random.Random(0)
    return [_gen_fields(rnd, width, depth, f"c{j}_") for j, (width, depth) in enumerate(SHAPES)]


def ensure_tables(spark, root: str, specs) -> list[str]:
    """The six tables, written once per checkout."""
    d = os.path.join(root, "fixtures", f"plans-v{TABLE_VERSION}")
    paths = [os.path.join(d, f"t{j}.parquet") for j in range(TABLES)]
    marker = os.path.join(d, "_COMPLETE")
    if os.path.exists(marker):
        return paths
    shutil.rmtree(d, ignore_errors=True)
    for j, fields in enumerate(specs):
        cols = ["id"] + [f"{_value_sql(kind, ch, j * 97 + i + 1)} AS {n}" for i, (n, kind, ch) in enumerate(fields)]
        spark.range(ROWS).selectExpr(*cols).coalesce(1).write.parquet(paths[j])
    open(marker, "w").close()
    return paths


# ---------------------------------------------------------------- plans
KINDS = ("project", "aggregate", "join", "union", "subquery", "cte", "chain", "window_explode")


def _plan_sql(rnd: random.Random, i: int, leaves: list[list[tuple[str, str]]]) -> tuple[str, list[int], int]:
    """One SQL template over views {t0}..{t5}; returns (sql, tables used,
    Projects chained on top)."""
    kind = KINDS[i % len(KINDS)]

    def pick(t: int, kinds=("long", "double", "string"), n: int = 1) -> list[str]:
        cand = [p for p, k in leaves[t] if k in kinds] or [p for p, k in leaves[t] if k != "array"] or ["id"]
        return [rnd.choice(cand) for _ in range(n)]

    def num(t: int) -> str:
        return pick(t, ("long", "double"))[0] if any(k in ("long", "double") for _, k in leaves[t]) else "id"

    # the main table cycles with the pool index, so popular plans span
    # every table width
    t = (i // len(KINDS)) % TABLES
    tag = f"{i} AS qtag"
    if kind == "project":
        cols = ", ".join(f"{p} AS c{j}" for j, p in enumerate(pick(t, n=rnd.randint(1, 5))))
        return f"SELECT id, {cols}, {tag} FROM {{t{t}}} WHERE {num(t)} > {rnd.randint(0, 20)}", [t], 0
    if kind == "aggregate":
        g = pick(t)[0]
        return (f"SELECT {g} AS g, sum({num(t)}) AS s, count(*) AS n, {tag} FROM {{t{t}}} GROUP BY {g}", [t], 0)
    if kind == "join":
        ts = [t] + rnd.sample([j for j in range(TABLES) if j != t], (i // len(KINDS)) % 5 + 1)
        sel = ", ".join(f"r{j}.{p} AS c{j}" for j, tj in enumerate(ts) for p in pick(tj))
        joins = " ".join(f"JOIN {{t{tj}}} r{j} ON r0.id = r{j}.id" for j, tj in enumerate(ts) if j)
        return f"SELECT r0.id, {sel}, {tag} FROM {{t{ts[0]}}} r0 {joins}", ts, 0
    if kind == "union":
        ts = [t] + rnd.sample([j for j in range(TABLES) if j != t], (i // len(KINDS)) % 2 + 1)
        parts = [f"SELECT id, CAST({num(tj)} AS double) AS v, CAST({pick(tj)[0]} AS string) AS w FROM {{t{tj}}}"
                 for tj in ts]
        return f"SELECT v, w, {tag} FROM ({' UNION ALL '.join(parts)}) u", ts, 0
    if kind == "subquery":
        a = t
        b, c = rnd.sample([j for j in range(TABLES) if j != t], 2)
        return (f"SELECT id, {pick(a)[0]} AS c0, {tag} FROM {{t{a}}} o "
                f"WHERE id IN (SELECT id FROM {{t{b}}} WHERE {num(b)} > {rnd.randint(0, 9)}) "
                f"AND EXISTS (SELECT 1 FROM {{t{c}}} x WHERE x.id = o.id AND {num(c)} >= 0)", [a, b, c], 0)
    if kind == "cte":
        a, b = t, rnd.choice([j for j in range(TABLES) if j != t])
        return (f"WITH q1 AS (SELECT id, {pick(a)[0]} AS x FROM {{t{a}}}), "
                f"q2 AS (SELECT id, {num(b)} AS y FROM {{t{b}}} WHERE {num(b)} > 1) "
                f"SELECT q1.id, x, y, {tag} FROM q1 JOIN q2 ON q1.id = q2.id", [a, b], 0)
    if kind == "chain":
        # the Projects are added by build()
        depth = CHAIN_DEPTHS[(i // len(KINDS)) % len(CHAIN_DEPTHS)]
        return f"SELECT id, {num(t)} AS v, {pick(t)[0]} AS w, {tag} FROM {{t{t}}}", [t], depth
    arrays = [p for p, k in leaves[t] if k == "array"]
    part = pick(t)[0]
    if arrays:
        return (f"SELECT id, e, row_number() OVER (PARTITION BY {part} ORDER BY id) AS rk, {tag} "
                f"FROM {{t{t}}} LATERAL VIEW explode({rnd.choice(arrays)}) tv AS e", [t], 0)
    return (f"SELECT id, row_number() OVER (PARTITION BY {part} ORDER BY id) AS rk, {tag} FROM {{t{t}}}", [t], 0)


def _views(prefix: str) -> dict[str, str]:
    return {f"t{j}": f"{prefix}{j}" for j in range(TABLES)}


CHAIN_CHUNK = 50  # nested subqueries per SQL text; ~100 hit the analyzer's iteration cap


def build(spark, plan, prefix: str, i: int):
    """Plan ``i``'s DataFrame over views named ``prefix``0..5. A chain is
    added in chunks of nested subqueries, each over a temp view of the
    previous chunk (one parse and analysis per chunk, not per Project)."""
    sql, _tables, depth = plan
    df = spark.sql(sql.format(**_views(prefix)))
    k = 0
    while depth > 0:
        n = min(CHAIN_CHUNK, depth)
        view = f"{prefix}_chain{i}_{k}"
        df.createOrReplaceTempView(view)
        q = f"SELECT id, v, w, qtag FROM {view}"
        for j in range(n):
            q = f"SELECT id, v + {j % 3} AS v, w, qtag FROM ({q}) s{j}"
        df = spark.sql(q)
        depth -= n
        k += 1
    return df


class AnalyzePlans:
    # op_ms_tail: a run holds two or three cycles (172-258 ops), so a p99
    # would rest on the two or three slowest ops; p95 has 9 or more beyond it
    TAIL_PCT = 95

    @staticmethod
    def sf_dir(size: str) -> None:
        return None

    def __init__(self, spark, seed: int, size: str, work: str) -> None:
        self.spark, self.seed, self.size, self.work = spark, seed, size, work
        self.specs = table_specs()
        leaves = [_paths(f) for f in self.specs]
        # one pool for every seed: with seeded leaf picks, the work per
        # memo hit (one for_paths per source) differed between seeds enough
        # to move p80 by a fifth; the seed draws the op sequence
        rnd = random.Random(0)
        self.sql = [_plan_sql(rnd, i, leaves) for i in range(POOL[size])]
        # Zipf by pool index: popularity cycles through kinds and tables
        self.cycle = [i for i in range(len(self.sql)) for _ in range(max(1, round(CYCLE_TOP / (i + 1))))]
        random.Random(seed).shuffle(self.cycle)
        self.first: dict[int, tuple] = {}
        self.last_sor: dict[int, object] = {}
        self.hits = 0
        self.repeats = 0

    def prepare(self) -> None:
        """Tables (written once) and the plan pool: every plan built and
        analyzed by Spark."""
        self.paths = ensure_tables(self.spark, self.work, self.specs)
        self.full = []
        for j, p in enumerate(self.paths):
            df = self.spark.read.parquet(p)
            df.createOrReplaceTempView(f"pa_t{j}")
            self.full.append(df.schema)
        self.pool = [build(self.spark, plan, "pa_t", i) for i, plan in enumerate(self.sql)]

    def warm(self, tracer) -> None:
        """One untimed cycle: the JIT warms on the analyzer's code paths
        and the memo reaches the state every later cycle starts from."""
        from score_spark.schema_on_read import SchemaOnRead

        for i in self.cycle:
            self.last_sor[i] = SchemaOnRead.generate(self.pool[i])

    def run(self, runner) -> None:
        """Whole cycles until ``--seconds`` have passed, so every run
        measures the same op mix."""
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < runner.seconds:
            for i in self.cycle:
                runner.op(KINDS[i % len(KINDS)], lambda i=i: self._op(i), self._check(i))

    def _op(self, i: int):
        from score_spark.schema_on_read import SchemaOnRead

        sor = SchemaOnRead.generate(self.pool[i])
        return sor, tuple(sor.for_paths(self.paths[t]) for t in self.sql[i][1])

    def _check(self, i: int):
        def check(out) -> str | None:
            sor, schemas = out
            self.repeats += i in self.first
            self.hits += sor is self.last_sor[i]
            self.last_sor[i] = sor
            for t, s in zip(self.sql[i][1], schemas):
                if not is_subtree(s, self.full[t]):
                    return f"plan {i}: pruned schema of t{t} is not a sub-tree of the full schema"
            if self.first.setdefault(i, schemas) != schemas:
                return f"plan {i}: pruned schemas changed between repeats"
            return None

        return check

    def _sample_exec(self, runner) -> None:
        """A seeded sample of drawn plans, executed over pruned readers,
        must return the full-schema rows."""
        rnd = random.Random(self.seed + 2)
        drawn = sorted(self.first)
        for i in rnd.sample(drawn, min(SAMPLE_EXEC[self.size], len(drawn))):
            for t, schema in zip(self.sql[i][1], self.first[i]):
                self.spark.read.schema(schema).parquet(self.paths[t]).createOrReplaceTempView(f"pp_t{t}")
            want = sorted(map(repr, self.pool[i].collect()))
            got = sorted(map(repr, build(self.spark, self.sql[i], "pp_t", i).collect()))
            runner.log.attempted += 1
            if got != want:
                runner.log.fail(f"plan {i}: pruned execution returned other rows")

    def finish(self, runner) -> dict:
        from score_spark.schema_on_read.bytes_audit import scan_bytes

        self._sample_exec(runner)
        full = pruned = leaves_full = leaves_pruned = unpruned = n = 0
        for i, schemas in self.first.items():
            for t, s in zip(self.sql[i][1], schemas):
                full += scan_bytes(self.paths[t], self.full[t])
                pruned += scan_bytes(self.paths[t], s)
                leaves_full += leaf_count(self.full[t])
                leaves_pruned += leaf_count(s)
                unpruned += s == self.full[t]
                n += 1
        self.audit = {"full_bytes": full, "pruned_bytes": pruned, "leaves_full": leaves_full / n,
                      "leaves_pruned": leaves_pruned / n, "unpruned_frac": unpruned / n}
        ops = len(runner.log.lat_ms)
        return {
            "bytes_read_ratio": pruned / full,
            "pool_size": len(self.pool),
            "distinct_drawn": len(self.first),
            "repeated_frac": self.repeats / ops if ops else 0.0,
            "memo_hit_frac": self.hits / ops if ops else 0.0,
            "table_widths": [len(f) for f in self.specs],
            "plan_kinds": {k: sum(1 for i in range(len(self.sql)) if KINDS[i % len(KINDS)] == k) for k in KINDS},
        }

    def _scan_ms(self) -> dict[str, float]:
        """Full vs pruned parquet read of the widest table (median of 3)."""
        t = max(range(TABLES), key=lambda j: leaf_count(self.full[j]))
        pruned = next((s[k] for i, s in self.first.items() for k, tt in enumerate(self.sql[i][1]) if tt == t),
                      self.full[t])
        out = {}
        for kind, schema in (("full", self.full[t]), ("pruned", pruned)):
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                self.spark.read.schema(schema).parquet(self.paths[t]).collect()
                times.append((time.perf_counter() - t0) * 1e3)
            out[f"scan.parquet.{kind}_ms"] = median(times)
        return out

    def layer_metrics(self, runner, tracer, session_s: float, groups: dict) -> dict[str, float]:
        out = span_layer(tracer, runner)
        rnd = random.Random(self.seed + 3)
        out.update({
            "session.get_session_s": session_s,
            "schema_on_read.plan_json_ms": plan_json_ms(rnd.sample(self.pool, min(16, len(self.pool)))),
            "schema_on_read.leaves_full": self.audit["leaves_full"],
            "schema_on_read.leaves_pruned": self.audit["leaves_pruned"],
            "schema_on_read.unpruned_frac": self.audit["unpruned_frac"],
            "bytes_audit.full_bytes": self.audit["full_bytes"],
            "bytes_audit.pruned_bytes": self.audit["pruned_bytes"],
            **self._scan_ms(),
        })
        return out


"""prune_nested: the paper's headline path on a wide, deeply nested fixture.

Setup writes one seeded fixture as parquet, JSON and avro_minimal: narrow
leaves buried beside fat incompressible strings, inside structs, arrays and
maps. Every run covers seven query shapes (nested aggregate, window,
posexplode, filter+project, map access, a union inside a CTE and a
cross-format join) over a fixed mix of formats; the seed draws the fixture
variant, the constants and the order. One op = ``rewrite.prune(...)``
on that shape plus collecting its (small, aggregated) result. Setup ends
with untimed passes over the shapes (in the first each plan is analyzed
cold); the loop then runs whole passes over the shapes in seeded order, at
least five, until ``--seconds`` have passed.
Each op's rows must equal the full-schema rows.
"""

from __future__ import annotations

import os
import random
import shutil
import time
from contextlib import nullcontext

from harness import median
from common import leaf_count, plan_json_ms, span_layer

FORMATS = ("parquet", "json", "avro")
FIXTURE_VERSION = 2
# The fixture is drawn from seed % FIXTURE_VARIANTS and cached per (variant,
# size): a fresh fixture per seed costs ~20 s of writes, which would dominate
# every run's wall without changing what the ops measure.
FIXTURE_VARIANTS = 4
# Untimed passes before the clock starts, and the fewest timed ones. After
# one pass a pass took ~2.9 s on 4 cores and kept falling for five more, to
# ~2.0 s, as the driver's JIT caught up. A run measured for --seconds alone
# made four passes or, on a faster host phase, five, and the fifth, faster
# still, widened the gap between fast and slow runs; at least five timed
# passes make every run measure passes 3-7 of the same descent.
WARM_PASSES = {"full": 2, "tiny": 1}
MIN_PASSES = {"full": 5, "tiny": 1}
ROWS = {"full": {"parquet": 16_000, "json": 4_000, "avro": 16_000},
        "tiny": {"parquet": 1_000, "json": 1_000, "avro": 1_000}}


def fixture_df(spark, n: int, seed: int):
    """Seeded wide-nested rows. The seed sets string salts and the integer
    leaves' moduli, so every seed has the same shape and near-equal bytes."""
    import pyspark.sql.functions as F

    rnd = random.Random(seed)
    salt = f"{seed}-"
    ma, ms, mv = rnd.randint(40, 60), rnd.randint(5, 9), rnd.randint(9, 13)

    def sha(tag: str, bits: int = 256):
        return F.sha2(F.concat(F.lit(f"{tag}-{salt}"), F.col("id").cast("string")), bits)

    return spark.range(n).select(
        F.col("id"),
        F.struct(
            (F.col("id") % ma).cast("int").alias("a"),
            F.concat(F.lit(f"key-{salt}"), F.col("id")).alias("b"),
            F.create_map(
                F.lit("t0"), (F.col("id") % 3).cast("int"),
                F.lit("t1"), (F.col("id") % 5).cast("int"),
                F.lit("t2"), (F.col("id") % 7).cast("int"),
            ).alias("tags"),
        ).alias("meta"),
        F.struct(
            sha("p1").alias("big1"),
            F.concat(*[sha(f"p2{i}") for i in range(4)]).alias("big2"),
            F.struct(
                sha("p3", 512).alias("big3"),
                (F.col("id") % ms).cast("int").alias("small"),
                F.struct((F.col("id") * 3).alias("x"), sha("p4").alias("pad")).alias("deeper"),
            ).alias("nested"),
            F.expr(
                "transform(sequence(1, 12), i -> struct(id % (i + 7) as f1, (id * i) % 1000 as f2, "
                f"concat('t-{salt}', id % 97, '-', i) as f3, id % 13 as f4))"
            ).alias("deep"),
        ).alias("payload"),
        F.expr(
            f"transform(sequence(1, 3), i -> struct(id * i as x, sha2(concat('a-{salt}', id, '-', i), 256) as fat))"
        ).alias("arr"),
        F.map_from_arrays(
            F.array(F.lit("k0"), F.lit("k1"), F.lit("k2")),
            F.array(*[
                F.struct((F.col("id") % (mv + k)).alias("v"), sha(f"m{k}").alias("blob")) for k in range(3)
            ]),
        ).alias("attrs"),
    )


def ensure_fixture(spark, root: str, seed: int, size: str) -> dict[str, str]:
    """Write the fixture once per (variant, size); later runs reuse it."""
    seed %= FIXTURE_VARIANTS
    d = os.path.join(root, "fixtures", f"nested-v{FIXTURE_VERSION}-{size}-s{seed}")
    paths = {fmt: os.path.join(d, f"nested.{fmt}") for fmt in FORMATS}
    paths["parquet_b"] = os.path.join(d, "nested_b.parquet")
    marker = os.path.join(d, "_COMPLETE")
    if os.path.exists(marker):
        return paths
    shutil.rmtree(d, ignore_errors=True)
    rows = ROWS[size]
    fixture_df(spark, rows["parquet"], seed).repartition(4).write.parquet(paths["parquet"])
    fixture_df(spark, rows["parquet"], seed).repartition(4).write.parquet(paths["parquet_b"])
    fixture_df(spark, rows["json"], seed).repartition(4).write.json(paths["json"])
    fixture_df(spark, rows["avro"], seed).repartition(4).write.format("avro_minimal").save(paths["avro"])
    open(marker, "w").close()
    return paths


# ---------------------------------------------------------------- shapes
# Each shape: (sources {name: format}, query_fn(readers) -> DataFrame). Every
# result is a small aggregate, so collecting it costs little and the rows
# compare exactly (integer sums and counts only).


def _shapes(rnd: random.Random) -> dict[str, tuple[dict[str, str], object]]:
    """Every seed runs every shape over the same formats, rotated over the
    shapes so each format is read about equally often. The seed draws only
    the constants (and, in the caller, the order): a seeded format mix would
    make the op mix, and so every percentile, differ between seeds."""
    import pyspark.sql.functions as F
    from pyspark.sql.window import Window

    turn = [0]

    def fmt():
        turn[0] += 1
        return FORMATS[turn[0] % 3]

    def other():
        return "avro" if turn[0] % 2 else "json"

    k = rnd.randint(1, 4)
    out = {}

    def by_a(df):
        return df.groupBy(F.col("meta.a").alias("a"))

    out["nested_agg"] = ({"a": fmt()}, lambda t: by_a(t["a"]).agg(F.sum("payload.nested.deeper.x").alias("s")))
    out["window"] = ({"a": fmt()}, lambda t: t["a"].select(
        F.col("meta.a").alias("a"),
        F.row_number().over(Window.partitionBy("payload.nested.small").orderBy("meta.a", "id")).alias("rk"),
    ).groupBy("a").agg(F.max("rk").alias("m")))
    out["posexplode"] = ({"a": fmt()}, lambda t: t["a"].select(
        F.posexplode("payload.deep").alias("pos", "e")).groupBy().agg(
        F.sum(F.col("pos") * F.col("e.f1")).alias("s")))
    out["filter_project"] = ({"a": fmt()}, lambda t: by_a(t["a"].filter(
        F.col("payload.nested.small") > k)).agg(F.count(F.lit(1)).alias("n")))
    out["map_access"] = ({"a": fmt()}, lambda t: by_a(t["a"]).agg(F.sum(F.col("attrs")["k1"]["v"]).alias("s")))

    def union_cte(t):
        t["a"].createOrReplaceTempView("pb_a")
        t["b"].createOrReplaceTempView("pb_b")
        return t["a"].sparkSession.sql(
            "WITH l AS (SELECT id, meta.a AS a FROM pb_a), "
            f"r AS (SELECT id, payload.nested.small AS a FROM pb_b WHERE payload.nested.small >= {k}) "
            "SELECT a, count(*) AS n, sum(id) AS s FROM (SELECT * FROM l UNION ALL SELECT * FROM r) GROUP BY a"
        )

    out["union_cte"] = ({"a": fmt(), "b": other()}, union_cte)
    out["cross_join"] = ({"a": fmt(), "b": other()}, lambda t: t["a"].select(
        "id", F.col("meta.a").alias("a")).join(
        t["b"].select("id", F.col("payload.nested.small").alias("small")), "id").groupBy("a").agg(
        F.sum("small").alias("s"), F.count(F.lit(1)).alias("n")))
    return out


def _rows(df) -> list:
    return sorted(tuple(r) for r in df.collect())


class PruneNested:
    TAIL_PCT = 80  # op_ms_tail: a p99 of a few dozen ops is the slowest op

    @staticmethod
    def sf_dir(size: str) -> None:
        return None

    def __init__(self, spark, seed: int, size: str, work: str) -> None:
        rnd = random.Random(seed)
        self.spark, self.seed, self.size, self.work = spark, seed, size, work
        self.shapes = _shapes(rnd)
        self.order = list(self.shapes)
        rnd.shuffle(self.order)

    def prepare(self) -> None:
        """Fixture (written once per seed variant and size) and the
        full-schema source descriptors the ops prune from."""
        from score_spark.schema_on_read.rewrite import Source

        self.paths = ensure_fixture(self.spark, self.work, self.seed, self.size)
        self.full_schema = self.spark.read.parquet(self.paths["parquet"]).schema
        self.avro_schema = self.spark.read.format("avro_minimal").load(self.paths["avro"]).schema
        self.sources = {
            "parquet": Source(self.paths["parquet"], "parquet"),
            "json": Source(self.paths["json"], "json", schema=self.full_schema),
            "avro": Source(self.paths["avro"], "avro_minimal", schema=self.avro_schema),
        }

    def _read(self, fmt: str, schema=None, path=None):
        src = self.sources[fmt]
        reader = self.spark.read.format(src.format)
        schema = schema if schema is not None else src.schema
        if schema is not None:
            reader = reader.schema(schema)
        return reader.load(path or src.path)

    def warm(self, tracer) -> None:
        """The expected rows (every shape over full-schema readers), then
        WARM_PASSES untimed passes of the ops. The first prune of each
        shape analyzes its plan cold and compiles the pruned scan; the
        driver's JIT then takes a few passes more to settle."""
        self.expected = {
            name: _rows(query_fn({n: self._read(f) for n, f in fmts.items()}))
            for name, (fmts, query_fn) in self.shapes.items()
        }
        for _ in range(WARM_PASSES[self.size]):
            for name in self.order:
                self._op(name, None)

    def run(self, runner) -> None:
        """Whole passes over the shapes, at least MIN_PASSES, until
        ``--seconds`` have passed: a cut pass left some shapes one op
        short, and p50 fell on one shape's level or the next by chance."""
        t0 = time.perf_counter()
        passes = 0
        while passes < MIN_PASSES[self.size] or time.perf_counter() - t0 < runner.seconds:
            for name in self.order:
                runner.op(name, lambda name=name: self._op(name, runner.tracer), self._check(name))
            passes += 1

    def _op(self, name: str, tracer) -> list:
        from score_spark.schema_on_read import rewrite

        fmts, query_fn = self.shapes[name]
        df = rewrite.prune(self.spark, {n: self.sources[f] for n, f in fmts.items()}, query_fn)
        with tracer.span("engine.execute") if tracer else nullcontext():
            return _rows(df)

    def _check(self, name: str):
        def check(rows) -> str | None:
            return None if rows == self.expected[name] else "pruned rows differ from full-schema rows"

        return check

    def _audit(self) -> list[dict]:
        """Footer bytes per shape: source ``a`` re-pointed at the parquet
        copy (the two-source shapes read a second parquet file for ``b`` so
        the two relations stay distinct)."""
        from score_spark.schema_on_read import SchemaOnRead
        from score_spark.schema_on_read.bytes_audit import scan_bytes

        out = []
        for name, (fmts, query_fn) in self.shapes.items():
            readers = {n: self._read(f) for n, f in fmts.items()}
            readers["a"] = self._read("parquet")
            if "b" in readers:
                readers["b"] = self._read("parquet", path=self.paths["parquet_b"])
            q = query_fn(readers)
            pruned = SchemaOnRead.generate(q).for_paths(self.paths["parquet"])
            out.append({
                "shape": name,
                "full_bytes": scan_bytes(self.paths["parquet"], self.full_schema),
                "pruned_bytes": scan_bytes(self.paths["parquet"], pruned),
                "leaves_full": leaf_count(self.full_schema),
                "leaves_pruned": leaf_count(pruned),
                "unpruned": pruned == self.full_schema,
                "plan": q,
            })
        return out

    def finish(self, runner) -> dict:
        self.audit = self._audit()
        full = sum(a["full_bytes"] for a in self.audit)
        pruned = sum(a["pruned_bytes"] for a in self.audit)
        return {
            "bytes_read_ratio": pruned / full,
            "shapes": {n: fmts for n, (fmts, _) in self.shapes.items()},
            "shape_order": self.order,
            "fixture_rows": ROWS[self.size],
            "fixture_bytes": {fmt: _du(p) for fmt, p in self.paths.items()},
            "audit": [{k: v for k, v in a.items() if k != "plan"} for a in self.audit],
        }

    def _scan_ms(self) -> dict[str, float]:
        """Full vs pruned read of the nested aggregate, per format (median
        of 3 collects each)."""
        from score_spark.schema_on_read import SchemaOnRead

        _fmts, query_fn = self.shapes["nested_agg"]
        out = {}
        for fmt in FORMATS:
            full_q = query_fn({"a": self._read(fmt)})
            pruned = SchemaOnRead.generate(full_q).for_paths(self.sources[fmt].path)
            for kind, schema in (("full", None), ("pruned", pruned)):
                times = []
                for _ in range(3):
                    q = query_fn({"a": self._read(fmt, schema=schema)})
                    t0 = time.perf_counter()
                    _rows(q)
                    times.append((time.perf_counter() - t0) * 1e3)
                out[f"scan.{fmt}.{kind}_ms"] = median(times)
        return out

    def layer_metrics(self, runner, tracer, session_s: float, groups: dict) -> dict[str, float]:
        out = span_layer(tracer, runner)
        n = len(self.audit)
        out.update({
            "session.get_session_s": session_s,
            "schema_on_read.plan_json_ms": plan_json_ms([a["plan"] for a in self.audit]),
            "schema_on_read.leaves_full": sum(a["leaves_full"] for a in self.audit) / n,
            "schema_on_read.leaves_pruned": sum(a["leaves_pruned"] for a in self.audit) / n,
            "schema_on_read.unpruned_frac": sum(a["unpruned"] for a in self.audit) / n,
            "bytes_audit.full_bytes": sum(a["full_bytes"] for a in self.audit),
            "bytes_audit.pruned_bytes": sum(a["pruned_bytes"] for a in self.audit),
            **self._scan_ms(),
        })
        return out


def _du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total

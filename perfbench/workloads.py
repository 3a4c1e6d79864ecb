"""The benchmark's workloads and the checks on their outputs.

Every workload turns into passes: lists of :class:`Op`. An op's ``run`` is
the timed part; its ``check`` runs after it, untimed, and returns an
``(actual, expected)`` pair that must be equal. ``expected`` is always made
apart from the engine: by DuckDB over the fixture files, by DuckDB over the
files the engine wrote, or by the file system.

- ``llm_curation`` runs registry keys. The first pass of a run collects
  every key's result and checks it against the key's registry oracle run
  in DuckDB over the same parquet; the timed passes materialise each key
  with the noop sink.
- ``lake_rw`` drives the catalog (``EngineCatalog``, ``engine_sql``) and the
  ``engine_table`` Python DataSource on a month-partitioned copy of
  lineitem, and checks every operation in every pass.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from typing import Any, Callable

import duckdb

CURATION_KEYS = [
    "ext_near_dedup_minhash",
    "ext_winnow_fingerprints",
    "udaf_pandas_grouped",
]


@dataclass
class Op:
    name: str
    run: Callable[[], Any]
    check: Callable[[Any], tuple[Any, Any]] | None = None
    # trace-only bookkeeping after the op: fn(span_list, layer_totals)
    after_trace: Callable[[list, dict], None] | None = None


@dataclass
class Ctx:
    spark: Any
    sf_dir: str
    run_dir: str
    tracer: Any
    duck: duckdb.DuckDBPyConnection = field(default_factory=duckdb.connect)


def _cell(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, (pd.Timestamp,)) or hasattr(v, "isoformat"):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return str(v)


def canonical(pdf) -> tuple[list[str], list[tuple]]:
    """Column names sorted, rows as sorted tuples of canonical strings."""
    cols = sorted(pdf.columns)
    rows = sorted(tuple(_cell(v) for v in row)
                  for row in pdf[cols].itertuples(index=False, name=None))
    return cols, rows


# -- registry workloads ----------------------------------------------------------

class RegistryWorkload:
    """Registry keys, one op per key, in an order the seed picks."""

    # the checking pass and one timed pass: the CPU of a curation pass is
    # still falling after the checking pass (JIT, Python worker reuse)
    warmup_passes = 2

    def __init__(self, ctx: Ctx, keys: list[str]):
        from spark_sql_dsv2_extension_spark.registry import load_all
        from spark_sql_dsv2_extension_spark.tables import TABLE_NAMES

        self.ctx = ctx
        reg = load_all()
        self.specs = {k: reg[k] for k in keys}
        self.keys = list(keys)
        for t in TABLE_NAMES:
            ctx.duck.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{ctx.sf_dir}/{t}.parquet')"
            )

    def prepare(self) -> None:
        pass

    def check_pass(self, rng) -> list[Op]:
        """Collect each key's result and compare it with its DuckDB oracle."""
        ctx, ops = self.ctx, []
        for key in rng.sample(self.keys, len(self.keys)):
            spec = self.specs[key]

            def run(spec=spec):
                with ctx.tracer.span("registry.build"):
                    df = spec.fn(ctx.spark, ctx.sf_dir)
                with ctx.tracer.span("exec.action"):
                    return df.toPandas()

            def check(pdf, spec=spec):
                return canonical(pdf), canonical(ctx.duck.sql(spec.oracle).df())

            ops.append(Op(key, run, check))
        return ops

    def timed_pass(self, rng) -> list[Op]:
        ctx, ops = self.ctx, []
        for key in rng.sample(self.keys, len(self.keys)):
            spec = self.specs[key]

            def run(spec=spec):
                with ctx.tracer.span("registry.build"):
                    df = spec.fn(ctx.spark, ctx.sf_dir)
                with ctx.tracer.span("exec.action"):
                    df.write.format("noop").mode("overwrite").save()

            ops.append(Op(key, run))
        return ops

    def after_op(self) -> None:
        # each op pays its own cache fill, as a fresh client would
        self.ctx.spark.catalog.clearCache()


# -- lake_rw ---------------------------------------------------------------------

LAKE_COLS = [
    ("l_orderkey", "BIGINT"), ("l_partkey", "BIGINT"), ("l_suppkey", "BIGINT"),
    ("l_quantity", "DOUBLE"), ("l_extendedprice", "DOUBLE"),
    ("l_discount", "DOUBLE"), ("l_returnflag", "STRING"),
]
LAKE_DDL = ", ".join(f"{c} {t}" for c, t in LAKE_COLS) + ", month STRING"
_QSUM = "SUM(CAST(round(l_quantity * 100) AS BIGINT))"
# ship months kept in the lake copy: 36 partitions
LAKE_FROM, LAKE_TO = "1996-01-01", "1999-01-01"
OVERWRITES = 2  # INSERT OVERWRITE ... PARTITION statements per pass
PRUNED_QUERIES = 1  # pruned engine_sql aggregates per pass


def _data_files(root: str) -> list[str]:
    out = []
    for dirpath, _dirs, files in os.walk(root):
        out += [os.path.join(dirpath, f) for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))]
    return out


class LakeWorkload:
    """Catalog DDL, partitioned writes and pruned reads on ``bench.lake.li``."""

    warmup_passes = 1  # the checking pass; a lake pass has converged after it

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.warehouse = os.path.join(ctx.run_dir, "warehouse")
        self.source = os.path.join(ctx.run_dir, "lake_source.parquet")
        self.table_dir = os.path.join(self.warehouse, "bench", "lake.db", "li")
        self.write_dir = os.path.join(self.warehouse, "engine_table_out")

    def prepare(self) -> None:
        """Write the month-partitionable source, record its per-month counts
        and quantity sums in DuckDB, and open an empty catalog."""
        from spark_sql_dsv2_extension_spark.catalog import EngineCatalog
        from spark_sql_dsv2_extension_spark.sources import datasource

        ctx, cols = self.ctx, ", ".join(c for c, _ in LAKE_COLS)
        ctx.duck.execute(
            f"COPY (SELECT {cols}, strftime(l_shipdate, '%Y-%m') AS month "
            f"FROM read_parquet('{ctx.sf_dir}/lineitem.parquet') "
            f"WHERE l_shipdate >= DATE '{LAKE_FROM}' AND l_shipdate < DATE '{LAKE_TO}') "
            f"TO '{self.source}' (FORMAT parquet, ROW_GROUP_SIZE 10000000)"
        )
        self.expected = {
            m: (n, q) for m, n, q in ctx.duck.sql(
                f"SELECT month, count(*), {_QSUM} FROM read_parquet('{self.source}') "
                "GROUP BY month").fetchall()
        }
        self.months = sorted(self.expected)
        ctx.spark.read.parquet(self.source).createOrReplaceTempView("lake_src")
        ctx.spark.dataSource.register(datasource.EngineTableDataSource)
        datasource.register(ctx.spark)
        self.catalog = EngineCatalog(ctx.spark, "bench", self.warehouse)
        self.catalog.create_namespace("lake")
        self.source_bytes = os.path.getsize(self.source)

    # DuckDB over the files the engine wrote, independent of its read path
    def _stored(self, months: list[str] | None = None) -> dict:
        where = ""
        if months is not None:
            where = "WHERE month IN (" + ",".join(f"'{m}'" for m in months) + ")"
        if not _data_files(self.table_dir):
            return {}
        rows = self.ctx.duck.sql(
            f"SELECT month, count(*), {_QSUM} FROM read_parquet("
            f"'{self.table_dir}/*/*.parquet', hive_partitioning = true, "
            f"hive_types = {{'month': VARCHAR}}) {where} GROUP BY month"
        ).fetchall()
        return {m: (n, q) for m, n, q in rows}

    @staticmethod
    def _rows(rows) -> dict:
        return {r[0]: (r[1], r[2]) for r in rows}

    def check_pass(self, rng) -> list[Op]:
        return self.timed_pass(rng)

    def timed_pass(self, rng) -> list[Op]:
        from spark_sql_dsv2_extension_spark import catalog as cat_mod
        from pyspark.sql import functions as F

        ctx, spark, cat = self.ctx, self.ctx.spark, self.catalog
        tracer = ctx.tracer
        picks = rng.sample(self.months, OVERWRITES + PRUNED_QUERIES + 3)
        overwrite = picks[:OVERWRITES]
        queried = picks[OVERWRITES:OVERWRITES + PRUNED_QUERIES]
        read_m, write_m, drop_m = picks[-3:]
        added = f"2099-{rng.randint(1, 12):02d}"
        state = dict(self.expected)
        for m in overwrite:
            n, q = state[m]
            state[m] = (n, q + 100_000 * n)  # l_quantity + 1000, in cents
        cols = ", ".join(c for c, _ in LAKE_COLS)
        ops: list[Op] = []

        def action(fn):
            with tracer.span("exec.action"):
                return fn()

        ops.append(Op(
            "create_table",
            lambda: cat_mod.engine_sql(
                spark, f"CREATE TABLE bench.lake.li ({LAKE_DDL}) "
                "USING parquet PARTITIONED BY (month)"),
            lambda _: ((cat.table_exists("lake", "li"), os.path.isdir(self.table_dir),
                        _data_files(self.table_dir)), (True, True, [])),
        ))
        ops.append(Op(
            "bulk_insert",
            lambda: cat.insert("lake", "li", spark.table("lake_src")),
            lambda _: (self._stored(), self.expected),
            self._count_written(None, ratio=True),
        ))
        for i, m in enumerate(overwrite):
            ops.append(Op(
                f"overwrite_{i}",
                lambda m=m: cat_mod.engine_sql(
                    spark, f"INSERT OVERWRITE bench.lake.li PARTITION (month='{m}') "
                    f"SELECT {cols.replace('l_quantity', 'l_quantity + 1000 AS l_quantity')} "
                    f"FROM lake_src WHERE month = '{m}'"),
                # the whole table: only the addressed partition may change
                lambda _, k=overwrite[:i + 1]: (self._stored(), {
                    mm: state[mm] if mm in k else self.expected[mm] for mm in self.months}),
                self._count_written(m),
            ))
        ops.append(Op(
            "show_partitions",
            lambda: action(lambda: sorted(
                r[0] for r in cat_mod.engine_sql(spark, "SHOW PARTITIONS bench.lake.li").collect())),
            lambda got: (got, [f"month={m}" for m in self.months]),
        ))
        for i, m in enumerate(queried):
            ops.append(Op(
                f"pruned_query_{i}",
                lambda m=m: action(lambda: self._rows(cat_mod.engine_sql(
                    spark, f"SELECT month, count(*) AS n, {_QSUM} AS q "
                    f"FROM bench.lake.li WHERE month = '{m}' GROUP BY month").collect())),
                lambda got, m=m: (got, self._stored([m])),
            ))

        def table_read():
            with tracer.span("datasource.read"):
                df = (spark.read.format("engine_table").schema(LAKE_DDL)
                      .option("path", self.table_dir).option("partitionColumns", "month")
                      .load().where(F.col("month") == read_m).groupBy("month")
                      .agg(F.count("*").alias("n"),
                           F.sum(F.round(F.col("l_quantity") * 100).cast("long")).alias("q")))
                return self._rows(df.collect())

        def read_layers(spans, totals):
            span = next(s for s in spans if s["name"] == "datasource.read")
            needed = len(_data_files(os.path.join(self.table_dir, f"month={read_m}")))
            totals["datasource.splits_planned"] += span["first_stage_tasks"]
            totals["datasource.splits_needed"] += needed

        ops.append(Op("engine_table_read", table_read,
                      lambda got: (got, self._stored([read_m])), read_layers))

        def table_write():
            with tracer.span("datasource.write"):
                (spark.table("lake_src").where(F.col("month") == write_m).drop("month")
                 .write.format("engine_table").option("path", self.write_dir)
                 .mode("overwrite").save())

        ops.append(Op(
            "engine_table_write", table_write,
            lambda _: (self._rows(ctx.duck.sql(
                f"SELECT '{write_m}', count(*), {_QSUM} "
                f"FROM read_parquet('{self.write_dir}/*.parquet')").fetchall()),
                {write_m: self.expected[write_m]}),
        ))
        ops.append(Op(
            "add_partition",
            lambda: cat_mod.engine_sql(
                spark, f"ALTER TABLE bench.lake.li ADD PARTITION (month='{added}')"),
            lambda _: (({"month": added} in cat.list_partitions("lake", "li"),
                        os.path.isdir(os.path.join(self.table_dir, f"month={added}"))),
                       (True, True)),
        ))
        ops.append(Op(
            "drop_partition",
            lambda: cat_mod.engine_sql(
                spark, f"ALTER TABLE bench.lake.li DROP PARTITION (month='{drop_m}')"),
            lambda _: (({"month": drop_m} in cat.list_partitions("lake", "li"),
                        os.path.exists(os.path.join(self.table_dir, f"month={drop_m}"))),
                       (False, False)),
        ))
        ops.append(Op(
            "drop_table",
            lambda: cat_mod.engine_sql(spark, "DROP TABLE bench.lake.li"),
            lambda _: ((cat.table_exists("lake", "li"), os.path.exists(self.table_dir)),
                       (False, False)),
        ))
        return ops

    def _count_written(self, month: str | None, ratio: bool = False):
        """Trace-only: data files the op left in the table (or one partition)."""
        def after(spans, totals):
            root = self.table_dir if month is None else os.path.join(
                self.table_dir, f"month={month}")
            files = _data_files(root)
            totals["catalog.files_written"] += len(files)
            if ratio:
                totals["catalog.bytes_stored_per_source_byte"] += (
                    sum(os.path.getsize(f) for f in files) / self.source_bytes)
        return after

    def after_op(self) -> None:
        pass


def make(name: str, ctx: Ctx):
    if name == "llm_curation":
        return RegistryWorkload(ctx, CURATION_KEYS)
    if name == "lake_rw":
        return LakeWorkload(ctx)
    raise SystemExit(f"unknown workload {name!r}")


WORKLOADS = ("llm_curation", "lake_rw")

"""The three workloads: set-up, warm-up, op cycles and output checks.

Each op drives the engine's user surface: YAML jobs through
``init_etl_job`` and ``init_recon_job`` with ``${param}`` values, SQL
through the ``delta`` datasource, the txlog maintenance API,
``AggregateView`` and the registry's query builders.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np

from etlbench import datagen, opgen
from etlbench.harness import Env, Result, table_ref as _ref, template, yaml_list
from etlbench.opgen import Op, TableShape, WRITE_KINDS
from etlbench.oracle import Replay, rows_match

FILES_PER_BATCH = 4
SETUP_REPS = 3


def _spark_schema(batch):
    from pyspark.sql.pandas.types import from_arrow_schema

    return from_arrow_schema(batch.schema)


@dataclass
class EtlTable:
    """One ETL target, its generator and its maintained aggregate."""

    name: str
    shape: TableShape
    gen: opgen.CycleGenerator
    update_cols: list[str]
    upsert_cols: list[str]
    value_col: str
    view: object = None
    results: list[Result] = field(default_factory=list)

    @property
    def agg(self) -> str:
        return f"{self.name}_agg"

    # -- ops -----------------------------------------------------------
    def create(self, env: Env, with_view: bool = True) -> None:
        """Create the table, seed it through a YAML append job and
        build its aggregate view."""
        for name in (self.name, self.agg):
            env.txlog.drop_table(_ref(name))
        env.txlog.create(_ref(self.name), _spark_schema(self.gen.seed_batch),
                         partition_by=[self.shape.part_col])
        self.run(env, Op("append", batch=self.gen.seed_batch), "setup")
        if with_view:
            from x_spark.operators.ivm import AggregateView

            self.view = AggregateView(env.txlog, _ref(self.name), _ref(self.agg),
                                      keys=[self.shape.part_col], sums=[self.value_col])
            self.run(env, Op("refresh"), "setup")

    def job_params(self, env: Env, op: Op) -> dict:
        params = {"target": self.name, "pk": self.shape.pk}
        if op.kind == "delete":
            params.update(lo=op.params["lo"], hi=op.params["hi"])
        elif "source_query" in op.params:
            params["source_query"] = op.params["source_query"]
        else:
            src = env.stage(op.batch, FILES_PER_BATCH)
            params["source_query"] = f"SELECT * FROM parquet.`{src}`"
        if op.kind in ("update", "upsert"):
            cols = self.update_cols if op.kind == "update" else self.upsert_cols
            params["update_columns"] = yaml_list(cols)
        return params

    def report_sql(self, table: str) -> str:
        s = self.shape
        return (f"SELECT {s.part_col} AS g, count(*) AS n, "
                f"sum(CAST({self.value_col} AS DECIMAL(30,2))) AS total, "
                f"max({s.pk}) AS max_key FROM {table} GROUP BY {s.part_col}")

    def recon_params(self) -> dict:
        part, value = self.shape.part_col, self.value_col
        return {
            "left_query": f"SELECT {part} AS g, 1 AS n, {value} AS v FROM {self.name}",
            "right_query": f"SELECT {part} AS g, n_rows AS n, sum_{value} AS v "
                           f"FROM {self.agg}",
        }

    def run(self, env: Env, op: Op, phase: str) -> Result:
        from x_spark import init_etl_job, init_recon_job

        if op.kind in WRITE_KINDS:
            params = self.job_params(env, op)
            res = env.execute(
                op, phase,
                lambda: init_etl_job(template(op.kind), params, env.spark).run(),
                table=self.name)
        elif op.kind == "refresh":
            def refresh():
                self.view.refresh()
                return self.view.read().collect()
            res = env.execute(op, phase, refresh)
        elif op.kind == "recon":
            params = self.recon_params()

            def recon():
                job = init_recon_job(template("recon"), params, env.spark)
                with env.span("recon.run"):
                    return job.run().collect()
            res = env.execute(op, phase, recon)
        elif op.kind == "query":
            res = env.execute(op, phase,
                              lambda: env.query(lambda: env.delta.sql(self.report_sql(self.name))))
        elif op.kind == "maintain":
            def maintain():
                env.txlog.optimize(_ref(self.name))
                env.txlog.vacuum(_ref(self.name), keep_last=1, min_age_sec=0)
            res = env.execute(op, phase, maintain, table=self.name)
        else:
            raise ValueError(op.kind)
        self.results.append(res)
        return res

    # -- check ---------------------------------------------------------
    def replay(self) -> Replay:
        s = self.shape
        return Replay(self.gen.seed_batch, [s.pk], s.part_col,
                      self.update_cols, self.upsert_cols)

    def check(self, env: Env) -> bool:
        """Replay every op after the seed, checking each read output
        at its point in the sequence; then the final snapshot."""
        rp = self.replay()
        agg_sql = (f"SELECT {self.shape.part_col}, count(*), "
                   f"sum(CAST({self.value_col} AS DECIMAL(30,6))) FROM t GROUP BY 1")
        for res in self.results[1:]:
            op = res.op
            ok = res.error is None
            if op.kind in WRITE_KINDS:
                rp.apply(op.kind, op.batch, op.params)
            elif op.kind == "refresh":
                ok = ok and rows_match(res.output, rp.rows(agg_sql))
            elif op.kind == "recon":
                ok = ok and recon_ok(res.output, rp.rows(agg_sql))
            elif op.kind == "query":
                ok = ok and rows_match(res.output, rp.rows(self.report_sql("t")))
            res.ok = ok
        missing, extra = rp.diff_count(env.txlog.read(_ref(self.name)).toArrow())
        return missing == 0 and extra == 0


def recon_ok(output, expected) -> bool:
    """Every group matches on both metrics and both sides hold the
    expected (group, rows, total) values."""
    if output is None:
        return False
    rows = [r.asDict() for r in output]
    if not all(r["match_rows"] and r["match_total"] for r in rows):
        return False
    return all(rows_match([(r["g"], r[f"{side}_rows"], r[f"{side}_total"]) for r in rows],
                          expected)
               for side in ("left", "right"))


def warmup(env: Env, seed: int, kinds: tuple[str, ...]) -> None:
    """Toy-size jobs on a scratch table, run before the set-up so JIT,
    codegen and the first merge are paid once, outside every other
    step. Creating and seeding the table covers append and refresh;
    ``kinds`` adds the jobs whose first run is markedly slower."""
    tbl = EtlTable("warmup_orders", opgen.ORDERS, opgen.warmup(seed, kinds), **SMALL)
    tbl.create(env)
    for op in tbl.gen.cycle():
        tbl.run(env, op, "warmup")
    for name in (tbl.name, tbl.agg):
        env.txlog.drop_table(_ref(name))


class EtlWorkload:
    """``etl_small_batches`` / ``etl_bulk_load``: one ETL target fed by
    a seeded cycle generator."""

    warmup_kinds = ("update",)

    def __init__(self, seed: int, name: str, make_gen, shape: TableShape,
                 columns: dict) -> None:
        self.seed, self.name, self.make_gen = seed, name, make_gen
        self.shape, self.columns = shape, columns
        self.table: EtlTable | None = None

    def prepare(self, env: Env) -> None:
        """Nothing is built once: every table is set up per repetition."""

    def setup(self, env: Env, rep: int) -> None:
        self.table = EtlTable(self.name, self.shape, self.make_gen(self.seed),
                              **self.columns)
        self.table.create(env)

    def cycle(self) -> list[Op]:
        return self.table.gen.cycle()

    def run(self, env: Env, op: Op) -> Result:
        return self.table.run(env, op, "window")

    def table_names(self) -> list[str]:
        return [self.table.name]

    def check(self, env: Env) -> bool:
        return self.table.check(env)


SMALL = dict(update_cols=["o_orderstatus", "o_totalprice"],
             upsert_cols=["o_orderstatus", "o_totalprice", "o_orderpriority"],
             value_col="o_totalprice")
BULK = dict(update_cols=["l_quantity", "l_extendedprice", "l_discount"],
            upsert_cols=["l_quantity", "l_extendedprice", "l_discount", "l_returnflag"],
            value_col="l_extendedprice")


# -- analytics reads -----------------------------------------------------
def read_sql(p: dict) -> tuple[str, str]:
    """(Spark SQL, DuckDB SQL) for one read spec; in DuckDB both tables
    are the replayed latest state ``t``, version ``v`` is ``t_v<v>``."""
    q = p["q"]
    if q == "point":
        sql = "SELECT * FROM {t} WHERE o_orderkey = %d" % p["key"]
    elif q == "partition_agg":
        sql = ("SELECT o_orderstatus, count(*) AS n, "
               "sum(CAST(o_totalprice AS DECIMAL(30,2))) AS total FROM {t} "
               "WHERE o_orderpriority = '%s' GROUP BY o_orderstatus" % p["part"])
    elif q == "full_agg":
        sql = ("SELECT o_orderpriority, count(*) AS n, "
               "sum(CAST(o_totalprice AS DECIMAL(30,2))) AS total, "
               "CAST(min(o_orderdate) AS DATE) AS first_day, "
               "CAST(max(o_orderdate) AS DATE) AS last_day "
               "FROM {t} GROUP BY o_orderpriority")
    elif q == "join":
        sql = ("SELECT n_name, count(*) AS n, "
               "sum(CAST(o_totalprice AS DECIMAL(30,2))) AS total FROM {t} "
               "JOIN customer ON o_custkey = c_custkey "
               "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name")
    elif q == "version":
        sql = ("SELECT count(*) AS n, sum(CAST(o_totalprice AS DECIMAL(30,2))) "
               "AS total FROM {t}")
        return (sql.format(t="%s VERSION AS OF %d" % (p["table"], p["version"])),
                sql.format(t="t_v%d" % p["version"]))
    else:
        raise ValueError(q)
    return sql.format(t=p["table"]), sql.format(t="t")


class AnalyticsReads:
    """``analytics_reads``: a read-only mix over ``fragmented`` (the
    small-batch end state: many small files, a longer log) and
    ``compact`` (the same rows in one bulk commit, then optimized),
    plus registry queries over the generated TPC-H-shaped tables."""

    # no toy warm-up: the one-time history build pays the first-call
    # costs of the ETL path, and prepare() warms the read paths
    warmup_kinds = None

    def __init__(self, seed: int) -> None:
        self.seed = seed
        self.rng = np.random.default_rng([seed, 2])
        self.frag: EtlTable | None = None
        self.sf_dir = ""
        self.versions: list[int] = []
        self.results: list[Result] = []
        self.view = None

    def prepare(self, env: Env) -> None:
        """Once per run: the TPC-H-shaped inputs, ``fragmented``'s
        small-batch history (its commits are the costly part of set-up)
        and a first run of the read paths."""
        self.sf_dir = os.path.join(env.work, "sf")
        datagen.write_tables(datagen.tpch_tables(self.seed), self.sf_dir)
        for name in ("customer", "nation"):
            env.spark.read.parquet(os.path.join(self.sf_dir, f"{name}.parquet")) \
                .createOrReplaceTempView(name)
        gen = opgen.fragmented_history(self.seed)
        frag = EtlTable("fragmented", opgen.ORDERS, gen, **SMALL)
        frag.create(env, with_view=False)
        self.versions = [env.txlog.history(_ref("fragmented"))[-1]["version"]]
        for op in gen.cycle():
            frag.run(env, op, "setup")
            self.versions.append(env.txlog.history(_ref("fragmented"))[-1]["version"])
        env.txlog.vacuum(_ref("fragmented"))
        self.frag = frag
        # a first run of each read path, so the window measures them warm
        # like every other op
        for p in ({"q": "point", "table": "fragmented", "key": int(gen.model.keys[0])},
                  {"q": "full_agg", "table": "fragmented"},
                  *({"q": "registry", "name": n} for n in opgen.REGISTRY_SAMPLE)):
            self._run(env, Op("query", p), "warmup")

    def setup(self, env: Env, rep: int) -> None:
        """Per repetition: ``compact`` as one bulk copy of
        ``fragmented``, optimized, and its aggregate view."""
        from x_spark.operators.ivm import AggregateView

        for name in ("compact", "compact_agg"):
            env.txlog.drop_table(_ref(name))
        seed_batch = self.frag.gen.seed_batch
        env.txlog.create(_ref("compact"), _spark_schema(seed_batch),
                         partition_by=[opgen.ORDERS.part_col])
        copy = EtlTable("compact", opgen.ORDERS, self.frag.gen, **SMALL)
        copy.run(env, Op("append", {"source_query": "SELECT * FROM fragmented"}),
                 "setup")
        env.txlog.optimize(_ref("compact"))
        self.view = AggregateView(env.txlog, _ref("compact"), _ref("compact_agg"),
                                  keys=["o_orderpriority"], sums=["o_totalprice"])
        self.view.refresh()
        self.results = []

    def cycle(self) -> list[Op]:
        return opgen.read_cycle(self.rng, self.frag.gen.model.keys, self.versions)

    def _run(self, env: Env, op: Op, phase: str) -> Result:
        from x_spark import init_recon_job
        from x_spark.plans.registry import QUERIES

        p = op.params
        if op.kind == "refresh":
            def refresh():
                self.view.refresh()
                return self.view.read().collect()
            res = env.execute(op, phase, refresh)
        elif op.kind == "recon":
            params = {
                "left_query": "SELECT o_orderpriority AS g, 1 AS n, o_totalprice AS v "
                              "FROM fragmented",
                "right_query": "SELECT o_orderpriority AS g, 1 AS n, o_totalprice AS v "
                               "FROM compact",
            }

            def recon():
                job = init_recon_job(template("recon"), params, env.spark)
                with env.span("recon.run"):
                    return job.run().collect()
            res = env.execute(op, phase, recon)
        elif p["q"] == "registry":
            res = env.execute(op, phase, lambda: env.query(
                lambda: QUERIES[p["name"]](env.spark, self.sf_dir)))
        elif p["q"] == "changes":
            res = env.execute(op, phase, lambda: env.query(
                lambda: self._net_changes(env, p["table"], p["version"])))
        else:
            res = env.execute(op, phase, lambda: env.query(
                lambda: env.delta.sql(read_sql(p)[0])))
        self.results.append(res)
        return res

    @staticmethod
    def _net_changes(env: Env, table: str, version: int):
        """Net row and value change since ``version`` from the change
        feed: inserts and post-images count +1, the rest -1."""
        from pyspark.sql import functions as F

        sign = F.when(F.col("_change_type").isin("insert", "update_postimage"),
                      F.lit(1)).otherwise(F.lit(-1))
        return env.txlog.changes(_ref(table), from_version=version).agg(
            F.sum(sign).alias("net_rows"),
            F.sum(sign * F.col("o_totalprice").cast("decimal(30,2)")).alias("net_total"))

    def run(self, env: Env, op: Op) -> Result:
        return self._run(env, op, "window")

    def table_names(self) -> list[str]:
        return ["fragmented", "compact"]

    def _oracle(self) -> Replay:
        """The fragmented build replayed, with one table per version,
        plus views over the TPC-H-shaped inputs."""
        rp = self.frag.replay()
        rp.snapshot(f"t_v{self.versions[0]}")
        for res, version in zip(self.frag.results[1:], self.versions[1:]):
            rp.apply(res.op.kind, res.op.batch, res.op.params)
            rp.snapshot(f"t_v{version}")
        for name in datagen.SIZES.keys() | {"region", "nation"}:
            path = os.path.join(self.sf_dir, f"{name}.parquet")
            rp.con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        return rp

    def check(self, env: Env) -> bool:
        from x_spark.plans.registry import ORACLES

        rp = self._oracle()
        agg_sql = ("SELECT o_orderpriority, count(*), "
                   "sum(CAST(o_totalprice AS DECIMAL(30,6))) FROM t GROUP BY 1")
        for res in self.results:
            p = res.op.params
            if res.error is not None:
                res.ok = False
            elif res.kind == "refresh":
                res.ok = rows_match(res.output, rp.rows(agg_sql))
            elif res.kind == "recon":
                res.ok = recon_ok(res.output, rp.rows(agg_sql))
            elif p["q"] == "registry":
                res.ok = rows_match(res.output, rp.rows(ORACLES[p["name"]]))
            elif p["q"] == "changes":
                v = p["version"]
                res.ok = rows_match(res.output, rp.rows(
                    f"SELECT (SELECT count(*) FROM t) - (SELECT count(*) FROM t_v{v}), "
                    f"(SELECT sum(CAST(o_totalprice AS DECIMAL(30,2))) FROM t) - "
                    f"(SELECT sum(CAST(o_totalprice AS DECIMAL(30,2))) FROM t_v{v})"))
            else:
                res.ok = rows_match(res.output, rp.rows(read_sql(p)[1]))
        return all(rp.diff_count(env.txlog.read(_ref(t)).toArrow()) == (0, 0)
                   for t in self.table_names())


def make(name: str, seed: int):
    if name == "etl_small_batches":
        return EtlWorkload(seed, "orders_etl", opgen.small_batches, opgen.ORDERS, SMALL)
    if name == "etl_bulk_load":
        return EtlWorkload(seed, "lineitem_etl", opgen.bulk_load, opgen.LINEITEM, BULK)
    if name == "analytics_reads":
        return AnalyticsReads(seed)
    raise ValueError(f"unknown workload {name!r}")

"""``etl_cookbook``: the paper's read → recipe → write path, as the
engine runs it, on seeded inputs (``data.py``).

One iteration runs two cookbooks. The files cookbook writes three
FK-ordered targets: customers (Parquet, generated surrogate keys),
orders (CSV, FK remapped through the customers key map) and lineitems
(nested JSON). The JDBC cookbook loads customers and orders into
embedded Derby (DDL, generated keys, FK remap), then upserts a seeded
delta through a staging table and MERGE.

Outputs are checked after every timed iteration, outside its timing,
with DuckDB over the same generated inputs: one row per unique key, FK
integrity, an order-independent content digest and, after the upsert,
the inserted row count.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from tensei_agent_spark import sinks as sink_layer, sources as source_layer
from tensei_agent_spark.plans import executor
from tensei_agent_spark.plans import (
    ColumnRef, Field, Mapping, Pipeline, Recipe, SourceSpec, TargetSpec,
    compile_plan, run_pipeline,
)
from tensei_agent_spark.sinks.jdbc import jvm_query
from tensei_agent_spark.sources.jdbc import read_table

from . import data
from .harness import Outcomes, dir_bytes

DERBY = "org.apache.derby.jdbc.EmbeddedDriver"

# Input sizes. Files: percent of the sf0.1 orders (and their lineitems)
# next to all customers. All of them: at 15% an iteration was mostly
# per-job driver work, whose JIT warm-up kept iteration times falling
# for twenty iterations; with every order the row work dominates and
# times level off after the first full-size iteration. JDBC: orders
# sampled from sf0.1 with their customers — the driver-side Derby
# write path moves a few hundred rows a second.
FILES_ORDERS_PCT = 100
JDBC_ORDERS = 100
# Untimed full-size iterations before the timed ones: the first pays
# class loading, codegen compiles and most of the JIT warm-up.
WARM_ITERATIONS = 1


def _source_fields():
    return {
        "customer": (
            Field("custkey", "long"), Field("name"), Field("nationkey", "long"),
            Field("acctbal", "decimal(12,2)"), Field("mktsegment"),
        ),
        "orders": (
            Field("orderkey", "long"), Field("custkey", "long"),
            Field("orderstatus"), Field("totalprice", "decimal(12,2)"),
            Field("orderdate", "date"), Field("orderpriority"),
        ),
        # Doubles, not decimals: the nested-JSON target's dotted fields
        # must arrive in their declared type (sinks.prepare casts by
        # plain column name).
        "lineitem": (
            Field("orderkey", "long"), Field("partkey", "long"),
            Field("suppkey", "long"), Field("linenumber", "long"),
            Field("quantity", "double"), Field("extendedprice", "double"),
            Field("discount", "double"), Field("tax", "double"),
            Field("returnflag"), Field("linestatus"), Field("shipdate", "date"),
        ),
        "nation": (
            Field("nationkey", "long"), Field("n_name"), Field("regionkey", "long"),
        ),
    }


def _m(src, cols, targets=None, **kw):
    cols = (cols,) if isinstance(cols, str) else tuple(cols)
    targets = targets or cols
    targets = (targets,) if isinstance(targets, str) else tuple(targets)
    return Mapping(tuple(ColumnRef(src, c) for c in cols), targets, **kw)


def _customers_recipe(prefix: str = "", with_nation: bool = True):
    """Customers from ``{prefix}customer`` into ``{prefix}customers``."""
    src, name = f"{prefix}customer", f"{prefix}customers"
    mappings = [
        _m(src, "custkey"),
        _m(src, "mktsegment", "segment",
           transformers=(("lower_or_upper", {"perform": "lower"}),)),
        _m(src, "acctbal"),
    ]
    if not with_nation:
        mappings.insert(1, _m(src, "name"))
        return Recipe(name, name, tuple(mappings))
    mappings.insert(1, Mapping(
        (ColumnRef(src, "name"), ColumnRef("nation", "n_name")),
        ("label",), mode="all_to_all",
        transformers=(("concat", {"separator": " @ "}),),
    ))
    mappings.append(_m("nation", "regionkey"))
    return Recipe(name, name, tuple(mappings), mapping_key="nationkey")


def _orders_recipe(prefix: str = ""):
    """Orders from ``{prefix}orders`` into ``{prefix}orders``."""
    src = name = f"{prefix}orders"
    return Recipe(name, name, (
        _m(src, ("orderkey", "custkey", "orderstatus", "totalprice")),
        _m(src, "orderdate",
           transformers=(("date_value_to_string", {"format": "dd.MM.yyyy"}),)),
        _m(src, "orderpriority", "priority",
           transformers=(("lower_or_upper", {"perform": "lower"}),)),
    ))


def files_pipeline(inputs: dict, out_dir: str):
    """The files cookbook."""
    fields = _source_fields()
    sources = tuple(
        SourceSpec(name, "csv", inputs[name][0], fields[name])
        for name in ("customer", "nation", "orders", "lineitem")
    )
    targets = (
        TargetSpec(
            "customers", "parquet", os.path.join(out_dir, "customers"),
            fields=(
                Field("cust_id", "long", auto_increment=True),
                Field("custkey", "long", unique=True), Field("label"),
                Field("segment"), Field("acctbal", "decimal(12,2)"),
                Field("regionkey", "long"),
            ),
            options={"natural_key": "custkey"},
        ),
        TargetSpec(
            "orders", "csv", os.path.join(out_dir, "orders"),
            fields=(
                Field("orderkey", "long", unique=True), Field("custkey", "long"),
                Field("orderstatus"), Field("totalprice", "decimal(12,2)"),
                Field("orderdate"), Field("priority"),
            ),
            foreign_keys={"custkey": ("customers", "cust_id")},
        ),
        # Nested JSON. sinks.prepare resolves dotted names as struct
        # paths, so a dotted field must already have its declared type
        # (Spark's own type name: "bigint", not "long") and the target
        # has no unique column (the dedup window would fail the same way).
        TargetSpec(
            "lineitems", "json", os.path.join(out_dir, "lineitems"),
            fields=(
                Field("line_key"), Field("orderkey", "long"),
                Field("part.partkey", "bigint"), Field("part.suppkey", "bigint"),
                Field("price.quantity", "double"), Field("price.extended", "double"),
                Field("price.discount", "double"), Field("price.tax", "double"),
                Field("status.flag"), Field("status.line"), Field("ship.date"),
            ),
            foreign_keys={"orderkey": ("orders", "orderkey")},
        ),
    )
    lineitems = Recipe("lineitems", "lineitems", (
        Mapping(
            (ColumnRef("lineitem", "orderkey"), ColumnRef("lineitem", "linenumber")),
            ("line_key",), mode="all_to_all",
            transformers=(("concat", {"separator": "-"}),),
        ),
        _m("lineitem", "orderkey"),
        _m("lineitem", ("partkey", "suppkey"), ("part.partkey", "part.suppkey")),
        _m("lineitem", ("quantity", "extendedprice", "discount", "tax"),
           ("price.quantity", "price.extended", "price.discount", "price.tax")),
        _m("lineitem", ("returnflag", "linestatus"), ("status.flag", "status.line")),
        _m("lineitem", "shipdate", "ship.date",
           transformers=(("date_value_to_string", {"format": "yyyy/MM/dd"}),)),
    ))
    # Children first on purpose: the compiler must order them.
    recipes = (lineitems, _orders_recipe(), _customers_recipe())
    return Pipeline("files", sources, targets, recipes)


def jdbc_pipeline(inputs: dict, url: str, delta: bool):
    """The JDBC cookbook: the initial load (overwrite) or the delta
    (upsert) of customers and their orders, as ``db_*`` sources and
    targets."""

    fields = _source_fields()
    suffix = "_delta" if delta else ""
    mode = "upsert" if delta else "overwrite"
    sources = tuple(
        SourceSpec(f"db_{name}", "csv", inputs[name + suffix][0], fields[name])
        for name in ("customer", "orders")
    )
    targets = (
        TargetSpec(
            "db_customers", "jdbc", url,
            fields=(
                Field("cust_id", "long", auto_increment=True),
                Field("custkey", "long", unique=True), Field("name", max_length=32),
                Field("segment", max_length=16), Field("acctbal", "decimal(12,2)"),
            ),
            options={"driver": DERBY, "table": "CUSTOMERS"}, mode=mode,
        ),
        TargetSpec(
            "db_orders", "jdbc", url,
            fields=(
                Field("orderkey", "long", unique=True), Field("custkey", "long"),
                Field("orderstatus", max_length=1),
                Field("totalprice", "decimal(12,2)"),
                Field("orderdate", max_length=10), Field("priority", max_length=16),
            ),
            options={"driver": DERBY, "table": "ORDERS"}, mode=mode,
            foreign_keys={"custkey": ("db_customers", "cust_id")},
        ),
    )
    recipes = (_orders_recipe("db_"), _customers_recipe("db_", with_nation=False))
    return Pipeline("jdbc" + suffix, sources, targets, recipes)


# --------------------------------------------------------------------------
# Expected outputs, in DuckDB over the generated inputs
# --------------------------------------------------------------------------

_CSV_TYPES = {
    "customer": "custkey BIGINT, name VARCHAR, nationkey BIGINT, "
    "acctbal DECIMAL(12,2), mktsegment VARCHAR",
    "orders": "orderkey BIGINT, custkey BIGINT, orderstatus VARCHAR, "
    "totalprice DECIMAL(12,2), orderdate DATE, orderpriority VARCHAR",
    "lineitem": "orderkey BIGINT, partkey BIGINT, suppkey BIGINT, "
    "linenumber BIGINT, quantity DOUBLE, extendedprice DOUBLE, "
    "discount DOUBLE, tax DOUBLE, returnflag VARCHAR, linestatus VARCHAR, "
    "shipdate DATE",
    "nation": "nationkey BIGINT, n_name VARCHAR, regionkey BIGINT",
}


def _read_csv(path: str, table: str) -> str:
    cols = ", ".join(
        f"'{c.split()[0]}': '{' '.join(c.split()[1:])}'"
        for c in _CSV_TYPES[table].split(", ")
    )
    return f"read_csv('{path}', header=false, columns={{{cols}}})"


def _view(con, name: str, path: str, table: str) -> None:
    con.execute(f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM {_read_csv(path, table)}")


# Expected target rows. Generated keys follow the executor's numbering:
# sequential ids over the natural-key order of every recipe row,
# duplicates included, from 1 — so a key's id is its rank — and the
# unique-column dedup keeps the smallest id of each key.
_EXPECTED = {
    "customers": """
        SELECT min(cust_id) AS cust_id, custkey, label, segment, acctbal, regionkey
        FROM (SELECT rank() OVER (ORDER BY c.custkey) AS cust_id, c.custkey,
                     concat_ws(' @ ', c.name, n.n_name) AS label,
                     lower(c.mktsegment) AS segment, c.acctbal, n.regionkey
              FROM src_customer c LEFT JOIN src_nation n USING (nationkey))
        GROUP BY ALL""",
    "orders": """
        SELECT DISTINCT o.orderkey, k.cust_id AS custkey, o.orderstatus,
               o.totalprice, strftime(o.orderdate, '%d.%m.%Y') AS orderdate,
               lower(o.orderpriority) AS priority
        FROM src_orders o LEFT JOIN (
            SELECT custkey, min(r) AS cust_id FROM (
                SELECT custkey, rank() OVER (ORDER BY custkey) AS r FROM src_customer)
            GROUP BY custkey) k USING (custkey)""",
    "lineitems": """
        SELECT concat_ws('-', orderkey, linenumber) AS line_key, orderkey,
               partkey, suppkey, quantity, extendedprice, discount, tax,
               returnflag, linestatus, strftime(shipdate, '%Y/%m/%d') AS shipdate
        FROM src_lineitem""",
}

# How each file target is read back, flattened to the _EXPECTED columns.
_ACTUAL = {
    "customers": "SELECT cust_id, custkey, label, segment, acctbal, regionkey "
    "FROM read_parquet('{dir}/*.parquet')",
    "orders": "SELECT * FROM read_csv('{dir}/*.csv', header=false, columns={{"
    "'orderkey': 'BIGINT', 'custkey': 'BIGINT', 'orderstatus': 'VARCHAR', "
    "'totalprice': 'DECIMAL(12,2)', 'orderdate': 'VARCHAR', 'priority': 'VARCHAR'}})",
    "lineitems": "SELECT line_key, orderkey, part.partkey AS partkey, "
    "part.suppkey AS suppkey, price.quantity AS quantity, "
    "price.extended AS extendedprice, price.discount AS discount, "
    "price.tax AS tax, status.flag AS returnflag, status.line AS linestatus, "
    "ship.date AS shipdate FROM read_json('{dir}/*.json', "
    "format='newline_delimited', columns={{'line_key': 'VARCHAR', "
    "'orderkey': 'BIGINT', 'part': 'STRUCT(partkey BIGINT, suppkey BIGINT)', "
    "'price': 'STRUCT(quantity DOUBLE, extended DOUBLE, discount DOUBLE, tax DOUBLE)', "
    "'status': 'STRUCT(flag VARCHAR, line VARCHAR)', 'ship': 'STRUCT(date VARCHAR)'}})",
}

_UNIQUE = {"customers": "custkey", "orders": "orderkey", "lineitems": None}
# child target → (parent target, FK column, parent key column)
_FK = {
    "orders": ("customers", "custkey", "cust_id"),
    "lineitems": ("orders", "orderkey", "orderkey"),
}


def _row_digest(con, sql: str) -> tuple[int, int]:
    """(rows, order-independent content digest) of a query's result."""
    return con.execute(
        f"SELECT count(*), coalesce(sum(hash(t)::HUGEINT), 0) FROM ({sql}) t"
    ).fetchone()


class FileTargets:
    """The files cookbook of one run: inputs, plan, checks."""
    def __init__(self, spark, work: str, seed: int, out: Outcomes):
        self.spark = spark
        self.out = out
        self.out_dir = os.path.join(work, "out", "files")
        self.inputs = data.make_etl_files(
            work, seed, FILES_ORDERS_PCT, data.DEFAULT_SF_DIR, "files"
        )
        self.plan = compile_plan(files_pipeline(self.inputs, self.out_dir))
        self.con = data.connect(work)
        self.con.execute("SET threads TO 4")
        for name, (path, _rows) in self.inputs.items():
            _view(self.con, f"src_{name}", path, name)
        self.expected = {t: _row_digest(self.con, sql) for t, sql in _EXPECTED.items()}
        self.written: dict = {}

    def run(self, tracer=None, check: bool = True) -> float:
        shutil.rmtree(self.out_dir, ignore_errors=True)
        t0 = time.perf_counter()
        try:
            if tracer is None:
                run_pipeline(self.spark, self.plan)
            else:
                with tracer.span("pipeline.files"):
                    with tracer.span("plans.compile"):
                        plan = compile_plan(self.plan.pipeline)
                    run_pipeline(self.spark, plan)
        except Exception as exc:  # noqa: BLE001 - counted, reported
            if check:
                self.out.attempted += len(_EXPECTED)
                self.out.fail(list(_EXPECTED), f"pipeline raised {exc!r}")
            return time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if check:
            self.out.attempted += len(_EXPECTED)
            self.check()
        return dt

    def check(self) -> None:
        """Compare every target with its expected rows."""
        read = {
            t: _ACTUAL[t].format(dir=os.path.join(self.out_dir, t)) for t in _EXPECTED
        }
        for t in _EXPECTED:
            errors = []
            try:
                got = _row_digest(self.con, read[t])
                self.written[t] = got[0]
                if got != self.expected[t]:
                    errors.append(f"rows/digest {got} != expected {self.expected[t]}")
                key = _UNIQUE[t]
                if key is not None:
                    dup = self.con.execute(
                        f"SELECT count(*) - count(DISTINCT {key}) FROM ({read[t]})"
                    ).fetchone()[0]
                    if dup:
                        errors.append(f"{dup} repeated {key} values")
                parent = _FK.get(t)
                if parent is not None:
                    fk, pkey = parent[1], parent[2]
                    orphans = self.con.execute(
                        f"SELECT count(*) FROM ({read[t]}) WHERE {fk} IS NULL OR "
                        f"{fk} NOT IN (SELECT {pkey} FROM ({read[parent[0]]}))"
                    ).fetchone()[0]
                    if orphans:
                        errors.append(f"{orphans} FK orphans")
            except Exception as exc:  # noqa: BLE001 - counted, reported
                errors.append(repr(exc))
            if errors:
                self.out.fail([t], "; ".join(errors))

    def source_bytes(self) -> int:
        return sum(os.path.getsize(p) for p, _rows in self.inputs.values())


# Expected Derby tables after the initial load ({c}/{o} = customer and
# orders source views) and the key → generated-id map they share.
_JDBC_KEYS = """
    SELECT custkey, min(r) AS cust_id FROM (
        SELECT custkey, rank() OVER (ORDER BY custkey) AS r FROM {c})
    GROUP BY custkey"""
_JDBC_EXPECTED = {
    "CUSTOMERS": """
        SELECT DISTINCT k.cust_id, c.custkey, c.name, lower(c.mktsegment) AS segment,
               c.acctbal
        FROM {c} c JOIN (%s) k USING (custkey)""" % _JDBC_KEYS,
    "ORDERS": """
        SELECT DISTINCT o.orderkey, k.cust_id AS custkey, o.orderstatus,
               o.totalprice, strftime(o.orderdate, '%%d.%%m.%%Y') AS orderdate,
               lower(o.orderpriority) AS priority
        FROM {o} o LEFT JOIN (%s) k USING (custkey)""" % _JDBC_KEYS,
}
# Derby tables read back, projected and typed like the expected rows.
_JDBC_COLS = {
    "CUSTOMERS": "cust_id::BIGINT AS cust_id, custkey::BIGINT AS custkey, "
    "name::VARCHAR AS name, segment::VARCHAR AS segment, "
    "acctbal::DECIMAL(12,2) AS acctbal",
    "ORDERS": "orderkey::BIGINT AS orderkey, custkey::BIGINT AS custkey, "
    "orderstatus::VARCHAR AS orderstatus, "
    "totalprice::DECIMAL(12,2) AS totalprice, orderdate::VARCHAR AS orderdate, "
    "priority::VARCHAR AS priority",
}


class JdbcUpsert:
    """The JDBC cookbook of one run: a fresh Derby database, the initial
    load and the upsert delta, checks after each phase."""

    def __init__(self, spark, work: str, seed: int, out: Outcomes):
        self.spark = spark
        self.out = out
        self.inputs = data.make_jdbc_upsert(
            work, seed, JDBC_ORDERS, data.DEFAULT_SF_DIR, "jdbc"
        )
        # A fresh database every run (the seed keeps two set-ups in one
        # process apart: deleting a database Derby holds open stops it).
        self.db = os.path.join(work, "derby", f"jdbc-{seed}")
        shutil.rmtree(self.db, ignore_errors=True)
        self.url = f"jdbc:derby:{self.db};create=true"
        jvm_query(spark, self.url, "VALUES 1", DERBY)  # boots Derby
        self.initial, self.delta = (
            compile_plan(jdbc_pipeline(self.inputs, self.url, delta))
            for delta in (False, True)
        )
        self._expect(work)
        self.split: dict = {}
        self.phases: dict = {}

    def _expect(self, work: str) -> None:
        self.con = data.connect(work)
        self.con.execute("SET threads TO 4")
        for name, (path, _rows) in self.inputs.items():
            _view(self.con, f"src_{name}", path, name.replace("_delta", ""))
        for phase, c, o in (
            ("initial", "src_customer", "src_orders"),
            ("delta", "src_customer_delta", None),
        ):
            for table, sql in _JDBC_EXPECTED.items():
                if o is None and table == "ORDERS":
                    continue
                self.con.execute(
                    f"CREATE OR REPLACE TABLE exp_{phase}_{table} AS "
                    + sql.format(c=c, o=o)
                )
        # Final orders: the initial rows, each delta row replacing the
        # row with its key, the delta's FKs mapped through the delta's
        # customer ids.
        self.con.execute(
            "CREATE OR REPLACE TABLE exp_delta_ORDERS AS "
            "SELECT * FROM exp_initial_ORDERS WHERE orderkey NOT IN "
            "(SELECT orderkey FROM src_orders_delta) UNION ALL "
            + _JDBC_EXPECTED["ORDERS"].format(c="src_customer_delta", o="src_orders_delta")
        )
        self.expected_split = {}
        for table in _JDBC_EXPECTED:
            before, after = self.con.execute(
                f"SELECT (SELECT count(*) FROM exp_initial_{table}), "
                f"(SELECT count(*) FROM exp_delta_{table})"
            ).fetchone()
            self.expected_split[table] = {"inserted": after - before}
        # Rows each phase writes: its distinct keys (dedup before write).
        self.phase_rows = {
            (phase, table): self.con.execute(
                f"SELECT count(DISTINCT {key}) FROM {src}"
            ).fetchone()[0]
            for phase, suffix in (("initial", ""), ("delta", "_delta"))
            for table, key, src in (
                ("CUSTOMERS", "custkey", f"src_customer{suffix}"),
                ("ORDERS", "orderkey", f"src_orders{suffix}"),
            )
        }
        self.digests = {
            (phase, t): _row_digest(
                self.con, f"SELECT {_JDBC_COLS[t]} FROM exp_{phase}_{t}"
            )
            for phase in ("initial", "delta") for t in _JDBC_EXPECTED
        }

    def _count(self, table: str) -> int:
        rows = jvm_query(self.spark, self.url, f'SELECT COUNT(*) FROM "{table}"', DERBY)
        return int(rows[0][0])

    def run(self, tracer=None, check: bool = True) -> list[float]:
        """The initial load, then the upsert; seconds of each."""

        times = []
        for phase, plan in (("initial", self.initial), ("delta", self.delta)):
            before = {t: self._count(t) for t in _JDBC_EXPECTED} if phase == "delta" else None
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    run_pipeline(self.spark, plan)
                else:
                    with tracer.span(f"pipeline.{phase}") as span:
                        with tracer.span("plans.compile"):
                            plan = compile_plan(plan.pipeline)
                        run_pipeline(self.spark, plan)
                    self.phases[phase] = span
            except Exception as exc:  # noqa: BLE001 - counted, reported
                times.append(time.perf_counter() - t0)
                if check:
                    self.out.attempted += len(_JDBC_EXPECTED)
                    self.out.fail(list(_JDBC_EXPECTED), f"{phase} pipeline raised {exc!r}")
                continue
            times.append(time.perf_counter() - t0)
            if before is not None:
                self.split = {
                    t: {"inserted": self._count(t) - before[t]} for t in _JDBC_EXPECTED
                }
            if check:
                self.out.attempted += len(_JDBC_EXPECTED)
                self.check(phase)
        return times

    def check(self, phase: str) -> None:
        for table in _JDBC_EXPECTED:
            try:
                rows = read_table(self.spark, self.url, table, driver=DERBY).toPandas()
                self.con.register("derby_rows", rows)
                got = _row_digest(self.con, f"SELECT {_JDBC_COLS[table]} FROM derby_rows")
                self.con.unregister("derby_rows")
                want = self.digests[(phase, table)]
                if got != want:
                    raise AssertionError(f"rows/digest {got} != expected {want}")
                if phase == "delta" and self.split[table] != self.expected_split[table]:
                    raise AssertionError(
                        f"split {self.split[table]} != expected {self.expected_split[table]}"
                    )
            except Exception as exc:  # noqa: BLE001 - counted, reported
                self.out.fail([table], f"{phase}: {exc!r}")

    def metrics(self, tracer) -> dict:
        initial, delta = self.phases["initial"], self.phases["delta"]
        insert_s = sum(_span_s(tracer, f"sinks.{r}", initial) for r in JDBC_RECIPES)
        inserted = sum(v["inserted"] for v in self.split.values())
        staged = sum(self.phase_rows[("delta", t)] for t in _JDBC_EXPECTED)
        return {
            "sinks.jdbc.insert_rows_per_s": sum(
                self.phase_rows[("initial", t)] for t in _JDBC_EXPECTED
            ) / insert_s,
            "sinks.jdbc.upsert_s": sum(
                _span_s(tracer, f"sinks.{r}", delta) for r in JDBC_RECIPES
            ),
            "sinks.jdbc.inserted": inserted,
            "sinks.jdbc.updated": staged - inserted,
        }

    def source_bytes(self) -> int:
        return sum(os.path.getsize(p) for p, _rows in self.inputs.values())


class EtlCookbook(Outcomes):
    """The workload: per iteration, the files cookbook, then the JDBC
    initial load and upsert."""

    name = "etl_cookbook"
    max_iterations = float("inf")

    def __init__(self, spark, work: str, seed: int):
        super().__init__()
        self.spark = spark
        self.work = work
        self.seed = seed
        self.observed: dict = {}  # file target → rows-processed getter

    def setup(self) -> None:
        self.files = FileTargets(self.spark, self.work, self.seed, self)
        self.jdbc = JdbcUpsert(self.spark, self.work, self.seed, self)
        for _ in range(WARM_ITERATIONS):
            self.run_once(check=False)

    def run_once(self, tracer=None, check: bool = True) -> list[float]:
        """Seconds of the files run, the initial load and the upsert."""
        return [self.files.run(tracer, check), *self.jdbc.run(tracer, check)]

    def source_rows(self) -> int:
        return sum(
            rows for part in (self.files, self.jdbc) for _path, rows in part.inputs.values()
        )

    def source_paths(self) -> dict:
        """Source name → the CSV files it reads."""
        paths = {src: [path] for src, (path, _rows) in self.files.inputs.items()}
        for name, (path, _rows) in self.jdbc.inputs.items():
            paths.setdefault("db_" + name.replace("_delta", ""), []).append(path)
        return paths

    def layer_patches(self, tracer) -> list:
        return layer_patches(tracer, self.observed)

    def layer_metrics(self, tracer, ledger, job_ids) -> dict:
        return layer_metrics(self, tracer, ledger, job_ids, self.observed)

    def out_bytes_ratio(self) -> float:
        written = dir_bytes(self.files.out_dir) + dir_bytes(self.jdbc.db)
        return written / (self.files.source_bytes() + self.jdbc.source_bytes())

    def close(self) -> None:
        self.files.con.close()
        self.jdbc.con.close()


SOURCES = ("customer", "orders", "lineitem", "nation", "db_customer", "db_orders")
FILE_RECIPES = ("customers", "orders", "lineitems")
JDBC_RECIPES = ("db_customers", "db_orders")
RECIPES = FILE_RECIPES + JDBC_RECIPES


def layer_patches(tracer, rows: dict) -> list:
    """Spans around the layer entry points ``run_pipeline`` calls:
    ``sources.read_source``, ``executor.build_recipe_frame``,
    ``sinks.write_target``, ``sinks.prepare`` and each
    ``sinks.WRITERS[fmt]``. The program's modules are not edited; the
    attributes are swapped for the traced iteration only.

    The ``write_target`` wrapper also counts the rows each file recipe
    hands its sink (before the unique-column dedup) with an
    ``Observation``, which rides on the write job and adds none; the
    getters land in ``rows[target]``. JDBC targets get none: the Derby
    sink reads its frame with ``toLocalIterator``, which never completes
    an Observation.
    """
    write_target = sink_layer.write_target

    def observed_write(df, spec):
        if spec.format != "jdbc":
            obs = Observation(f"rows_{spec.name}")
            rows[spec.name] = lambda: obs.get["n"]
            df = df.observe(obs, F.count(F.lit(1)).alias("n"))
        return write_target(df, spec)

    return [
        (source_layer, "read_source", tracer.wrap(
            source_layer.read_source, lambda _s, spec: f"sources.{spec.name}")),
        (executor, "build_recipe_frame", tracer.wrap(
            executor.build_recipe_frame, lambda r, _f: f"plans.build.{r.name}")),
        (sink_layer, "write_target", tracer.wrap(
            observed_write, lambda _df, spec: f"sinks.{spec.name}")),
        (sink_layer, "prepare", tracer.wrap(
            sink_layer.prepare, lambda _df, spec: f"sinks.prepare.{spec.name}")),
        *[
            (sink_layer.WRITERS, fmt, tracer.wrap(
                fn, lambda _df, spec: f"sinks.write.{spec.name}"))
            for fmt, fn in sink_layer.WRITERS.items()
        ],
    ]


def _span_s(tracer, name: str, within=None) -> float:
    return sum(
        s["end"] - s["start"]
        for s in tracer.by_name(name)
        if within is None or within["start"] <= s["start"] <= within["end"]
    )


def layer_metrics(wl, tracer, ledger, job_ids, rows: dict) -> dict:
    """Per-layer metrics of one traced iteration."""
    out = {
        "plans.compile_s": _span_s(tracer, "plans.compile"),
        "plans.build_s": sum(_span_s(tracer, f"plans.build.{r}") for r in RECIPES),
    }
    nodes = ledger.nodes_for(job_ids)
    for src, paths in wl.source_paths().items():
        read = scan_s = 0.0
        for n in nodes:
            if n["name"].startswith("Scan") and any(p in n["desc"] for p in paths):
                read += n["metrics"].get("number of output rows", 0.0)
                scan_s += sum(
                    c["metrics"].get("duration", 0.0) for c in n.get("feeds", ())
                )
        out[f"sources.{src}.rows"] = read
        out[f"sources.{src}.scan_s"] = scan_s
    for r in RECIPES:
        out[f"sinks.{r}.write_s"] = _span_s(tracer, f"sinks.{r}")
    written = wl.files.written
    for r in FILE_RECIPES:
        processed = rows[r]()
        out[f"recipe.{r}.rows_processed"] = processed
        out[f"recipe.{r}.rows_written"] = written[r]
        out[f"recipe.{r}.useful_ratio"] = written[r] / processed
        out[f"sinks.{r}.dedup_removed"] = processed - written[r]
        out[f"sinks.{r}.out_bytes"] = dir_bytes(os.path.join(wl.files.out_dir, r))
    out.update(wl.jdbc.metrics(tracer))
    return out

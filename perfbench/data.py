"""Seeded input generation for the cookbook workloads.

Inputs derive from the read-only TPC-H-shaped tables of one scale
factor (``customer``, ``orders``, ``lineitem``, ``nation`` parquet).
The seed decides which rows are duplicated, which rows a delta changes
and the row order of every file; the same seed writes byte-identical
CSV files. DuckDB writes them single-threaded with an explicit ORDER
BY, so neither thread scheduling nor the writer reorders rows.
"""

from __future__ import annotations

import os

import duckdb

from tensei_agent_spark import session

# The program's test tables (TESTDATA.md), one directory per scale.
TESTDATA = os.path.dirname(session.DEFAULT_SF_DIR.rstrip("/"))
DEFAULT_SF_DIR = os.path.join(TESTDATA, "sf0.1")
# The smallest scale: same shapes, a hundredth of the rows (the registry's
# oracle checks and the benchmark's own tests).
SMALL_SF_DIR = os.path.join(TESTDATA, "sf0.001")

# Key shifts for the delta's new customers and orders: larger than any
# key at sf0.1.
CUST_STRIDE = 100_000
ORDER_STRIDE = 1_000_000

# Seeded exact-duplicate shares (percent) of customer, orders, lineitem.
DUP_PCT = {"customer": 5, "orders": 3, "lineitem": 2}

# Column lists of the generated CSV files (no header line). The
# cookbooks in etl.py declare the same names and types.
COLUMNS = {
    "customer": ("custkey", "name", "nationkey", "acctbal", "mktsegment"),
    "orders": (
        "orderkey", "custkey", "orderstatus", "totalprice", "orderdate",
        "orderpriority",
    ),
    "lineitem": (
        "orderkey", "partkey", "suppkey", "linenumber", "quantity",
        "extendedprice", "discount", "tax", "returnflag", "linestatus",
        "shipdate",
    ),
    "nation": ("nationkey", "n_name", "regionkey"),
}

# Projections from the parquet tables onto the CSV columns; {k} = 1
# shifts the keys past every existing key.
_SELECT = {
    "customer": (
        "c_custkey + {k} * %d AS custkey, c_name AS name, "
        "c_nationkey AS nationkey, CAST(c_acctbal AS DECIMAL(12,2)) AS acctbal, "
        "c_mktsegment AS mktsegment" % CUST_STRIDE
    ),
    "orders": (
        "o_orderkey + {k} * %d AS orderkey, o_custkey + {k} * %d AS custkey, "
        "o_orderstatus AS orderstatus, "
        "CAST(o_totalprice AS DECIMAL(12,2)) AS totalprice, "
        "CAST(o_orderdate AS DATE) AS orderdate, o_orderpriority AS orderpriority"
        % (ORDER_STRIDE, CUST_STRIDE)
    ),
    "lineitem": (
        "l_orderkey + {k} * %d AS orderkey, l_partkey AS partkey, "
        "l_suppkey AS suppkey, l_linenumber AS linenumber, "
        "CAST(l_quantity AS DECIMAL(12,2)) AS quantity, "
        "CAST(l_extendedprice AS DECIMAL(12,2)) AS extendedprice, "
        "CAST(l_discount AS DECIMAL(12,2)) AS discount, "
        "CAST(l_tax AS DECIMAL(12,2)) AS tax, l_returnflag AS returnflag, "
        "l_linestatus AS linestatus, CAST(l_shipdate AS DATE) AS shipdate"
        % ORDER_STRIDE
    ),
}

# The natural key of each table. Which rows get a duplicate depends on
# the key alone, so a delta that changes a row's other columns keeps
# exactly the duplicates the initial load had.
_KEY = {
    "customer": "custkey", "orders": "orderkey",
    "lineitem": "orderkey, linenumber",
}


def connect(work: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET preserve_insertion_order = true")
    con.execute(f"SET temp_directory = '{os.path.join(work, 'duckdb-tmp')}'")
    return con


def _pick(expr: str, seed: int, salt: str, pct: int) -> str:
    """SQL predicate true for a seeded ``pct`` percent of rows."""
    return f"hash({expr}, {int(seed)}, '{salt}') % 100 < {int(pct)}"


def _copy(con, select_sql: str, table: str, path: str, seed: int) -> int:
    """Write ``select_sql`` plus its seeded duplicates, in seeded order."""
    key = _KEY[table]
    cols = ", ".join(COLUMNS[table])
    dup = _pick(key, seed, "dup", DUP_PCT[table])
    sql = (
        f"WITH base AS ({select_sql}), "
        f"rows AS (SELECT *, 0 AS _copy FROM base "
        f"UNION ALL SELECT *, 1 AS _copy FROM base WHERE {dup}) "
        f"SELECT {cols} FROM rows "
        f"ORDER BY hash({cols}, _copy, {int(seed)}), {cols}, _copy"
    )
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT csv, HEADER false)")
    return con.execute(f"SELECT count(*) FROM read_csv('{path}', header=false)").fetchone()[0]


def make_etl_files(
    work: str, seed: int, orders_pct: int, sf_dir: str = DEFAULT_SF_DIR,
    name: str = "etl_files",
) -> dict:
    """Every customer, ``orders_pct`` percent of the orders (by key) with
    their lineitems, and nation; returns {source: (path, rows)}."""
    out_dir = os.path.join(work, "inputs", name)
    os.makedirs(out_dir, exist_ok=True)
    keep = {
        "customer": "true",
        "orders": f"o_orderkey % 100 < {int(orders_pct)}",
        "lineitem": f"l_orderkey % 100 < {int(orders_pct)}",
    }
    con = connect(work)
    try:
        result = {}
        for table in ("customer", "orders", "lineitem"):
            sql = (
                f"SELECT {_SELECT[table].format(k=0)} "
                f"FROM read_parquet('{sf_dir}/{table}.parquet') WHERE {keep[table]}"
            )
            path = os.path.join(out_dir, f"{table}.csv")
            result[table] = (path, _copy(con, sql, table, path, seed))
        path = os.path.join(out_dir, "nation.csv")
        con.execute(
            f"COPY (SELECT n_nationkey, n_name, n_regionkey "
            f"FROM read_parquet('{sf_dir}/nation.parquet') ORDER BY n_nationkey) "
            f"TO '{path}' (FORMAT csv, HEADER false)"
        )
        result["nation"] = (path, 25)
        return result
    finally:
        con.close()


def make_jdbc_upsert(
    work: str, seed: int, n_orders: int, sf_dir: str = DEFAULT_SF_DIR,
    name: str = "etl_jdbc_upsert",
) -> dict:
    """An initial customer + orders load and a seeded delta.

    The initial load is ``n_orders`` seeded orders and their customers.
    The delta is a full customer snapshot — about 20% of customers
    changed, plus ``n_orders / 20`` new customers with keys above every
    existing key, so the generated surrogate keys of existing customers
    do not move — and an orders delta holding about 20% of the initial
    orders, changed, plus up to ``n_orders / 20`` orders of the new
    customers. Sizes barely depend on the seed. Returns
    {name: (path, rows)}; names ``customer``, ``orders``,
    ``customer_delta``, ``orders_delta``.
    """
    out_dir = os.path.join(work, "inputs", name)
    os.makedirs(out_dir, exist_ok=True)
    con = connect(work)
    s = int(seed)
    n_new = max(1, int(n_orders) // 20)
    try:
        cust = f"read_parquet('{sf_dir}/customer.parquet')"
        orders = f"read_parquet('{sf_dir}/orders.parquet')"
        picked_orders = (
            f"SELECT * FROM {orders} "
            f"ORDER BY hash(o_orderkey, {s}, 'sample') LIMIT {int(n_orders)}"
        )
        picked = f"SELECT o_custkey FROM ({picked_orders})"
        fresh = (
            f"SELECT c_custkey FROM {cust} WHERE c_custkey NOT IN ({picked}) "
            f"ORDER BY hash(c_custkey, {s}, 'new') LIMIT {n_new}"
        )
        changed = _pick("{key}", s, "chg", 20)
        c_sel = _SELECT["customer"].format(k=0)
        c_new = _SELECT["customer"].format(k=1)
        o_sel = _SELECT["orders"].format(k=0)
        o_new = _SELECT["orders"].format(k=1)
        # A changed customer moves segment and balance; a changed order
        # moves status and price. Both depend only on the key, so every
        # duplicate of a row changes the same way.
        c_changed = (
            "custkey, name, nationkey, "
            f"CASE WHEN {changed.format(key='custkey')} "
            "THEN CAST(acctbal + 1 AS DECIMAL(12,2)) ELSE acctbal END AS acctbal, "
            f"CASE WHEN {changed.format(key='custkey')} "
            "THEN 'CHANGED' ELSE mktsegment END AS mktsegment"
        )
        o_changed = (
            "orderkey, custkey, "
            "CASE orderstatus WHEN 'O' THEN 'F' ELSE 'O' END AS orderstatus, "
            "CAST(totalprice + 1 AS DECIMAL(12,2)) AS totalprice, "
            "orderdate, orderpriority"
        )
        initial_customers = f"SELECT {c_sel} FROM {cust} WHERE c_custkey IN ({picked})"
        initial_orders = f"SELECT {o_sel} FROM ({picked_orders})"
        specs = {
            "customer": ("customer", initial_customers),
            "orders": ("orders", initial_orders),
            "customer_delta": (
                "customer",
                f"SELECT {c_changed} FROM ({initial_customers}) "
                f"UNION ALL SELECT {c_new} FROM {cust} WHERE c_custkey IN ({fresh})",
            ),
            "orders_delta": (
                "orders",
                f"SELECT {o_changed} FROM ({initial_orders}) "
                f"WHERE {changed.format(key='orderkey')} "
                f"UNION ALL (SELECT {o_new} FROM {orders} "
                f"WHERE o_custkey IN ({fresh}) "
                f"ORDER BY hash(o_orderkey, {s}, 'new') LIMIT {n_new})",
            ),
        }
        result = {}
        for name, (table, sql) in specs.items():
            path = os.path.join(out_dir, f"{name}.csv")
            result[name] = (path, _copy(con, sql, table, path, seed))
        return result
    finally:
        con.close()

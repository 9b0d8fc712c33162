"""JDBC sink: DDL generation, batched inserts, upsert, key read-back.

Reference parity (``writers/DatabaseWriterActor.scala``):

- **DDL generation** from the target schema, per-dialect column types
  (``createSchemaAndStatements`` :862-1130; type tables
  ``helpers/DatabaseHelpers.scala:252-690``) → :func:`generate_ddl`.
  The reference's DFASDL ``length`` / ``max-length`` attributes map to
  ``CHAR(n)`` / ``VARCHAR(n)`` per dialect; unbounded strings fall back
  to each dialect's large-text type (CLOB / TEXT / LONGTEXT / …).
- **Upsert** — the reference decides Insert/Update/Ignore per row via a
  PK count statement (``:269-348,763-860``). Row-at-a-time round trips
  cannot scale; we emit the set-wise dialect-native statement instead
  (``INSERT … ON CONFLICT`` / ``ON DUPLICATE KEY`` / ``MERGE INTO`` /
  Firebird ``UPDATE OR INSERT``) → :func:`upsert_statement`, executed
  either batch-wise per partition or via a staging table + one MERGE.
- **Custom db-insert / db-update SQL** override (``:1114-1134``) →
  ``options["insert_sql"]``.
- **Batched writes** with autocommit off (``:350,502,557``) →
  ``batchsize`` on the Spark JDBC writer / ``executemany`` batches.
- **Generated-key harvest** (``:555-710`` + AutoIncrementValueBuffer)
  → :func:`read_key_map`: re-read ``(natural_key, generated_key)``
  after the parent write; the executor joins it against child FKs
  (see ``operators/joins.remap_foreign_keys``).

Two execution paths:

1. **Spark JDBC** (scale path): distributed ``df.write.jdbc`` inserts;
   upsert = distributed insert into a staging table, then one
   driver-side MERGE (the JVM already holds the JDBC driver). This
   path is exercised for real against the Derby embedded driver that
   ships in Spark's own jars directory (tests/test_jdbc_live_derby.py)
   — Derby is one of the reference's integration dialects
   (``src/it/scala/databases/derby``).
2. **DBAPI** (driver-side fallback; also the no-driver-jar test path,
   exercised against DuckDB): ``options["dbapi_connect"]`` is a
   zero-arg callable returning a DB-API connection; rows stream via
   ``toLocalIterator`` in executemany batches. This funnels every row
   through the driver, so it is gated by ``dbapi_max_rows`` (default
   :data:`DBAPI_MAX_ROWS`) — above the gate it refuses and points at
   path 1 instead of silently becoming a driver bottleneck.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from dataclasses import replace

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BinaryType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructType,
    TimestampType,
)

from ..plans.spec import Field, TargetSpec
from . import register

# --- dialect layer ---------------------------------------------------------


class Dialect:
    """Generic ANSI dialect; subclasses override the divergent bits
    (≙ the per-driver branches of ``helpers/DatabaseHelpers.scala:252-690``)."""

    name = "ansi"
    auto_increment_clause = "GENERATED BY DEFAULT AS IDENTITY"
    # Derby / Oracle / Firebird have no CREATE TABLE IF NOT EXISTS;
    # callers there attempt the create and tolerate "already exists".
    supports_if_not_exists = True

    def sql_type(self, t: DataType, f: Field | None = None) -> str:
        if isinstance(t, StringType):
            return self.string_type(f)
        if isinstance(t, LongType):
            return self.long_type()
        if isinstance(t, IntegerType):
            return "INTEGER"
        if isinstance(t, ShortType):
            return "SMALLINT"
        if isinstance(t, DoubleType):
            return self.double_type()
        if isinstance(t, FloatType):
            return "REAL"
        if isinstance(t, DecimalType):
            return f"DECIMAL({t.precision},{t.scale})"
        if isinstance(t, BooleanType):
            return self.boolean_type()
        if isinstance(t, DateType):
            return "DATE"
        if isinstance(t, TimestampType):
            return self.timestamp_type()
        if isinstance(t, BinaryType):
            return self.binary_type()
        raise ValueError(f"{self.name}: unmapped Spark type {t}")

    # String sizing ≙ DFASDL length/max-length: fixed width → CHAR(n),
    # bounded → VARCHAR(n), unbounded → dialect large-text type.
    def string_type(self, f: Field | None = None) -> str:
        if f is not None and f.length is not None:
            return f"CHAR({f.length})"
        if f is not None and f.max_length is not None:
            return f"VARCHAR({f.max_length})"
        return self.text_type()

    def text_type(self) -> str:
        return "VARCHAR(254)"  # the reference's default string width

    def long_type(self) -> str:
        return "BIGINT"

    def double_type(self) -> str:
        return "DOUBLE PRECISION"

    def boolean_type(self) -> str:
        return "BOOLEAN"

    def timestamp_type(self) -> str:
        return "TIMESTAMP"

    def binary_type(self) -> str:
        return "BLOB"

    def quote(self, ident: str) -> str:
        return f'"{ident}"'

    def upsert(self, table: str, cols: list[str], keys: list[str]) -> str:
        """Set-wise upsert statement with ? placeholders (per-row batch).

        Emulation order mirrors the reference's Insert/Update decision:
        UPDATE where the key matches, INSERT where no row matched.
        """
        q = self.quote
        collist = ", ".join(q(c) for c in cols)
        placeholders = ", ".join("?" for _ in cols)
        return (
            f"MERGE INTO {q(table)} USING (VALUES ({placeholders})) "
            f"AS src({collist}) ON {' AND '.join(f'{q(table)}.{q(k)} = src.{q(k)}' for k in keys)} "
            f"WHEN MATCHED THEN UPDATE SET "
            f"{', '.join(f'{q(c)} = src.{q(c)}' for c in cols if c not in keys)} "
            f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({collist})"
        )

    def merge_from_staging(
        self, table: str, staging: str, cols: list[str], keys: list[str]
    ) -> str:
        q = self.quote
        collist = ", ".join(q(c) for c in cols)
        srccols = ", ".join(f"src.{q(c)}" for c in cols)
        on = " AND ".join(f"tgt.{q(k)} = src.{q(k)}" for k in keys)
        updates = ", ".join(
            f"{q(c)} = src.{q(c)}" for c in cols if c not in keys
        )
        return (
            f"MERGE INTO {q(table)} AS tgt USING {q(staging)} AS src ON {on} "
            + (f"WHEN MATCHED THEN UPDATE SET {updates} " if updates else "")
            + f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({srccols})"
        )


class PostgresDialect(Dialect):
    """≙ ``DatabaseHelpers.scala`` PostgreSql branch: CHARACTER(n) /
    CHARACTER VARYING(n) / TEXT, BYTEA, TIMESTAMPTZ, BIGSERIAL."""

    name = "postgresql"
    auto_increment_clause = "GENERATED BY DEFAULT AS IDENTITY"

    def binary_type(self) -> str:
        return "BYTEA"

    def string_type(self, f: Field | None = None) -> str:
        # Reference bounds: CHAR only below 256, VARCHAR only below 65536.
        if f is not None and f.length is not None and f.length < 256:
            return f"CHARACTER({f.length})"
        if f is not None and f.max_length is not None and f.max_length < 65536:
            return f"CHARACTER VARYING({f.max_length})"
        return "TEXT"

    def text_type(self) -> str:
        return "TEXT"

    def upsert(self, table, cols, keys):
        q = self.quote
        collist = ", ".join(q(c) for c in cols)
        placeholders = ", ".join("?" for _ in cols)
        updates = ", ".join(f"{q(c)} = EXCLUDED.{q(c)}" for c in cols if c not in keys)
        conflict = ", ".join(q(k) for k in keys)
        action = f"DO UPDATE SET {updates}" if updates else "DO NOTHING"
        return (
            f"INSERT INTO {q(table)} ({collist}) VALUES ({placeholders}) "
            f"ON CONFLICT ({conflict}) {action}"
        )

    def merge_from_staging(self, table, staging, cols, keys):
        q = self.quote
        collist = ", ".join(q(c) for c in cols)
        updates = ", ".join(f"{q(c)} = EXCLUDED.{q(c)}" for c in cols if c not in keys)
        conflict = ", ".join(q(k) for k in keys)
        action = f"DO UPDATE SET {updates}" if updates else "DO NOTHING"
        return (
            f"INSERT INTO {q(table)} ({collist}) SELECT {collist} FROM {q(staging)} "
            f"ON CONFLICT ({conflict}) {action}"
        )


class MySQLDialect(Dialect):
    """≙ MySql branch: CHAR(<256) / VARCHAR(<65536) / LONGTEXT, LONGBLOB,
    DATETIME, AUTO_INCREMENT."""

    name = "mysql"
    auto_increment_clause = "AUTO_INCREMENT"

    def quote(self, ident):
        return f"`{ident}`"

    def string_type(self, f: Field | None = None):
        if f is not None and f.length is not None and f.length < 256:
            return f"CHAR({f.length})"
        if f is not None and f.max_length is not None and f.max_length < 65536:
            return f"VARCHAR({f.max_length})"
        return "LONGTEXT"

    def text_type(self):
        return "VARCHAR(254)"

    def binary_type(self):
        return "LONGBLOB"

    def timestamp_type(self):
        return "DATETIME"

    def double_type(self):
        return "DOUBLE"

    def upsert(self, table, cols, keys):
        q = self.quote
        collist = ", ".join(q(c) for c in cols)
        placeholders = ", ".join("?" for _ in cols)
        updates = ", ".join(
            f"{q(c)} = VALUES({q(c)})" for c in cols if c not in keys
        ) or f"{q(keys[0])} = {q(keys[0])}"
        return (
            f"INSERT INTO {q(table)} ({collist}) VALUES ({placeholders}) "
            f"ON DUPLICATE KEY UPDATE {updates}"
        )

    def merge_from_staging(self, table, staging, cols, keys):
        # MySQL has no MERGE; set-wise upsert = INSERT…SELECT ON DUP KEY.
        q = self.quote
        collist = ", ".join(q(c) for c in cols)
        updates = ", ".join(
            f"{q(c)} = VALUES({q(c)})" for c in cols if c not in keys
        ) or f"{q(keys[0])} = {q(keys[0])}"
        return (
            f"INSERT INTO {q(table)} ({collist}) SELECT {collist} FROM {q(staging)} "
            f"ON DUPLICATE KEY UPDATE {updates}"
        )


class SQLiteDialect(PostgresDialect):
    """≙ SQLite branch: everything is TEXT/INTEGER/REAL/BLOB affinity."""

    name = "sqlite"
    auto_increment_clause = "PRIMARY KEY AUTOINCREMENT"

    def string_type(self, f: Field | None = None):
        return "TEXT"  # SQLite ignores declared widths (type affinity)

    def text_type(self):
        return "TEXT"

    def binary_type(self):
        return "BLOB"


class DuckDBDialect(PostgresDialect):
    name = "duckdb"

    def binary_type(self):
        return "BLOB"


class DerbyDialect(Dialect):
    """≙ Derby branch: CHAR(n)/VARCHAR(n)/CLOB, BLOB, identity columns.
    Derby has no CREATE TABLE IF NOT EXISTS and its MERGE source must be
    a base table — so row-wise upsert is staging-only (matches the
    reference driving Derby through plain INSERT/UPDATE,
    ``src/it/scala/databases/derby``). BY DEFAULT, not ALWAYS: the
    executor's FK pipeline may supply explicit surrogate-key values
    (sequential_id), which ALWAYS rejects (SQLState 42Z23)."""

    name = "derby"
    auto_increment_clause = "GENERATED BY DEFAULT AS IDENTITY"
    supports_if_not_exists = False

    def text_type(self):
        return "CLOB"

    def string_type(self, f=None):
        # Derby rejects VARCHAR above 32672. The reference emits
        # VARCHAR(max-length) unconditionally (DatabaseHelpers.scala:
        # 285-290) and would fail DDL on e.g. the WordPress 65535-wide
        # text columns; degrade those to CLOB instead.
        if f is not None and f.max_length is not None and f.max_length > 32672:
            return "CLOB"
        return super().string_type(f)

    def upsert(self, table, cols, keys):
        raise ValueError(
            "derby: row-wise VALUES upsert is unsupported (Derby MERGE "
            "requires a table source); use the staging MERGE path "
            "(write_jdbc with mode='upsert')."
        )

    def merge_from_staging(self, table, staging, cols, keys):
        # Derby accepts correlation names without AS only.
        q = self.quote
        collist = ", ".join(q(c) for c in cols)
        srccols = ", ".join(f"src.{q(c)}" for c in cols)
        on = " AND ".join(f"tgt.{q(k)} = src.{q(k)}" for k in keys)
        updates = ", ".join(f"{q(c)} = src.{q(c)}" for c in cols if c not in keys)
        return (
            f"MERGE INTO {q(table)} tgt USING {q(staging)} src ON {on} "
            + (f"WHEN MATCHED THEN UPDATE SET {updates} " if updates else "")
            + f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({srccols})"
        )


class H2Dialect(Dialect):
    """≙ H2 branch: NCHAR(n)/NVARCHAR2(n)/NCLOB (sic — the reference
    uses Oracle-style names H2 accepts as aliases); native
    ``MERGE INTO … KEY (…)`` row upsert."""

    name = "h2"
    auto_increment_clause = "GENERATED BY DEFAULT AS IDENTITY"

    def string_type(self, f: Field | None = None):
        if f is not None and f.length is not None:
            return f"NCHAR({f.length})"
        if f is not None and f.max_length is not None:
            return f"NVARCHAR2({f.max_length})"
        return "NCLOB"

    def double_type(self):
        return "DOUBLE"

    def upsert(self, table, cols, keys):
        q = self.quote
        collist = ", ".join(q(c) for c in cols)
        placeholders = ", ".join("?" for _ in cols)
        keylist = ", ".join(q(k) for k in keys)
        return (
            f"MERGE INTO {q(table)} ({collist}) KEY ({keylist}) "
            f"VALUES ({placeholders})"
        )


class HsqldbDialect(Dialect):
    """≙ HyperSql branch: CHAR(n)/LONGVARCHAR(n)/LONGVARCHAR, standard
    MERGE with a VALUES source."""

    name = "hsqldb"
    auto_increment_clause = "GENERATED BY DEFAULT AS IDENTITY"

    def string_type(self, f: Field | None = None):
        if f is not None and f.length is not None:
            return f"CHAR({f.length})"
        if f is not None and f.max_length is not None:
            return f"LONGVARCHAR({f.max_length})"
        return "LONGVARCHAR"


class OracleDialect(Dialect):
    """≙ Oracle branch: NCHAR(≤2000)/NVARCHAR2(≤4000)/NCLOB, NUMBER,
    TIMESTAMP WITH TIME ZONE, ``GENERATED BY DEFAULT AS IDENTITY``
    (12c+, as the reference notes). Table aliases must NOT use AS; the
    MERGE source is ``SELECT … FROM dual``."""

    name = "oracle"
    auto_increment_clause = "GENERATED BY DEFAULT AS IDENTITY"
    supports_if_not_exists = False

    def string_type(self, f: Field | None = None):
        if f is not None and f.length is not None and f.length <= 2000:
            return f"NCHAR({f.length})"
        if f is not None and f.max_length is not None and f.max_length <= 4000:
            return f"NVARCHAR2({f.max_length})"
        return "NCLOB"

    def long_type(self):
        return "NUMBER(19)"

    def double_type(self):
        return "BINARY_DOUBLE"

    def boolean_type(self):
        return "NUMBER(1)"

    def timestamp_type(self):
        return "TIMESTAMP WITH TIME ZONE"

    def upsert(self, table, cols, keys):
        q = self.quote
        collist = ", ".join(q(c) for c in cols)
        srcsel = ", ".join(f"? {q(c)}" for c in cols)
        on = " AND ".join(f"tgt.{q(k)} = src.{q(k)}" for k in keys)
        updates = ", ".join(f"tgt.{q(c)} = src.{q(c)}" for c in cols if c not in keys)
        srccols = ", ".join(f"src.{q(c)}" for c in cols)
        return (
            f"MERGE INTO {q(table)} tgt USING (SELECT {srcsel} FROM dual) src "
            f"ON ({on}) "
            + (f"WHEN MATCHED THEN UPDATE SET {updates} " if updates else "")
            + f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({srccols})"
        )

    def merge_from_staging(self, table, staging, cols, keys):
        q = self.quote
        collist = ", ".join(q(c) for c in cols)
        srccols = ", ".join(f"src.{q(c)}" for c in cols)
        on = " AND ".join(f"tgt.{q(k)} = src.{q(k)}" for k in keys)
        updates = ", ".join(f"tgt.{q(c)} = src.{q(c)}" for c in cols if c not in keys)
        return (
            f"MERGE INTO {q(table)} tgt USING {q(staging)} src ON ({on}) "
            + (f"WHEN MATCHED THEN UPDATE SET {updates} " if updates else "")
            + f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({srccols})"
        )


class SQLServerDialect(Dialect):
    """≙ SqlServer branch: NCHAR(n)/NVARCHAR(n)/NTEXT, VARBINARY,
    DATETIME2, FLOAT, ``IDENTITY``; MERGE takes WITH (HOLDLOCK) to be
    upsert-race-safe and requires a terminating semicolon."""

    name = "sqlserver"
    auto_increment_clause = "IDENTITY(1,1)"

    def quote(self, ident):
        return f"[{ident}]"

    def string_type(self, f: Field | None = None):
        if f is not None and f.length is not None:
            return f"NCHAR({f.length})"
        if f is not None and f.max_length is not None:
            return f"NVARCHAR({f.max_length})"
        return "NVARCHAR(MAX)"  # NTEXT is deprecated; reference used NTEXT

    def binary_type(self):
        return "VARBINARY(MAX)"

    def timestamp_type(self):
        return "DATETIME2"

    def double_type(self):
        return "FLOAT"

    def boolean_type(self):
        return "BIT"

    def upsert(self, table, cols, keys):
        q = self.quote
        collist = ", ".join(q(c) for c in cols)
        placeholders = ", ".join("?" for _ in cols)
        on = " AND ".join(f"tgt.{q(k)} = src.{q(k)}" for k in keys)
        updates = ", ".join(f"tgt.{q(c)} = src.{q(c)}" for c in cols if c not in keys)
        srccols = ", ".join(f"src.{q(c)}" for c in cols)
        return (
            f"MERGE INTO {q(table)} WITH (HOLDLOCK) AS tgt "
            f"USING (VALUES ({placeholders})) AS src ({collist}) ON {on} "
            + (f"WHEN MATCHED THEN UPDATE SET {updates} " if updates else "")
            + f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({srccols});"
        )

    def merge_from_staging(self, table, staging, cols, keys):
        q = self.quote
        collist = ", ".join(q(c) for c in cols)
        srccols = ", ".join(f"src.{q(c)}" for c in cols)
        on = " AND ".join(f"tgt.{q(k)} = src.{q(k)}" for k in keys)
        updates = ", ".join(f"tgt.{q(c)} = src.{q(c)}" for c in cols if c not in keys)
        return (
            f"MERGE INTO {q(table)} WITH (HOLDLOCK) AS tgt "
            f"USING {q(staging)} AS src ON {on} "
            + (f"WHEN MATCHED THEN UPDATE SET {updates} " if updates else "")
            + f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({srccols});"
        )


class FirebirdDialect(Dialect):
    """≙ Firebird branch: CHAR(<32767)/VARCHAR(<32767)/BLOB SUB_TYPE
    TEXT; native row upsert is ``UPDATE OR INSERT … MATCHING``. The
    reference left identity as ``BIGINT // FIXME: AUTOINC``; Firebird 3
    supports the SQL-standard clause, which we emit."""

    name = "firebirdsql"
    auto_increment_clause = "GENERATED BY DEFAULT AS IDENTITY"
    supports_if_not_exists = False

    def string_type(self, f: Field | None = None):
        if f is not None and f.length is not None and f.length < 32767:
            return f"CHAR({f.length})"
        if f is not None and f.max_length is not None and f.max_length < 32767:
            return f"VARCHAR({f.max_length})"
        return "BLOB SUB_TYPE TEXT"

    def upsert(self, table, cols, keys):
        q = self.quote
        collist = ", ".join(q(c) for c in cols)
        placeholders = ", ".join("?" for _ in cols)
        keylist = ", ".join(q(k) for k in keys)
        return (
            f"UPDATE OR INSERT INTO {q(table)} ({collist}) "
            f"VALUES ({placeholders}) MATCHING ({keylist})"
        )

    def merge_from_staging(self, table, staging, cols, keys):
        q = self.quote
        collist = ", ".join(q(c) for c in cols)
        srccols = ", ".join(f"src.{q(c)}" for c in cols)
        on = " AND ".join(f"tgt.{q(k)} = src.{q(k)}" for k in keys)
        updates = ", ".join(f"tgt.{q(c)} = src.{q(c)}" for c in cols if c not in keys)
        return (
            f"MERGE INTO {q(table)} tgt USING {q(staging)} src ON {on} "
            + (f"WHEN MATCHED THEN UPDATE SET {updates} " if updates else "")
            + f"WHEN NOT MATCHED THEN INSERT ({collist}) VALUES ({srccols})"
        )


DIALECTS: dict[str, Dialect] = {
    d.name: d()
    for d in (
        Dialect,
        PostgresDialect,
        MySQLDialect,
        SQLiteDialect,
        DuckDBDialect,
        DerbyDialect,
        H2Dialect,
        HsqldbDialect,
        OracleDialect,
        SQLServerDialect,
        FirebirdDialect,
    )
}
DIALECTS["mariadb"] = DIALECTS["mysql"]
DIALECTS["firebird"] = DIALECTS["firebirdsql"]


def dialect_for(url: str) -> Dialect:
    """jdbc:postgresql://… → PostgresDialect (≙ driver-name dispatch in
    ``DatabaseHelpers.scala``)."""
    for name, d in DIALECTS.items():
        if f":{name}:" in url or url.startswith(f"{name}:"):
            return d
    return DIALECTS["ansi"]


# --- DDL generation --------------------------------------------------------


def generate_ddl(
    schema: StructType,
    table: str,
    dialect: Dialect,
    fields: Iterable[Field] = (),
) -> str:
    """CREATE TABLE from a Spark schema + spec attrs
    (PK/unique/auto-increment/length ≙ ``createSchemaAndStatements``)."""
    by_name = {f.name: f for f in fields}
    q = dialect.quote
    col_defs, pk = [], []
    has_auto = False
    for sf in schema.fields:
        f = by_name.get(sf.name, Field(sf.name))
        parts = [q(sf.name), dialect.sql_type(sf.dataType, f)]
        if f.auto_increment:
            has_auto = True
            if dialect.name == "sqlite":
                parts = [q(sf.name), "INTEGER", dialect.auto_increment_clause]
            else:
                parts.append(dialect.auto_increment_clause)
                pk.append(sf.name)
        if not sf.nullable or not f.nullable:
            parts.append("NOT NULL")
        if f.unique and not f.auto_increment:
            pk.append(sf.name)
        col_defs.append(" ".join(parts))
    # SQLite: an AUTOINCREMENT column carries its PRIMARY KEY inline
    # (and the table may have only one PK), so the table-level clause
    # is skipped exactly then. Without auto-increment the unique-column
    # PK MUST still be emitted — upsert's ON CONFLICT (k) needs a
    # matching PK/UNIQUE constraint or SQLite rejects the statement.
    constraint = (
        [f"PRIMARY KEY ({', '.join(q(c) for c in pk)})"]
        if pk and not (dialect.name == "sqlite" and has_auto)
        else []
    )
    exists = "IF NOT EXISTS " if dialect.supports_if_not_exists else ""
    return (
        f"CREATE TABLE {exists}{q(table)} ("
        + ", ".join(col_defs + constraint)
        + ")"
    )


def upsert_statement(
    url_or_dialect: str | Dialect, table: str, cols: list[str], keys: list[str]
) -> str:
    d = url_or_dialect if isinstance(url_or_dialect, Dialect) else dialect_for(url_or_dialect)
    return d.upsert(table, cols, keys)


# --- execution paths -------------------------------------------------------

_BATCH = 1000  # ≙ the reference's batch/flush granularity

#: dbapi_write streams every row through the driver; above this many
#: rows that is a driver bottleneck → refuse and demand the Spark JDBC
#: path (or an explicit higher limit).
DBAPI_MAX_ROWS = 1_000_000


def _local_rows(df: DataFrame):
    """Stream *df*'s rows to the driver, then complete its Observations.

    ``toLocalIterator`` runs in a SQL execution without an action name,
    so Spark's end-of-execution listener — the one that completes an
    ``Observation`` — skips it, and ``Observation.get`` would wait
    forever (``run_pipeline(metrics=...)`` on an embedded-Derby target).
    Once every row is consumed the executed plan holds the final
    observed metrics; they are handed to the session's observation
    manager exactly as that listener would. No extra Spark job.
    """
    yield from df.toLocalIterator(prefetchPartitions=True)
    manager = df.sparkSession._jsparkSession.observationManager()
    # Scala-private, so reached by its JVM name (Spark 4.1 classic
    # session); a renamed method fails here, loudly, not in a hang.
    complete = getattr(
        manager, "org$apache$spark$sql$classic$ObservationManager$$tryComplete"
    )
    complete(df._jdf.queryExecution())


def _dbapi_rows(df: DataFrame):
    for row in _local_rows(df):
        yield tuple(row)


# "Table already exists" signatures per dialect (Derby SQLState X0Y32,
# Oracle ORA-00955, generic "already exists"). Deliberately NOT a bare
# "exist" substring: that would also swallow "schema ... does not
# exist" — a real creation failure that must propagate.
_ALREADY_EXISTS = ("already exists", "x0y32", "ora-00955", "already in use")

# "No such table" signatures for tolerated DROPs (Derby 42Y55, Oracle
# ORA-00942, MySQL "unknown table", SQL Server S0002/3701).
_NOT_EXISTS = (
    "does not exist", "not exist", "not found", "unknown table",
    "ora-00942", "42y55", "s0002", "3701",
)


def _matches(exc: Exception, signatures: tuple[str, ...]) -> bool:
    msg = str(exc).lower()
    return any(s in msg for s in signatures)


def _ensure_table(cur, ddl: str, dialect: Dialect) -> None:
    """Execute CREATE TABLE, tolerating pre-existence for dialects
    without IF NOT EXISTS (Derby SQLState X0Y32, Oracle ORA-00955)."""
    try:
        cur.execute(ddl)
    except Exception as exc:  # noqa: BLE001 - DBAPI errors are driver-specific
        if dialect.supports_if_not_exists or not _matches(exc, _ALREADY_EXISTS):
            raise


def _adapt_paramstyle(sql: str, conn) -> str:
    """Translate our canonical qmark placeholders to the connection's
    DB-API paramstyle (psycopg2/pymysql use %s). The module's declared
    ``paramstyle`` attribute is authoritative; literals in the built SQL
    never contain '?' (values always travel as parameters), so a plain
    replace is safe."""
    import sys

    mod = sys.modules.get(type(conn).__module__.split(".")[0])
    style = getattr(mod, "paramstyle", "qmark")
    if style in ("format", "pyformat"):
        return sql.replace("?", "%s")
    return sql


def dbapi_write(
    df: DataFrame,
    connect: Callable[[], object],
    table: str,
    dialect: Dialect,
    fields: tuple[Field, ...] = (),
    mode: str = "append",
    key_cols: list[str] | None = None,
    insert_sql: str | None = None,
    max_rows: int = DBAPI_MAX_ROWS,
) -> None:
    """Driver-side DB-API write: DDL + executemany batches (+ upsert).

    The no-jar test path and the small-table path; rows stream through
    the driver in _BATCH chunks (autocommit off, like the reference).
    Refuses DataFrames above ``max_rows`` — use the distributed
    ``write_jdbc`` Spark-JDBC path for big tables.
    """
    # Gate via limit(max_rows+1): scans at most max_rows+1 rows instead
    # of executing the full plan once for a count and again for the
    # write stream.
    if df.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"dbapi_write: input exceeds the driver-side gate of "
            f"{max_rows} rows; this path funnels all rows through the "
            "driver. Use the Spark JDBC path (write_jdbc without "
            "dbapi_connect) or raise options['dbapi_max_rows'] explicitly."
        )
    conn = connect()
    cur = conn.cursor()
    q = dialect.quote
    cols = df.columns
    try:
        if mode == "overwrite":
            cur.execute(f"DROP TABLE IF EXISTS {q(table)}")
        _ensure_table(cur, generate_ddl(df.schema, table, dialect, fields), dialect)
        if mode == "upsert":
            sql = insert_sql or dialect.upsert(table, cols, key_cols or [])
        else:
            placeholders = ", ".join("?" for _ in cols)
            collist = ", ".join(q(c) for c in cols)
            sql = insert_sql or f"INSERT INTO {q(table)} ({collist}) VALUES ({placeholders})"
        sql = _adapt_paramstyle(sql, conn)
        batch: list[tuple] = []
        for row in _dbapi_rows(df):
            batch.append(row)
            if len(batch) >= _BATCH:
                cur.executemany(sql, batch)
                batch.clear()
        if batch:
            cur.executemany(sql, batch)
        conn.commit()
    except BaseException:
        # Release locks held by the open uncommitted transaction before
        # propagating; without this a failed batch can block other
        # writers until the abandoned connection times out.
        try:
            conn.rollback()
        except Exception:  # noqa: BLE001 - rollback is best-effort
            pass
        raise
    finally:
        cur.close()
        # Streaming callers (stream_upsert_to_db's foreachBatch) invoke
        # this once per micro-batch — an unclosed connection per batch
        # accumulates until the server's connection limit kills the job.
        try:
            conn.close()
        except Exception:  # noqa: BLE001 - close is best-effort
            pass


def read_key_map(
    connect: Callable[[], object],
    table: str,
    natural_key: str,
    generated_key: str,
    dialect: Dialect,
):
    """Harvest generated keys after a parent write (≙ getGeneratedKeys +
    AutoIncrementValueBuffer publish): returns [(old, new), ...]."""
    conn = connect()
    cur = conn.cursor()
    q = dialect.quote
    try:
        cur.execute(f"SELECT {q(natural_key)}, {q(generated_key)} FROM {q(table)}")
        return list(cur.fetchall())
    finally:
        cur.close()
        try:
            conn.close()
        except Exception:  # noqa: BLE001 - close is best-effort
            pass


# --- Spark JDBC (scale) path ----------------------------------------------


def _jvm_connection(spark, url: str, driver: str | None = None):
    """Open a java.sql.Connection through the session JVM (the JDBC jar
    is already on the Spark classpath)."""
    jvm = spark._jvm
    if driver:
        # Force driver registration (DriverManager may not have loaded it
        # when the URL scheme is only known to an unloaded driver class).
        jvm.java.lang.Class.forName(driver)
    return jvm.java.sql.DriverManager.getConnection(url)


def jvm_execute(spark, url: str, statements: list[str], driver: str | None = None):
    """Run DDL/DML statements over one JVM JDBC connection; returns the
    per-statement update counts (DDL → 0)."""
    conn = _jvm_connection(spark, url, driver)
    counts = []
    try:
        stmt = conn.createStatement()
        for sql in statements:
            counts.append(stmt.executeUpdate(sql))
        stmt.close()
    finally:
        conn.close()
    return counts


def jvm_query(spark, url: str, sql: str, driver: str | None = None):
    """Run one SELECT over a JVM JDBC connection → list of tuples
    (driver-side; for small reads like key maps / assertions)."""
    conn = _jvm_connection(spark, url, driver)
    try:
        stmt = conn.createStatement()
        rs = stmt.executeQuery(sql)
        ncols = rs.getMetaData().getColumnCount()
        out = []
        while rs.next():
            out.append(tuple(rs.getObject(i + 1) for i in range(ncols)))
        rs.close()
        stmt.close()
        return out
    finally:
        conn.close()


def jvm_write_rows(
    spark,
    url: str,
    table: str,
    df: DataFrame,
    dialect: Dialect,
    driver: str | None = None,
    batch: int = _BATCH,
) -> None:
    """Driver-side JVM batched INSERT for embedded-in-the-driver-JVM
    databases (Derby embedded).

    Spark's JDBC writer binds every NULL string parameter with the
    dialect's StringType null type — CLOB on Derby — and Derby refuses
    the implicit CLOB→VARCHAR parameter assignment, so any row with a
    NULL string aimed at a VARCHAR column kills the job. This path
    binds NULLs with the COLUMN'S OWN type from ParameterMetaData.

    Architecturally honest, not a downgrade: an embedded Derby lives
    inside this driver JVM — cluster executors could never reach it —
    so its writes are driver-side by construction. Network-addressed
    databases keep the distributed Spark writer.
    """
    import datetime as _dt
    from decimal import Decimal as _Dec

    q = dialect.quote
    cols = df.columns
    sql = (
        f"INSERT INTO {q(table)} ({', '.join(q(c) for c in cols)}) "
        f"VALUES ({', '.join('?' for _ in cols)})"
    )
    jvm = spark._jvm
    conn = _jvm_connection(spark, url, driver)
    try:
        conn.setAutoCommit(False)
        ps = conn.prepareStatement(sql)
        ptypes = [
            ps.getParameterMetaData().getParameterType(i + 1)
            for i in range(len(cols))
        ]
        n = 0
        for row in _local_rows(df):
            for i, v in enumerate(row):
                if v is None:
                    ps.setNull(i + 1, ptypes[i])
                elif isinstance(v, bool):  # before int: bool is an int
                    ps.setBoolean(i + 1, v)
                elif isinstance(v, int):
                    ps.setLong(i + 1, v)
                elif isinstance(v, float):
                    ps.setDouble(i + 1, v)
                elif isinstance(v, _Dec):
                    ps.setBigDecimal(i + 1, jvm.java.math.BigDecimal(str(v)))
                elif isinstance(v, _dt.datetime):
                    ps.setTimestamp(
                        i + 1,
                        jvm.java.sql.Timestamp.valueOf(
                            v.strftime("%Y-%m-%d %H:%M:%S")
                            + f".{v.microsecond:06d}"
                        ),
                    )
                elif isinstance(v, _dt.date):
                    ps.setDate(i + 1, jvm.java.sql.Date.valueOf(v.isoformat()))
                elif isinstance(v, (bytes, bytearray)):
                    ps.setBytes(i + 1, bytes(v))
                else:
                    ps.setString(i + 1, str(v))
            ps.addBatch()
            n += 1
            if n % batch == 0:
                ps.executeBatch()
        ps.executeBatch()
        conn.commit()
        ps.close()
    except BaseException:
        try:
            conn.rollback()
        except Exception:  # noqa: BLE001 - rollback is best-effort
            pass
        raise
    finally:
        conn.close()


def _embedded_jvm_db(dialect: Dialect, url: str) -> bool:
    """True when the database engine runs inside this driver JVM
    (embedded Derby: ``jdbc:derby:path`` — the network form is
    ``jdbc:derby://host``)."""
    return dialect.name == "derby" and not url.startswith("jdbc:derby://")


def ensure_table_jvm(
    spark,
    url: str,
    schema: StructType,
    table: str,
    dialect: Dialect,
    fields: Iterable[Field] = (),
    driver: str | None = None,
) -> None:
    """CREATE TABLE via the JVM, tolerating pre-existence for dialects
    without IF NOT EXISTS (same contract as :func:`_ensure_table`)."""
    ddl = generate_ddl(schema, table, dialect, fields)
    try:
        jvm_execute(spark, url, [ddl], driver)
    except Exception as exc:  # noqa: BLE001 - py4j wraps SQLExceptions
        if dialect.supports_if_not_exists or not _matches(exc, _ALREADY_EXISTS):
            raise


def drop_table_jvm(spark, url: str, table: str, dialect: Dialect, driver) -> None:
    """DROP TABLE tolerating ONLY 'no such table' errors. Any other
    failure (dependent view, held lock, permissions) propagates —
    swallowing it would silently turn an overwrite into an append, or
    MERGE stale staging rows from a crashed prior run."""
    try:
        jvm_execute(spark, url, [f"DROP TABLE {dialect.quote(table)}"], driver)
    except Exception as exc:  # noqa: BLE001 - py4j wraps SQLExceptions
        if not _matches(exc, _NOT_EXISTS):
            raise


@register("jdbc")
def write_jdbc(df: DataFrame, spec: TargetSpec) -> None:
    opts = dict(spec.options)
    table = opts.pop("table", spec.name)
    dialect = dialect_for(spec.uri)
    connect = opts.pop("dbapi_connect", None)
    key_cols = [f.name for f in spec.fields if f.unique] or list(
        opts.pop("key_cols", [])
    )

    if connect is not None:
        dbapi_write(
            df, connect, table, dialect, spec.fields,
            mode=spec.mode, key_cols=key_cols,
            insert_sql=opts.pop("insert_sql", None),
            max_rows=int(opts.pop("dbapi_max_rows", DBAPI_MAX_ROWS)),
        )
        return

    spark = df.sparkSession
    driver = opts.get("driver")
    batchsize = str(opts.pop("batchsize", _BATCH))

    if spec.mode in ("append", "overwrite"):
        # Pre-create the target with OUR dialect DDL (PK / identity /
        # CHAR-width semantics) so Spark's generic type mapping never
        # decides the schema; then append distributed.
        if spec.mode == "overwrite":
            drop_table_jvm(spark, spec.uri, table, dialect, driver)
        ensure_table_jvm(spark, spec.uri, df.schema, table, dialect, spec.fields, driver)
        if _embedded_jvm_db(dialect, spec.uri):
            jvm_write_rows(spark, spec.uri, table, df, dialect, driver)
            return
        writer = (
            df.write.format("jdbc")
            .option("url", spec.uri)
            # Quote: case-folding DBs (Derby uppercases unquoted names)
            # must resolve to the table OUR quoted DDL created.
            .option("dbtable", dialect.quote(table))
            .option("batchsize", batchsize)
            .option("isolationLevel", "READ_COMMITTED")
        )
        for k, v in opts.items():
            writer = writer.option(k, str(v))
        writer.mode("append").save()
        return

    # Upsert: distributed insert into a staging table, then ONE set-wise
    # MERGE executed through the driver JVM's DriverManager (the JDBC
    # driver jar is already on the Spark classpath for the staging write).
    staging = f"{table}__stage"
    drop_table_jvm(spark, spec.uri, staging, dialect, driver)
    # Staging columns reuse the spec's TYPE hints (length/max_length)
    # minus constraints: bare fields=() would type string keys as the
    # dialect's large-text (CLOB) and the MERGE equality on them fails
    # on Derby/Oracle ('comparisons between CLOB not supported').
    staging_fields = tuple(
        replace(f, unique=False, auto_increment=False) for f in spec.fields
    )
    ensure_table_jvm(
        spark, spec.uri, df.schema, staging, dialect, staging_fields, driver
    )
    ensure_table_jvm(spark, spec.uri, df.schema, table, dialect, spec.fields, driver)
    if _embedded_jvm_db(dialect, spec.uri):
        jvm_write_rows(spark, spec.uri, staging, df, dialect, driver)
    else:
        writer = (
            df.write.format("jdbc")
            .option("url", spec.uri)
            .option("dbtable", dialect.quote(staging))
            .option("batchsize", batchsize)
        )
        for k, v in opts.items():
            writer = writer.option(k, str(v))
        writer.mode("append").save()
    jvm_execute(
        spark,
        spec.uri,
        [
            dialect.merge_from_staging(table, staging, df.columns, key_cols),
            f"DROP TABLE {dialect.quote(staging)}",
        ],
        driver,
    )

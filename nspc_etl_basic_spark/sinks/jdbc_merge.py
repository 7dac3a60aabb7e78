"""Keyed upsert into a JDBC target: staging table + one server-side MERGE.

Reference parity: the reference's flagship sink merges each file into SQL
Server row-at-a-time (loader.py:1272-1338 — per-row MERGE, or
UPDATE-then-INSERT) or via a staging table + one MERGE statement
(loader.py:1340-1366). This module is the Spark-native form of the
staging path, which is also the only shape that scales:

  1. the batch DataFrame is key-deduplicated (last occurrence wins, E1
     semantics) and written to a staging table through Spark's
     distributed JDBC writer — the ONLY data-volume-proportional step,
     and it parallelizes across executors;
  2. ONE set-based ``MERGE INTO target USING staging`` runs on the
     database server (driver-side JDBC statement; no rows move through
     Spark);
  3. the true insert/update split (D2 — the reference's batch path
     admits to miscounting, loader.py:1294-1297) is computed
     server-side with one COUNT join before the merge;
  4. staging is dropped.

At 100 TB the target table never enters Spark at all — the database does
the keyed matching on its own indexes; Spark's job is bulk-loading the
(file-sized) staging rows in parallel.

``JdbcTable`` wraps both as the JDBC layout's keyed-upsert owner.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from nspc_etl_basic_spark.operators.merge import MergeCounts, dedup_last_wins
from nspc_etl_basic_spark.sinks.writer import jdbc_write

_IDENT_OK = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def _check_ident(name: str) -> str:
    """Identifiers are interpolated into driver-side SQL: restrict to the
    sanitized shape ``generate_table_name`` emits (defense against
    injection through config-supplied table/column names)."""
    if not _IDENT_OK.match(name):
        raise ValueError(f"unsafe SQL identifier: {name!r}")
    return name


def _q(name: str) -> str:
    """Double-quote a validated column identifier. Spark's JDBC writer
    quotes column names at CREATE (dialect.quoteIdentifier), making them
    case-sensitive in case-folding databases (Derby/Oracle/DB2) — every
    generated statement must quote them the same way. ANSI double quotes
    also work on SQL Server (QUOTED_IDENTIFIER defaults ON). Table names
    stay UNQUOTED: Spark passes ``dbtable`` through raw at CREATE."""
    return f'"{_check_ident(name)}"'


def render_merge_sql(
    target: str,
    staging: str,
    columns: list[str],
    key_cols: list[str],
    dialect: str = "ansi",
) -> str:
    """Render the set-based MERGE. ``ansi`` covers Derby/Postgres 15+/
    DB2/Oracle; ``sqlserver`` adds the reference target's HOLDLOCK hint
    and statement terminator (loader.py:1340-1366 builds the same
    statement against SQL Server)."""
    target, staging = _check_ident(target), _check_ident(staging)
    non_keys = [c for c in columns if c not in key_cols]
    on = " AND ".join(f"t.{_q(k)} = s.{_q(k)}" for k in key_cols)
    insert_cols = ", ".join(_q(c) for c in columns)
    insert_vals = ", ".join(f"s.{_q(c)}" for c in columns)
    hint = " WITH (HOLDLOCK)" if dialect == "sqlserver" else ""
    sql = f"MERGE INTO {target}{hint} t USING {staging} s ON ({on})"
    if non_keys:  # all-key tables have nothing to update on match
        sets = ", ".join(f"t.{_q(c)} = s.{_q(c)}" for c in non_keys)
        sql += f" WHEN MATCHED THEN UPDATE SET {sets}"
    sql += (
        f" WHEN NOT MATCHED THEN INSERT ({insert_cols}) VALUES ({insert_vals})"
    )
    if dialect == "sqlserver":
        sql += ";"
    return sql


def _connect(
    spark: SparkSession,
    url: str,
    driver: str | None,
    user: str | None = None,
    password: str | None = None,
):
    jvm = spark._jvm
    if driver:
        # ensure the driver registers with DriverManager even when the
        # jar was only service-loaded lazily
        jvm.java.lang.Class.forName(driver)
    # authenticated targets: the executor-side staging load reads
    # user/password from the Spark JDBC options, so the driver-side
    # COUNT/MERGE connection must present the same credentials (the
    # url-only overload would fail against any authenticated database)
    if user is not None:
        return jvm.java.sql.DriverManager.getConnection(
            url, user, password or ""
        )
    return jvm.java.sql.DriverManager.getConnection(url)


def _scalar(conn, sql: str) -> int:
    st = conn.createStatement()
    try:
        rs = st.executeQuery(sql)
        rs.next()
        return int(rs.getLong(1))
    finally:
        st.close()


def _execute(conn, sql: str) -> None:
    st = conn.createStatement()
    try:
        st.execute(sql)
    finally:
        st.close()


# JDBC metadata TYPE_NAME -> Spark-parseable DDL for the staging table's
# createTableColumnTypes. Sized character types keep their length; LOB-ish
# types fall back to STRING; unknowns are skipped (Spark default applies).
_SIZED_CHAR = {"VARCHAR", "NVARCHAR", "CHAR", "NCHAR", "CHARACTER", "CHAR VARYING", "CHARACTER VARYING"}
_TYPE_MAP = {
    "INTEGER": "INT", "INT": "INT", "BIGINT": "BIGINT",
    "SMALLINT": "SMALLINT", "TINYINT": "TINYINT",
    "DOUBLE": "DOUBLE", "DOUBLE PRECISION": "DOUBLE", "FLOAT": "DOUBLE",
    "REAL": "FLOAT", "BOOLEAN": "BOOLEAN", "BIT": "BOOLEAN",
    "DATE": "DATE", "TIMESTAMP": "TIMESTAMP", "DATETIME2": "TIMESTAMP",
    "DATETIME": "TIMESTAMP", "CLOB": "STRING", "TEXT": "STRING",
    "LONG VARCHAR": "STRING", "NTEXT": "STRING",
}


def introspect_sql_types(conn, table: str) -> dict[str, str]:
    """Read the target table's column types from JDBC DatabaseMetaData so
    the staging table can be created with the SAME type discipline even
    when the caller has no stored H1 DDL (the target predates this job).
    Without this the staging table falls back to Spark's default JDBC
    mapping (CLOB/NVARCHAR(MAX) for strings) and the server-side MERGE
    leans on implicit casts — which stricter dialects reject and which
    defeats index use on the join keys."""
    md = conn.getMetaData()
    out: dict[str, str] = {}
    # table names go through Spark's dbtable RAW (unquoted), so
    # case-folding databases (Derby/Oracle) store them upper-cased;
    # column names were quoted at CREATE and keep their exact case
    for probe in (table, table.upper(), table.lower()):
        rs = md.getColumns(None, None, probe, None)
        while rs.next():
            name = rs.getString("COLUMN_NAME")
            tname = (rs.getString("TYPE_NAME") or "").upper()
            if tname in _SIZED_CHAR:
                size = rs.getInt("COLUMN_SIZE")
                out[name] = f"VARCHAR({size})" if size > 0 else "STRING"
            elif tname in ("DECIMAL", "NUMERIC"):
                prec = rs.getInt("COLUMN_SIZE")
                scale = rs.getInt("DECIMAL_DIGITS")
                out[name] = f"DECIMAL({prec},{scale})"
            elif tname in _TYPE_MAP:
                out[name] = _TYPE_MAP[tname]
        rs.close()
        if out:
            break
    return out


def _table_exists(conn, table: str) -> bool:
    st = conn.createStatement()
    try:
        st.executeQuery(f"SELECT 1 FROM {_check_ident(table)} WHERE 1=0")
        return True
    except Exception:  # noqa: BLE001 — missing table surfaces as SQLException
        return False
    finally:
        st.close()


def jdbc_upsert(
    spark: SparkSession,
    df: DataFrame,
    url: str,
    table: str,
    key_cols: list[str],
    sql_types: dict[str, str] | None = None,
    options: dict | None = None,
    staging_table: str | None = None,
    dialect: str = "ansi",
    batch_size: int = 1000,
) -> MergeCounts:
    """Upsert ``df`` into JDBC ``table`` keyed on ``key_cols``; returns
    the true insert/update split. Creates the target (with the H1
    ``sql_types`` DDL when given) if it does not exist yet."""
    table = _check_ident(table)
    staging = _check_ident(staging_table or f"{table}_stg")
    driver = (options or {}).get("driver")
    user = (options or {}).get("user")
    password = (options or {}).get("password")

    deduped = dedup_last_wins(df, key_cols)
    engine_cols = [c for c in deduped.columns if c.startswith("__")]
    if engine_cols:
        deduped = deduped.drop(*engine_cols)

    conn = _connect(spark, url, driver, user, password)
    try:
        if not _table_exists(conn, table):
            jdbc_write(
                deduped, url, table, mode="drop_recreate",
                sql_types=sql_types, options=options, batch_size=batch_size,
            )
            return MergeCounts(inserted=deduped.count(), updated=0)

        # distributed bulk load of the (file-sized) staging rows; the
        # staging table inherits the target's type discipline — from the
        # caller's H1 DDL when given, else introspected off the live
        # target — so the server-side MERGE casts nothing implicitly
        staging_types = sql_types or {
            c: t
            for c, t in introspect_sql_types(conn, table).items()
            if c in deduped.columns
        } or None
        jdbc_write(
            deduped, url, staging, mode="drop_recreate",
            sql_types=staging_types, options=options, batch_size=batch_size,
        )
        on = " AND ".join(f"t.{_q(k)} = s.{_q(k)}" for k in key_cols)
        updated = _scalar(
            conn,
            f"SELECT COUNT(*) FROM {staging} s JOIN {table} t ON {on}",
        )
        total = _scalar(conn, f"SELECT COUNT(*) FROM {staging}")
        _execute(
            conn,
            render_merge_sql(table, staging, deduped.columns, key_cols, dialect),
        )
        _execute(conn, f"DROP TABLE {staging}")
        return MergeCounts(inserted=total - updated, updated=updated)
    finally:
        conn.close()


def _recorded_ddl(df: DataFrame) -> dict[str, str] | None:
    """The H1 types ``infer_schema`` recorded on ``df``'s fields."""
    return {
        f.name: f.metadata["sql_type"]
        for f in df.schema.fields
        if "sql_type" in f.metadata
    } or None


class JdbcTable:
    """One JDBC table's keyed-upsert owner (sinks/writer.py), built from
    the deployment's connection settings (``options``: driver, user,
    password). A table that ``merge`` or ``write`` creates gets the H1
    DDL recorded on the source's fields."""

    def __init__(
        self,
        spark: SparkSession,
        url: str,
        table: str,
        pk_cols: list[str],
        options: dict | None = None,
        dialect: str = "ansi",
        batch_size: int = 1000,
    ):
        self.spark = spark
        self.url = url
        self.table = table
        self.pk_cols = list(pk_cols)
        self.options = dict(options or {})
        self.dialect = dialect
        self.batch_size = int(batch_size)

    def schema(self) -> StructType | None:
        """The existing table's schema, or None when it does not exist."""
        reader = (
            self.spark.read.format("jdbc")
            .option("url", self.url)
            .option("dbtable", self.table)
        )
        for k, v in self.options.items():
            reader = reader.option(k, v)
        try:
            return reader.load().schema
        except Exception:  # noqa: BLE001 — missing table surfaces as an analysis error
            return None

    def merge(self, source: DataFrame) -> MergeCounts:
        return jdbc_upsert(
            self.spark, source, self.url, self.table, self.pk_cols,
            sql_types=_recorded_ddl(source), options=self.options,
            dialect=self.dialect, batch_size=self.batch_size,
        )

    def write(self, df: DataFrame, mode: str) -> None:
        df = df.select([c for c in df.columns if not c.startswith("__")])
        jdbc_write(
            df, self.url, self.table, mode=mode, sql_types=_recorded_ddl(df),
            options=self.options, batch_size=self.batch_size,
        )

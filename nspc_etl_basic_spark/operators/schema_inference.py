"""Schema inference (SURVEY.md §2 C1-C4 + ``infer_sql_types``).

Two-phase design, mirroring the reference's cost model
(loader.py:696-747) but distributed:

  1. FULL-SCAN aggregation (one Spark job, one pass): per-column
     ``max(length(value))`` (C1), any-null (C2), row count (C3). At 100 TB
     this is a single map-side-combined aggregate over the scan — no
     shuffle beyond the final 1-row reduce.
  2. SAMPLE analysis over ``limit(sample_rows)`` (default 1000,
     loader.py:729): type-conformance flags (C4). The sample is collected
     to the driver and analyzed with exact CPython ``int()`` /
     ``Decimal()`` / ``strptime`` semantics — the sample is bounded by
     config, so this is O(1000 rows) of driver work regardless of table
     size, NOT a collect-the-table antipattern.

Type resolution priority (loader.py:813-853): datetime > integer >
decimal > string, with NVARCHAR length bucketing 50/100/255/500/
``max(1000, len+100)`` (loader.py:831-846) and per-column manual override
(``disputed_columns``, loader.py:806-811).

Deviation (documented, SURVEY.md §7.1 M2): the reference accidentally never
infers datetime for pandas-object (i.e. CSV string) columns
(loader.py:716-726; admitted in test/TEST_RESULTS_SUMMARY.md:57-69). We
implement the *intended* semantics — datetime patterns evaluated over string
samples. Set ``loader.legacy_string_columns_never_datetime: true`` to
reproduce the reference's accidental behavior.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from decimal import ROUND_HALF_UP, Decimal, InvalidOperation

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from nspc_etl_basic_spark.config import table_override_max_length
from nspc_etl_basic_spark.functions.casting import parse_datetime_py


@dataclass
class ColumnStats:
    """Per-column flag record (reference columns_info, loader.py:704-713)."""

    name: str
    max_length: int = 0
    has_nulls: bool = False
    all_integer: bool = True
    all_decimal: bool = True
    all_datetime: bool = True
    non_null_sampled: int = 0
    sample_values: list = field(default_factory=list)

    @property
    def sql_type(self) -> str:
        raise NotImplementedError  # resolved by InferredSchema (needs config)


@dataclass
class InferredSchema:
    columns: dict[str, ColumnStats]
    total_rows: int
    sql_types: dict[str, str]
    struct: T.StructType


_INT_RE = re.compile(r"[+-]?[0-9]+")

#: what Spark's internal ``UTF8String.trimAll`` removes before a numeric
#: cast: every codepoint <= U+0020 (ASCII space + control chars). NOT
#: Unicode whitespace — ``\xa0`` etc. stay and fail the parse.
_TRIM_ALL_CHARS = "".join(chr(c) for c in range(0x21))


def _is_int_py(value: str) -> bool:
    """B5 under the engine's cast contract. The reference uses bare
    ``int()`` (loader.py:760-764), which also accepts ``' 1_000 '``,
    Unicode digits, and unbounded magnitude — values the engine's JVM cast
    (ASCII regex + int64 ``try_cast``, operators/cast.py) rejects.
    Inference must never promise a type the cast stage can't deliver
    (strict mode would reject the whole file), so this predicate mirrors
    the cast EXACTLY; the divergence from ``int()`` on those exotic inputs
    is a documented deviation-to-correctness (SURVEY.md §7.2). Pinned
    value-by-value against the Spark expressions in
    tests/test_properties.py.

    Whitespace: the cast is ``F.trim`` (strips U+0020 ONLY) + ASCII regex,
    so the predicate strips only spaces — a Unicode-aware ``.strip()``
    would accept ``'\\t12'``/``'\\xa07'`` that the cast rejects, and strict
    mode would then reject the entire file."""
    v = value.strip(" ")
    if not _INT_RE.fullmatch(v):
        return False
    return -(2**63) <= int(v) < 2**63


def _is_decimal_py(value: str) -> bool:
    """B6 under the engine's cast contract: mirrors Spark
    ``try_cast(v AS DECIMAL(18,4))`` — accepts scientific notation and
    anything ``Decimal()`` parses EXCEPT underscores and non-finite
    values, requires the value to fit (18,4) after HALF_UP rounding to
    scale 4. (Bare ``Decimal()`` — the reference's check,
    loader.py:766-771 — would also accept ``'Infinity'``/``'NaN'``/
    ``'1_0'`` and unbounded magnitude; same deviation rationale as
    ``_is_int_py``.)

    Whitespace: Spark's string->decimal cast trims via ``trimAll``
    (codepoints <= U+0020), so mirror that exactly; any RESIDUAL ends-
    whitespace (e.g. ``\\xa0``) fails Spark's parse but would be stripped
    by ``Decimal()``'s Unicode-aware parsing — reject it explicitly."""
    v = value.strip(_TRIM_ALL_CHARS)
    if v != v.strip():
        return False
    if "_" in v:
        return False
    try:
        d = Decimal(v)
    except (ValueError, InvalidOperation):
        return False
    if not d.is_finite():
        return False
    try:
        q = d.quantize(Decimal("1e-4"), rounding=ROUND_HALF_UP)
    except InvalidOperation:
        return False  # needs more digits than (18,4) can hold
    return abs(q) < Decimal(10) ** 14


def _bucket_length(max_len: int) -> int:
    """NVARCHAR bucketing (loader.py:831-846)."""
    if max_len <= 50:
        return 50
    if max_len <= 100:
        return 100
    if max_len <= 255:
        return 255
    if max_len <= 500:
        return 500
    return max(1000, max_len + 100)


_SQL_TO_SPARK = {
    "DATETIME2": T.TimestampType(),
    "INT": T.LongType(),  # reference emits INT; we widen for 100TB safety
    "DECIMAL(18,4)": T.DecimalType(18, 4),
}


def infer_schema(
    df: DataFrame,
    table_name: str = "",
    config: dict | None = None,
    sample_rows: int | None = None,
) -> InferredSchema:
    """Analyze an all-string DataFrame and resolve its schema.

    Returns the reference-equivalent ``columns_info`` stats, SQL type strings
    (for JDBC DDL parity) and the Spark ``StructType`` the cast stage uses.
    """
    config = config or {}
    loader_cfg = config.get("loader", {})
    n_sample = sample_rows or loader_cfg.get("inference_sample_rows", 1000)
    legacy = bool(loader_cfg.get("legacy_string_columns_never_datetime", False))
    not_null = set(config.get("ddl", {}).get("not_null_columns", []))

    cols = [c for c in df.columns if not c.startswith("__")]
    stats = {c: ColumnStats(name=c) for c in cols}

    # ---- phase 1: full-scan aggregation (C1, C2, C3) — single pass
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        sc = F.col(c).cast("string")
        aggs.append(F.max(F.length(sc)).alias(f"len__{c}"))
        aggs.append(F.max(F.col(c).isNull().cast("int")).alias(f"null__{c}"))
    row = df.agg(*aggs).collect()[0].asDict()
    total_rows = row["__n"]
    for c in cols:
        stats[c].max_length = int(row[f"len__{c}"] or 0)
        stats[c].has_nulls = bool(row[f"null__{c}"])

    # ---- phase 2: bounded sample analysis (C4) with exact Python semantics
    sample = df.select(*cols).limit(n_sample).collect()
    for r in sample:
        d = r.asDict()
        for c in cols:
            st = stats[c]
            v = d[c]
            if v is None or (isinstance(v, str) and v.strip() == ""):
                st.has_nulls = True
                continue
            v = str(v)
            st.non_null_sampled += 1
            if len(st.sample_values) < 10:
                st.sample_values.append(v)
            if st.all_integer and not _is_int_py(v):
                st.all_integer = False
            if st.all_decimal and not st.all_integer and not _is_decimal_py(v):
                # reference nests decimal check under int failure; net flag
                # semantics are identical: all_decimal = every value passes
                # int() or Decimal()
                st.all_decimal = False
            if st.all_datetime and parse_datetime_py(v) is None:
                st.all_datetime = False

    # columns with no non-null sampled values: reference keeps flags True and
    # datetime wins -> DATETIME2 only for truly all-null sampled columns of a
    # non-object dtype; for our all-string reads the reference behavior is
    # NVARCHAR(50) (empty column default, loader.py:840). Match that.
    for st in stats.values():
        if st.non_null_sampled == 0:
            st.all_integer = st.all_decimal = st.all_datetime = False
        if legacy:
            st.all_datetime = False

    # ---- resolution (loader.py:813-853)
    sql_types: dict[str, str] = {}
    fields: list[T.StructField] = []
    for c in cols:
        st = stats[c]
        if st.all_datetime:
            sql = "DATETIME2"
        elif st.all_integer:
            sql = "INT"
        elif st.all_decimal:
            sql = "DECIMAL(18,4)"
        else:
            manual = table_override_max_length(config, table_name, c)
            length = manual if manual else _bucket_length(st.max_length)
            sql = f"NVARCHAR({length})"
        sql_types[c] = sql
        spark_type = _SQL_TO_SPARK.get(sql, T.StringType())
        fields.append(
            T.StructField(
                c,
                spark_type,
                nullable=c not in not_null,
                metadata={"sql_type": sql},
            )
        )

    return InferredSchema(
        columns=stats,
        total_rows=total_rows,
        sql_types=sql_types,
        struct=T.StructType(fields),
    )

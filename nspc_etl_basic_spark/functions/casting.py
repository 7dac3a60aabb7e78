"""Scalar casting/predicate functions (SURVEY.md §2 B2-B6, B9).

All hot-path expressions are built-in ``pyspark.sql.functions`` compositions —
JVM-side, whole-stage-codegen friendly. The only Python here is the
driver-side mirror ``parse_datetime_py`` used on bounded (≤1000-row)
inference samples, where exact CPython ``strptime`` semantics are the spec.

Reference parity:
  - ordered 6-pattern datetime chain (loader.py:1142-1167 / :788-804);
    ``MM/dd`` tried before ``dd-MM`` — precedence is semantic.
  - empty / whitespace / ``'nan'`` strings are null for datetime purposes
    (loader.py:785-786, :1116-1117).
  - integer test is Python ``int()`` strictness: ``1.0`` is NOT an integer
    (loader.py:760-764) — hence the regex guard, because a bare Spark cast
    of ``'1.0'`` to long would succeed.
  - decimal test is ``Decimal()`` acceptance incl. scientific notation
    (loader.py:766-771); values outside DECIMAL(18,4) range degrade to
    string here (the reference would emit DDL that fails at insert —
    documented deviation-to-correctness, SURVEY.md §7.2).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Column
from pyspark.sql import functions as F

# strptime patterns in reference order (loader.py:788-795)
DATETIME_PATTERNS_PY: list[str] = [
    "%Y-%m-%d %H:%M:%S",
    "%Y-%m-%d",
    "%m/%d/%Y %H:%M:%S",
    "%m/%d/%Y",
    "%d-%m-%Y %H:%M:%S",
    "%d-%m-%Y",
]

# the same patterns as Spark/Java DateTimeFormatter patterns, same order
DATETIME_PATTERNS_SPARK: list[str] = [
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd",
    "MM/dd/yyyy HH:mm:ss",
    "MM/dd/yyyy",
    "dd-MM-yyyy HH:mm:ss",
    "dd-MM-yyyy",
]


def null_normalized(col: Column) -> Column:
    """B9: empty / whitespace-only strings -> NULL, else trimmed-preserving
    original value (the reference keeps the raw string for non-date types;
    trimming is applied only inside the predicates)."""
    return F.when(F.trim(col) == "", F.lit(None)).otherwise(col)


def _date_candidate(col: Column) -> Column:
    """Datetime-eligible value: non-null, non-blank, not 'nan' (B9 guard)."""
    t = F.trim(col)
    return F.when(t.isNull() | (t == "") | (F.lower(t) == "nan"), F.lit(None)).otherwise(t)


def parse_datetime_col(col: Column) -> Column:
    """B3: ordered multi-format datetime parse -> TimestampType (null when
    no pattern matches). ``try_to_timestamp`` keeps this ANSI-safe."""
    c = _date_candidate(col)
    return F.coalesce(
        *[F.try_to_timestamp(c, F.lit(p)) for p in DATETIME_PATTERNS_SPARK]
    )


def parse_datetime_py(value: str | None) -> datetime | None:
    """Exact reference ``_parse_datetime`` semantics (loader.py:1142-1167)
    for driver-side sample analysis."""
    if not isinstance(value, str):
        return None
    if not value.strip() or value.lower().strip() == "nan":
        return None
    for pattern in DATETIME_PATTERNS_PY:
        try:
            return datetime.strptime(value, pattern)
        except ValueError:
            continue
    return None

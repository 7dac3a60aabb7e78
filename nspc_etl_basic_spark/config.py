"""YAML configuration, drop-in compatible with the reference config shape.

The reference consumes a YAML file (reference ``src/loader_config.yaml:1-75``)
with sections ``database / loader / ddl / logging / job_statistics /
error_logging / batch_processing / tables / email_notifications``. We accept
the same shape so reference configs work unchanged and default everything so
an empty config is valid. Session tuning is done through ``get_spark``'s
arguments, not here; unknown sections (an old ``spark`` one) load unchanged.
"""

from __future__ import annotations

import copy
import uuid
from typing import Any

try:
    import yaml  # PyYAML ships with pyspark images; gate anyway
except ImportError:  # pragma: no cover
    yaml = None

DEFAULT_CONFIG: dict[str, Any] = {
    "database": {
        # Spark-native default: parquet warehouse dir. 'jdbc' supported.
        "type": "parquet",
        "warehouse_path": "warehouse",
        # JDBC options (used when type == 'jdbc')
        "url": None,
        "driver": None,
        "user": None,
        "password": None,
    },
    "loader": {
        # 'drop_recreate' | 'append' | 'upsert' | 'fail'
        "table_mode": "drop_recreate",
        "batch_size": 1000,
        # reference main() default (loader.py:1579); raise via config/CLI
        "max_retries": 1,
        "max-row-errors": 100,
        # 'strict' (all-or-nothing per file) | 'tolerant' (threshold)
        "transaction_mode": "strict",
        # upsert key columns (reference test/test_upsert_config.yaml:17)
        "primary_key_columns": ["id"],
        # sample size for type inference (reference loader.py:729)
        "inference_sample_rows": 1000,
        # reproduce the reference's accidental "CSV dates stay NVARCHAR"
        # behavior (SURVEY.md §1.2 subtlety 2) when True
        "legacy_string_columns_never_datetime": False,
    },
    "ddl": {"not_null_columns": []},
    "job_statistics": {"enabled": True, "table_name": "EtlJobStatistics"},
    "error_logging": {"enabled": True, "table_name": "EtlJobError"},
    "batch_processing": {
        "enable_checkpointing": True,
        "resume_incomplete_batches": True,
        "max_resume_age_hours": 24,
        "batch_table_name": "EtlBatchJobStatistics",
    },
    "tables": {},
    # round-4 extension: declarative data-quality constraint suite run on
    # the VALID (cast) rows before the sink. Each check: {name, type,
    # column | columns, lo?, hi?, pattern?, exact?}; type in completeness/
    # uniqueness/min/max/mean/compliance. action 'log' records results;
    # 'fail' also fails the file load on any violation (strict-rollback
    # semantics: the target is untouched).
    "quality": {
        "checks": [],
        "action": "log",
        "table_name": "EtlQualityCheck",
    },
    # per-file log artifacts (logs/process_<stem>_<jobid>.log and
    # failed-row logs/<stem>_<jobid>.txt, reference loader.py:69-101, 1049)
    "logging": {"enabled": True},
    "email_notifications": {"enabled": False},
}


def _deep_merge(base: dict, override: dict) -> dict:
    out = copy.deepcopy(base)
    for k, v in (override or {}).items():
        if isinstance(v, dict) and isinstance(out.get(k), dict):
            out[k] = _deep_merge(out[k], v)
        else:
            out[k] = v
    return out


def load_config(path: str | None = None, overrides: dict | None = None) -> dict:
    """Load YAML config merged over defaults (reference ``load_config``,
    loader.py:145-159). A fresh ``job_run_id`` is injected per call, matching
    the reference's uuid-per-run identity (loader.py:1512-1514)."""
    cfg: dict[str, Any] = {}
    if path is not None:
        if yaml is None:
            raise RuntimeError("PyYAML not available; pass overrides instead")
        with open(path, encoding="utf-8") as fh:
            cfg = yaml.safe_load(fh) or {}
    merged = _deep_merge(DEFAULT_CONFIG, cfg)
    if overrides:
        merged = _deep_merge(merged, overrides)
    merged["job_run_id"] = str(uuid.uuid4())
    return merged


def table_override_max_length(config: dict, table: str, column: str) -> int | None:
    """Per-table, per-column manual max_length (``disputed_columns``,
    reference loader.py:806-811)."""
    try:
        return int(
            config["tables"][table]["disputed_columns"][column]["max_length"]
        )
    except (KeyError, TypeError, ValueError):
        return None

"""One keyed-upsert owner per table layout (sinks/writer.py module
docstring): the same file sequence through ``process_file`` lands the
same rows, with the same per-file counts, in the snapshot, bucketed and
JDBC layouts; and no loader or streaming module writes a merge of its
own."""

from __future__ import annotations

import ast
import os
from decimal import Decimal

from nspc_etl_basic_spark import load_config
from nspc_etl_basic_spark.plans.pipeline import process_file
from nspc_etl_basic_spark.sinks.bucketed_merge import BucketedTable
from nspc_etl_basic_spark.sinks.writer import ParquetWarehouse

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DERBY_DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"
LAYOUTS = ("snapshot", "bucketed", "jdbc")

#: every file repeats a key (the last occurrence wins); the later two
#: each carry one row that fails the existing table's types
FILES = (
    "id,name,amount\n1,a,1.5\n2,b,2.5\n2,b2,2.75\n3,c,3.5\n",
    "id,name,amount\n3,c2,3.25\n4,d,4.5\n4,d2,4.75\n5,e,bad\n",
    "id,name,amount\n1,a3,1.125\n6,f,6.5\n1,a4,1.25\nx,g,7.5\n",
)


def _database(layout: str, root) -> dict:
    db = {"warehouse_path": str(root / "wh")}
    if layout == "bucketed":
        db.update(layout="bucketed", n_buckets=4)
    elif layout == "jdbc":
        db.update(type="jdbc", url=f"jdbc:derby:{root}/db;create=true", driver=DERBY_DRIVER)
    return db


def _table_rows(spark, layout: str, db: dict) -> list[tuple]:
    if layout == "snapshot":
        df = ParquetWarehouse(spark, db["warehouse_path"]).read("items")
    elif layout == "bucketed":
        path = os.path.join(db["warehouse_path"], "items")
        df = BucketedTable(spark, path, ["id"], n_buckets=4).read()
    else:
        df = (
            spark.read.format("jdbc").option("url", db["url"])
            .option("dbtable", "items").option("driver", DERBY_DRIVER).load()
        )
    return sorted(tuple(r) for r in df.select("id", "name", "amount").collect())


def test_process_file_lands_the_same_in_every_layout(spark, tmp_path):
    outcomes = {}
    for layout in LAYOUTS:
        root = tmp_path / layout
        root.mkdir()
        db = _database(layout, root)
        cfg = load_config(overrides={
            "database": db,
            "loader": {
                "table_mode": "upsert",
                "transaction_mode": "tolerant",
                "primary_key_columns": ["id"],
                "override_table_name": "items",
            },
        })
        counts = []
        for i, text in enumerate(FILES):
            path = root / f"f{i}.csv"
            path.write_text(text)
            r = process_file(spark, str(path), cfg, move_files=False)
            assert r.status == "Completed", (layout, r.error_message)
            counts.append((r.rows_inserted, r.rows_updated, r.rows_failed))
        outcomes[layout] = counts, _table_rows(spark, layout, db)

    assert outcomes["snapshot"] == (
        [(3, 0, 0), (1, 1, 1), (1, 1, 1)],
        [
            (1, "a4", Decimal("1.2500")),
            (2, "b2", Decimal("2.7500")),
            (3, "c2", Decimal("3.2500")),
            (4, "d2", Decimal("4.7500")),
            (6, "f", Decimal("6.5000")),
        ],
    )
    assert outcomes["bucketed"] == outcomes["snapshot"]
    assert outcomes["jdbc"] == outcomes["snapshot"]


def _called_name(call: ast.Call) -> str | None:
    f = call.func
    return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)


def test_only_table_owners_merge():
    """The loader and the streaming sinks upsert through a layout's
    owner (``merge``); a ``merge_upsert(`` call under ``plans/`` or
    ``streaming/`` is a hand-rolled copy of the owner's merge."""
    found = []
    for sub in ("plans", "streaming"):
        for root, _, files in os.walk(os.path.join(REPO, "nspc_etl_basic_spark", sub)):
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                path = os.path.join(root, f)
                with open(path, encoding="utf-8") as fh:
                    tree = ast.parse(fh.read(), path)
                found += [
                    f"{os.path.relpath(path, REPO)}:{n.lineno}"
                    for n in ast.walk(tree)
                    if isinstance(n, ast.Call) and _called_name(n) == "merge_upsert"
                ]
    assert not found, "merge through the table owner: " + ", ".join(found)

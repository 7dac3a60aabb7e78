"""The driver oracles the FIRST 50 queries() entries per round, and
queries() ranks itself live from the correctness ledgers and the
round-end code-hash dumps (never-checked > red > code-changed-since-row
> oldest row) — so a new or edited query can't silently sit one slot
past the window (round 5's events_zorder_layout miss), and a newly
landed ledger reorders the window with no manual step."""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

import __spark_entry__ as entry  # noqa: E402
import window_order  # noqa: E402

_RANKED, _CAT = window_order.compute_ranking(entry)


def test_never_checked_and_red_lead_the_window():
    ranked, cat = _RANKED, _CAT
    urgent = [k for k in ranked if cat[k] in ("cat0", "cat1")]
    window = list(entry.queries())[: window_order.WINDOW_SIZE]
    missing = [k for k in urgent if k not in window]
    assert not missing, (
        f"never-checked/red queries outside the driver window: {missing}"
    )


def test_registry_covers_ranking():
    # every ranked key resolves to a registry entry and vice versa
    assert sorted(_RANKED) == sorted(entry.queries())


def _green_round_99(tmp_path, monkeypatch, dump_round):
    """Real ledgers and dumps plus a round-99 ledger that rows the
    current window green at the current code, whose hashes are dumped as
    hashes_r{dump_round}.json. Returns the window before round 99."""
    for pattern in (window_order.LEDGER_GLOB, window_order.HASHES_GLOB):
        for path in glob.glob(pattern):
            shutil.copy(path, tmp_path)
    window = list(entry.queries())[: window_order.WINDOW_SIZE]
    cur = window_order.current_hashes(entry)
    green = {"rows_match": True, "schema_match": True, "hash_match": True,
             "err": None}
    (tmp_path / "CORRECTNESS_r99.json").write_text(
        json.dumps({k: green for k in window})
    )
    (tmp_path / f"hashes_r{dump_round}.json").write_text(
        json.dumps({k: cur[k] for k in window})
    )
    monkeypatch.setattr(
        window_order, "LEDGER_GLOB", str(tmp_path / "CORRECTNESS_r*.json")
    )
    monkeypatch.setattr(
        window_order, "HASHES_GLOB", str(tmp_path / "hashes_r*.json")
    )
    return window


def test_new_ledger_reorders_the_window(tmp_path, monkeypatch):
    # a round-99 ledger rows the current window green at the current
    # code: those 50 keys become the freshest cat3 rows and leave the
    # window, with nothing re-emitted
    window = _green_round_99(tmp_path, monkeypatch, dump_round=99)
    order = list(entry._ledger_ordered.__wrapped__())
    ranked, cat = window_order.compute_ranking(entry)
    assert order == ranked
    assert not set(order[: window_order.WINDOW_SIZE]) & set(window)
    assert {cat[k] for k in window} == {"cat3"}


def test_window_rotates_without_the_rounds_hash_dump(tmp_path, monkeypatch):
    # round 99 has no dump: its rows are compared with the newest earlier
    # dump (round 98 holds the same code), so the window still moves on
    window = _green_round_99(tmp_path, monkeypatch, dump_round=98)
    with pytest.warns(UserWarning, match="hashes_r99.json is missing"):
        ranked, cat = window_order.compute_ranking(entry)
    assert not set(ranked[: window_order.WINDOW_SIZE]) & set(window)
    assert {cat[k] for k in window} == {"cat3"}


def test_hashes_do_not_depend_on_the_process():
    # the order is computed in pytest, bench and driver processes alike;
    # a bare process must hash exactly what this (import-heavy) one does
    out = subprocess.run(
        [sys.executable, "scripts/window_order.py", "--dump-hashes"],
        cwd=REPO,
        capture_output=True,
        text=True,
        check=True,
    )
    assert json.loads(out.stdout) == window_order.current_hashes(entry)

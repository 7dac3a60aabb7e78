"""``_build_once``: the one build-once protocol behind the driver's
cached trees (streaming replays, corpus assets, table fixtures). No
Spark: the build callback writes a plain file, and the temp dir is
redirected to the test's own directory."""

from __future__ import annotations

import os
import tempfile

import pytest

import __spark_entry__ as entry


def _dep_a():
    return "a"


def _dep_b():
    return "b"


@pytest.fixture
def tmp_root(tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    sf = tmp_path / "sf0.001"
    sf.mkdir()
    (sf / "t.parquet").write_bytes(b"rows")
    return tmp_path, str(sf)


def _writer(calls: list):
    def build(work: str) -> None:
        calls.append(work)
        with open(os.path.join(work, "payload"), "w") as fh:
            fh.write("built")

    return build


def _entries(root) -> list[str]:
    return sorted(p.name for p in root.iterdir() if p.name != "sf0.001")


def test_finished_tree_is_reused_without_building(tmp_root):
    root, sf = tmp_root
    calls: list = []
    work = entry._build_once(sf, "tag", "t", (_dep_a,), _writer(calls))
    again = entry._build_once(sf, "tag", "t", (_dep_a,), _writer(calls))
    assert again == work and len(calls) == 1
    assert open(os.path.join(work, "payload")).read() == "built"
    # the private build dir was renamed onto the keyed path
    assert _entries(root) == [os.path.basename(work)]


def test_failed_build_leaves_nothing_and_the_next_call_rebuilds(tmp_root):
    root, sf = tmp_root

    def broken(work: str) -> None:
        with open(os.path.join(work, "half"), "w") as fh:
            fh.write("partial")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        entry._build_once(sf, "tag", "t", (_dep_a,), broken)
    assert _entries(root) == []
    calls: list = []
    work = entry._build_once(sf, "tag", "t", (_dep_a,), _writer(calls))
    assert len(calls) == 1 and os.listdir(work) == ["payload"]


def test_changed_deps_build_a_new_tree_and_sweep_the_old(tmp_root):
    root, sf = tmp_root
    calls: list = []
    old = entry._build_once(sf, "tag", "t", (_dep_a,), _writer(calls))
    # another tag's tree is not this key's sibling and stays
    other = entry._build_once(sf, "other", "t", (_dep_a,), _writer(calls))
    new = entry._build_once(sf, "tag", "t", (_dep_b,), _writer(calls))
    assert new != old and len(calls) == 3
    assert not os.path.exists(old)
    assert os.path.isdir(new) and os.path.isdir(other)


def test_sweep_spares_builds_in_progress_and_drops_finished_legacy(
    tmp_root,
):
    root, sf = tmp_root
    hex12 = "0123456789ab"
    done_era = root / f"nspc_replay_tag_sf0.001_{hex12}"
    (done_era / "wh").mkdir(parents=True)
    (done_era / "_DONE").write_text("ok")
    # a _DONE-era build another checkout is still writing
    in_progress = root / "nspc_replay_tag_sf0.001_ba9876543210"
    (in_progress / "wh").mkdir(parents=True)
    fixture = root / f"nspc_tt_{hex12}"
    fixture.mkdir()
    # this protocol's private build dir from another driver
    private = root / "nspc_build_tag_sf0.001_xyz"
    private.mkdir()
    entry._build_once(sf, "tag", "t", (_dep_a,), _writer([]))
    assert not done_era.exists() and not fixture.exists()
    assert in_progress.exists() and private.exists()


def test_lost_publish_race_uses_the_winners_tree(tmp_root):
    root, sf = tmp_root
    calls: list = []
    keyed: list = []

    def racing(work: str) -> None:
        # another driver publishes the same key while this one builds
        winner = entry._build_once(sf, "tag", "t", (_dep_a,), _writer(calls))
        keyed.append(winner)
        with open(os.path.join(work, "payload"), "w") as fh:
            fh.write("loser")

    work = entry._build_once(sf, "tag", "t", (_dep_a,), racing)
    assert work == keyed[0]
    assert open(os.path.join(work, "payload")).read() == "built"
    assert _entries(root) == [os.path.basename(work)]

"""The slow-tier hook in conftest.py matches ``tests/slow_tests.txt`` by
repo-relative file path, whatever pytest's rootdir is, and fails
collection when an entry of a fully collected file matches no collected
test (a rename, a path change or a deleted test would otherwise drop
the mark or leave a stale line silently)."""

from __future__ import annotations

from pathlib import Path

import pytest

import conftest

ROOT = Path(__file__).resolve().parent.parent
LISTED = "tests/test_api.py::TestGetDatasets::test_no_filters_returns_all_sorted"


class _Item:
    def __init__(self, nodeid_root: Path, rel: str, name: str):
        self.path = ROOT / rel
        self.nodeid = f"{(ROOT / rel).relative_to(nodeid_root).as_posix()}::{name}"
        self.markers = []

    def add_marker(self, m):
        self.markers.append(m.name)


class _Config:
    args = ["tests/"]


@pytest.fixture()
def listed(monkeypatch):
    """The manifest narrowed to LISTED, so the other entries of its file
    do not count as stale in these synthetic collections."""
    assert LISTED in conftest._slow_bases()
    monkeypatch.setattr(conftest, "_slow_bases", lambda: {LISTED})
    return LISTED.split("::", 1)


@pytest.mark.parametrize("rootdir", [ROOT, ROOT / "tests"], ids=["repo", "tests"])
def test_listed_id_marked_under_any_rootdir(rootdir, listed):
    file, name = listed
    slow = _Item(rootdir, file, name + "[param]")
    fast = _Item(rootdir, file, "TestGetDatasets::test_not_listed")
    conftest.pytest_collection_modifyitems(_Config(), [slow, fast])
    assert slow.markers == ["slow"]
    assert fast.markers == []


def test_listed_file_with_no_match_fails_collection(listed):
    item = _Item(ROOT, "tests/test_api.py", "TestRenamed::test_gone")
    with pytest.raises(pytest.UsageError, match="tests/test_api.py"):
        conftest.pytest_collection_modifyitems(_Config(), [item])


def test_stale_entry_beside_a_matching_one_fails_collection(monkeypatch, listed):
    """One matching entry of a file does not excuse another entry of the
    same file that matches nothing (a deleted test's stale line)."""
    file, name = listed
    stale = f"{file}::TestGetDatasets::test_deleted"
    monkeypatch.setattr(conftest, "_slow_bases", lambda: {LISTED, stale})
    item = _Item(ROOT, file, name)
    with pytest.raises(pytest.UsageError, match="test_deleted"):
        conftest.pytest_collection_modifyitems(_Config(), [item])
    assert item.markers == ["slow"]


def test_node_id_selection_is_not_checked(listed):
    item = _Item(ROOT, "tests/test_api.py", "TestRenamed::test_gone")
    config = _Config()
    config.args = ["tests/test_api.py::TestRenamed::test_gone"]
    conftest.pytest_collection_modifyitems(config, [item])
    assert item.markers == []

"""The slow-tier hook in conftest.py matches ``tests/slow_tests.txt`` by
repo-relative file path, whatever pytest's rootdir is, and fails
collection when a listed file is collected but none of its entries
matched (a rename or path change would otherwise drop the marks
silently)."""

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


@pytest.mark.parametrize("rootdir", [ROOT, ROOT / "tests"], ids=["repo", "tests"])
def test_listed_id_marked_under_any_rootdir(rootdir):
    assert LISTED in conftest._slow_bases()
    file, name = LISTED.split("::", 1)
    slow = _Item(rootdir, file, name + "[param]")
    fast = _Item(rootdir, file, "TestGetDatasets::test_not_listed")
    conftest.pytest_collection_modifyitems(_Config(), [slow, fast])
    assert slow.markers == ["slow"]
    assert fast.markers == []


def test_listed_file_with_no_match_fails_collection():
    item = _Item(ROOT, "tests/test_api.py", "TestRenamed::test_gone")
    with pytest.raises(pytest.UsageError, match="tests/test_api.py"):
        conftest.pytest_collection_modifyitems(_Config(), [item])


def test_node_id_selection_is_not_checked():
    item = _Item(ROOT, "tests/test_api.py", "TestRenamed::test_gone")
    config = _Config()
    config.args = ["tests/test_api.py::TestRenamed::test_gone"]
    conftest.pytest_collection_modifyitems(config, [item])
    assert item.markers == []

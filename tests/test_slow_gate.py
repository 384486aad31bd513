"""The slow-test gate in conftest.py: which values of
SPARK_GRAFT_SLOW_TESTS turn slow tests on, and which command-line node
ids name a slow test so that it runs anyway."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest

from conftest import _named_on_command_line, _slow_tests_enabled


@pytest.mark.parametrize(
    "value, enabled",
    [(None, False), ("", False), ("0", False), ("false", False), ("no", False),
     ("1", True), ("true", True), ("YES", True), (" yes ", True)],
)
def test_slow_tests_env_value(monkeypatch, value, enabled):
    if value is None:
        monkeypatch.delenv("SPARK_GRAFT_SLOW_TESTS", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_SLOW_TESTS", value)
    assert _slow_tests_enabled() is enabled


def _item(nodeid: str, root: str):
    path = os.path.join(root, nodeid.split("::")[0])
    return SimpleNamespace(nodeid=nodeid, path=path)


@pytest.mark.parametrize(
    "args, named",
    [
        (["tests/test_pq.py::test_slow"], True),
        (["tests/test_pq.py::test_slow[2]"], False),
        (["tests/test_pq.py::TestA"], False),
        (["tests/test_pq.py"], False),
        (["tests/"], False),
        (["tests/test_other.py::test_slow"], False),
        (["tests/test_pq.py::test_slo"], False),
    ],
)
def test_slow_test_named_by_node_id(tmp_path, args, named):
    config = SimpleNamespace(
        args=args, invocation_params=SimpleNamespace(dir=tmp_path)
    )
    item = _item("tests/test_pq.py::test_slow", str(tmp_path))
    assert _named_on_command_line(config, item) is named


def test_parametrized_and_class_members_named_by_prefix(tmp_path):
    config = SimpleNamespace(
        args=["sub/test_x.py::TestA", "sub/test_x.py::test_p"],
        invocation_params=SimpleNamespace(dir=tmp_path),
    )
    for nodeid in ("sub/test_x.py::TestA::test_m", "sub/test_x.py::test_p[1]"):
        assert _named_on_command_line(config, _item(nodeid, str(tmp_path)))

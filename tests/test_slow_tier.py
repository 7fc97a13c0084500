"""The slow-tier drift check in conftest: a `_SLOW_TESTS` entry that a
whole-file collection does not match is reported."""

from __future__ import annotations

from .conftest import _SLOW_TESTS, _unmatched_slow_tests


def test_unmatched_slow_entry_reported_only_for_whole_file_collections():
    entry = sorted(_SLOW_TESTS)[0]
    path = entry.split("::", 1)[0]
    others = [f"{path}::test_something_else"]
    assert _unmatched_slow_tests(["tests/"], others) == [
        e for e in sorted(_SLOW_TESTS) if e.startswith(path + "::")
    ]
    assert entry not in _unmatched_slow_tests(["tests/"], others + [entry])
    # a file that was not collected, or a ::-selected run, reports nothing
    assert _unmatched_slow_tests(["tests/"], ["test_elsewhere.py::t"]) == []
    assert _unmatched_slow_tests([f"tests/{path}::t"], others) == []

"""tools/unreached.py: no package definition is reached only by its own
tests. Spark-free."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import unreached  # noqa: E402


def test_no_package_definition_is_unreached():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "unreached.py")],
        capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode == 0, proc.stdout + proc.stderr
    assert proc.stdout == ""


def test_scan_follows_callers_not_tests(tmp_path):
    pkg = tmp_path / unreached.PACKAGE
    pkg.mkdir()
    (tmp_path / "tests").mkdir()
    (tmp_path / "tools").mkdir()
    (pkg / "mod.py").write_text(
        "LIMIT = 3\n"
        "def _helper():\n    return LIMIT\n"
        "def orphan():\n    return _helper()\n"
        "def used():\n    return used()\n"
        "def recursive_orphan():\n    return recursive_orphan()\n"
        "class Box:\n    def get(self):\n        return 1\n    def __len__(self):\n        return 0\n"
        "def imported_unused():\n    return 1\n"
        "def imported_exported():\n    return 1\n"
        "__all__ = ['Box']\n"
    )
    (pkg / "api.py").write_text(
        "from schema_enforcer_spark.mod import imported_exported as exported\n__all__ = ['exported']\n"
    )
    (tmp_path / "tools" / "run.py").write_text(
        "from schema_enforcer_spark.mod import used, imported_unused\nused()\n"
    )
    (tmp_path / "tests" / "test_mod.py").write_text(
        "from schema_enforcer_spark.mod import orphan, Box\norphan(); Box().get()\n"
    )
    found = sorted(d.qualname for d in unreached.unreached(str(tmp_path)))
    # orphan is called only by a test; _helper and LIMIT only through orphan;
    # an import the importing module never uses reaches nothing, one it
    # re-exports through __all__ does
    assert found == ["Box.get", "LIMIT", "_helper", "imported_unused", "orphan", "recursive_orphan"]

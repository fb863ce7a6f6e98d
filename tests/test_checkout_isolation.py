"""A copy of the tree imports its own ``pke_spark``: the driver entry
puts the directory that holds it first on ``sys.path``, so a second
checkout (a worktree, a control copy) never runs another checkout's
library code."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CHILD = r"""
import importlib.util, sys
spec = importlib.util.spec_from_file_location("__spark_entry__", sys.argv[1])
entry = importlib.util.module_from_spec(spec)
spec.loader.exec_module(entry)
import pke_spark
print(pke_spark.__file__)
"""


def test_copied_entry_imports_its_own_pke_spark(tmp_path):
    copy = tmp_path / "copy"
    shutil.copytree(ROOT, copy, ignore=shutil.ignore_patterns(
        ".git", "__pycache__", ".hypothesis", ".perfbench_*"))
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run(
        [sys.executable, "-c", CHILD, str(copy / "__spark_entry__.py")],
        cwd=elsewhere, env=env, capture_output=True, text=True,
        timeout=300, check=True)
    got = os.path.realpath(out.stdout.strip().splitlines()[-1])
    assert os.path.commonpath([got, os.path.realpath(copy)]) == \
        os.path.realpath(copy), got

"""Every environment knob the program reads, outside the tests and the
benchmark.  Adding a knob means editing this list."""

from __future__ import annotations

import os
import re
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

KNOBS = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_EXTRA_CONF",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_BENCH_EVENTS",
    "SPARK_GRAFT_BENCH_MODE",
    "SPARK_GRAFT_NO_MALLOC_TUNE",
    "_SPARK_GRAFT_MALLOC_TUNED",
}

READ = re.compile(
    r"""(?:os\.environ\.get\(|os\.environ\[|os\.getenv\()\s*["'](\w*SPARK_GRAFT_\w*)["']"""
)


def test_env_knobs_are_exactly_the_reviewed_set():
    files = subprocess.run(
        ["git", "ls-files", "*.py"], cwd=ROOT, capture_output=True, text=True, check=True
    ).stdout.split()
    found: dict[str, set[str]] = {}
    for f in files:
        if f.startswith(("tests/", "perfbench/")):
            continue
        with open(os.path.join(ROOT, f), encoding="utf-8") as fh:
            for name in READ.findall(fh.read()):
                found.setdefault(name, set()).add(f)
    assert set(found) == KNOBS, {k: sorted(v) for k, v in found.items() if k not in KNOBS}

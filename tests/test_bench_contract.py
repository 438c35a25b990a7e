"""``bench.py`` contract: one JSON line on stdout with the keys its readers
parse (``BENCH_r01..r05.json``).  Runs the script as a subprocess because
``bench.main`` stops its own session."""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_bench_prints_one_json_line_with_the_contract_keys():
    from bench import HEADLINE
    from tests.test_oracle_parity import SF_DIR

    env = {k: v for k, v in os.environ.items() if "SPARK_GRAFT_" not in k}
    env.update(
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_BENCH_EVENTS="20000",
        SPARK_GRAFT_SF_DIR=SF_DIR,
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"metric", "value", "unit", "queries", "sf", "cpus", "cdc", "malloc_tuned"}
    assert (out["metric"], out["unit"], out["cpus"]) == ("cdc_apply_throughput", "events/sec", 2)
    assert out["sf"] == SF_DIR.rstrip("/").split("sf")[-1]
    assert out["malloc_tuned"] is True
    cdc = out["cdc"]
    assert set(cdc) == {
        "events",
        "warmup_events",
        "apply_sec",
        "events_per_sec",
        "gen_sec",
        "epoch_sec",
        "warmup_epochs",
    }
    # 6 source epochs applied two at a time, the first applied epoch unmeasured
    assert cdc["warmup_epochs"] == 1 and len(cdc["epoch_sec"]) == 3
    assert cdc["events"] + cdc["warmup_events"] > 0
    assert out["value"] == cdc["events_per_sec"] > 0
    assert list(out["queries"]) == HEADLINE

"""Round-3 FS layer: footer-derived per-file lineage (zero extra scans of the
event batch) and executor-side parquet-stats collection above the threshold."""

from __future__ import annotations

import os
import pickle
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
from clin_variant_etl_spark.lake import table as table_mod
from clin_variant_etl_spark.lake.table import _collect_parquet_stats
from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA, INTERNAL_LAST_LSN
from clin_variant_etl_spark.testgen import (
    EventGenConfig,
    generate_change_events,
    write_events_by_epoch,
)


@pytest.fixture()
def part_stats_pipeline(spark, tmp_path):
    create_cdc_table(str(tmp_path / "t"), BASE_DOCS_SCHEMA, n_buckets=4)
    return CdcPipeline(spark, str(tmp_path / "t"), n_salts=2, collect_part_stats=True)


def test_footer_lineage_no_extra_scan(spark, tmp_path, part_stats_pipeline):
    cfg = EventGenConfig(n_docs=40, n_events=600, n_epochs=2, seed=31)
    tbl = generate_change_events(cfg)
    write_events_by_epoch(tbl, str(tmp_path / "ev"), files_per_epoch=2)
    for k in range(2):
        ev = spark.read.parquet(str(tmp_path / "ev" / f"epoch={k}"))
        res = part_stats_pipeline.apply_epoch(ev, k)
        # the old implementation pre-scanned the events (phase "scan_offsets");
        # footer-derived lineage must not add any phase before dedup
        assert "scan_offsets" not in (res.phase_ms or {})

    pipe = part_stats_pipeline
    ep1 = pipe.epoch_log()[1]
    assert ep1["epoch_id"] == 1
    # per-file lineage: the manifest entries epoch 1's commit added, each
    # with its footer-derived lsn coverage and row count
    snap = pipe.table.snapshot(ep1["snapshot_id"])
    per_file = pipe.table.added_files(snap.snapshot_id, since=snap.parent_id)
    assert len(per_file) >= 1
    assert all(INTERNAL_LAST_LSN in e["stats"] and e["rows"] > 0 for e in per_file)
    # per-file lsn coverage comes from footers: bounds must bracket the
    # actual _last_lsn values in the current table state
    state = pipe.table.read(spark)
    lo, hi = state.agg(F.min("_last_lsn"), F.max("_last_lsn")).first()
    assert min(e["stats"][INTERNAL_LAST_LSN][0] for e in per_file) >= lo  # footer mins are real lsns
    assert max(e["stats"][INTERNAL_LAST_LSN][1] for e in per_file) == hi
    # the epoch record still holds SOURCE offsets (observe-fed)
    ev_all = tbl.to_pandas()
    ep1_src = ev_all[ev_all.epoch_hint == 1]
    assert ep1["source_min_lsn"] == ep1_src.lsn.min()
    assert ep1["source_max_lsn"] == ep1_src.lsn.max()
    info = pipe.resume_info()["epochs"][1]
    assert (info["min_lsn"], info["max_lsn"]) == (ep1_src.lsn.min(), ep1_src.lsn.max())


def _write_tiny(path, lo, hi):
    pq.write_table(
        pa.table({"lsn": pa.array(list(range(lo, hi + 1)), type=pa.int64())}), path
    )


def test_stats_driver_and_executor_paths_agree(spark, tmp_path, monkeypatch):
    paths = []
    for i in range(6):
        p = str(tmp_path / f"f{i}.parquet")
        _write_tiny(p, i * 10, i * 10 + 4)
        paths.append(p)
    driver = _collect_parquet_stats(spark, paths, ("lsn",))
    monkeypatch.setattr(table_mod, "EXECUTOR_STATS_THRESHOLD", 2)
    executor = _collect_parquet_stats(spark, paths, ("lsn",))
    assert driver == executor
    for i, p in enumerate(paths):
        rows, stats, blooms = driver[p]
        assert rows == 5
        assert stats["lsn"] == [i * 10, i * 10 + 4]
        assert blooms == {}


def test_footer_reader_runs_without_the_package(tmp_path):
    """The executor path ships ``_read_footer_stats`` by value: unpickled in
    a fresh interpreter that cannot import this package, it returns what
    the driver computes (row count, min/max and blooms)."""
    from pyspark import cloudpickle

    from clin_variant_etl_spark.lake.table import _read_footer_stats

    p = str(tmp_path / "f.parquet")
    pq.write_table(pa.table({"lsn": [3, 9, 5], "doc_id": ["a", "b", None]}), p)
    args = (p, ("lsn",), ("doc_id",))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    code = (
        "import pickle, sys; fn, args = pickle.load(sys.stdin.buffer); "
        "sys.stdout.buffer.write(pickle.dumps(fn(*args)))"
    )
    run = subprocess.run(
        [sys.executable, "-c", code],
        input=cloudpickle.dumps((_read_footer_stats, args)),
        capture_output=True,
        cwd=tmp_path,
        env=env,
        timeout=60,
    )
    assert run.returncode == 0, run.stderr.decode()
    got = pickle.loads(run.stdout)
    assert got == _read_footer_stats(*args)
    assert got[0] == 3 and got[1] == {"lsn": [3, 9]} and set(got[2]) == {"doc_id"}


def test_stats_missing_column_ok(spark, tmp_path):
    p = str(tmp_path / "f.parquet")
    _write_tiny(p, 0, 3)
    rows, stats, blooms = _collect_parquet_stats(spark, [p], ("not_there",))[p]
    assert rows == 4 and stats == {} and blooms == {}

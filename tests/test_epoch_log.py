"""Epoch progress has one record: the summary of the data snapshot that
applied the epoch.  ``epoch_log``, ``resume_info`` and the QC epoch checks
are views over the snapshot log, so a crash after the data commit loses
nothing, a replay costs nothing, and the resume point survives expiry."""

from __future__ import annotations

import pytest

from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
from clin_variant_etl_spark.engine.oracle import assert_state_equals, replay_oracle
from clin_variant_etl_spark.lake.maintenance import compact, expire_snapshots
from clin_variant_etl_spark.lake.table import LakeTable
from clin_variant_etl_spark.qc import run_cdc_qc
from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA, INTERNAL_LAST_LSN
from clin_variant_etl_spark.testgen import EventGenConfig, generate_change_events, write_events_by_epoch

CFG = EventGenConfig(n_docs=60, n_events=900, n_epochs=3, seed=41)


@pytest.fixture()
def log(tmp_path):
    """Write the change log once per test; returns (events pdf, epoch reader)."""
    tbl = generate_change_events(CFG)
    write_events_by_epoch(tbl, str(tmp_path / "ev"), files_per_epoch=1)
    return tbl.to_pandas(), lambda spark, k: spark.read.parquet(str(tmp_path / "ev" / f"epoch={k}"))


def _table(tmp_path) -> str:
    path = str(tmp_path / "t")
    create_cdc_table(path, BASE_DOCS_SCHEMA, n_buckets=4)
    return path


def test_crash_after_data_commit_keeps_the_epoch_record(spark, tmp_path, log, monkeypatch):
    events, epoch = log
    path = _table(tmp_path)
    pipe = CdcPipeline(spark, path, n_salts=2)
    for k in (0, 1):
        pipe.apply_epoch(epoch(spark, k), k)

    real_commit = LakeTable.commit

    def crash_after_data_commit(self, *a, **kw):
        snap = real_commit(self, *a, **kw)
        if self.path == path:
            raise RuntimeError("driver died after the data commit")
        return snap

    monkeypatch.setattr(LakeTable, "commit", crash_after_data_commit)
    with pytest.raises(RuntimeError, match="driver died"):
        pipe.apply_epoch(epoch(spark, 2), 2)
    monkeypatch.undo()

    fresh = CdcPipeline(spark, path, n_salts=2)
    info = fresh.resume_info()
    assert info["last_epoch_id"] == 2
    assert [e["epoch_id"] for e in info["epochs"]] == [0, 1, 2]
    assert info["epochs"][2]["events"] == int((events.epoch_hint == 2).sum())
    results = {r.name: r for r in run_cdc_qc(spark, fresh)}
    assert results["lineage_conserves_events"].passed
    assert results["checkpoint_epochs_contiguous"].passed
    assert [e["epoch_id"] for e in fresh.epoch_log()] == [0, 1, 2]
    assert_state_equals(fresh.read_state(), replay_oracle(events))


@pytest.mark.filterwarnings("ignore::DeprecationWarning")
def test_one_commit_per_epoch_and_free_replay(spark, tmp_path, log, monkeypatch, spark_work):
    """Even with the legacy side-table arguments an epoch makes exactly one
    commit, and a redelivered committed epoch makes none and runs no Spark
    job."""
    _, epoch = log
    path = _table(tmp_path)
    pipe = CdcPipeline(
        spark, path, lineage_path=str(tmp_path / "lin"), checkpoint_path=str(tmp_path / "ck"), n_salts=2
    )
    commits: list[str] = []
    real_commit = LakeTable.commit

    def counting_commit(self, *a, **kw):
        commits.append(self.path)
        return real_commit(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "commit", counting_commit)
    for k in (0, 1):
        pipe.apply_epoch(epoch(spark, k), k)
    assert commits == [path, path]

    redelivered = epoch(spark, 1)  # built outside the counted block
    with spark_work() as n:
        res = pipe.apply_epoch(redelivered, 1)
    assert res.skipped
    assert (n.jobs, n.executions) == (0, 0)
    assert commits == [path, path]


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_two_spark_actions_per_epoch(spark, tmp_path, log, spark_work, mode):
    """A non-empty epoch makes exactly two Spark actions — the dedup probe,
    which also yields the bucket histogram and the source stats, and the
    merge write — and an empty epoch only the probe."""
    events, epoch = log
    pipe = CdcPipeline(spark, _table(tmp_path), n_salts=2, apply_mode=mode)
    pipe.apply_epoch(epoch(spark, 0), 0)
    for k in (1, 2):
        ev = epoch(spark, k)
        with spark_work() as n:
            res = pipe.apply_epoch(ev, k)
        assert res.event_count == int((events.epoch_hint == k).sum())
        assert n.executions == 2, (mode, k, n.executions)
    empty = epoch(spark, 0).limit(0)
    with spark_work() as n:
        res = pipe.apply_epoch(empty, 3)
    assert (res.event_count, pipe.last_epoch_id()) == (0, 3)
    assert n.executions == 1
    assert_state_equals(pipe.read_state(), replay_oracle(events))


def test_resume_point_survives_compaction_and_expiry(spark, tmp_path, log):
    events, epoch = log
    path = _table(tmp_path)
    pipe = CdcPipeline(spark, path, n_salts=2, apply_mode="mor")
    for k in range(CFG.n_epochs):
        pipe.apply_epoch(epoch(spark, k), k)
    compact(spark, pipe.table, resolve_keep_latest=("doc_id", INTERNAL_LAST_LSN))
    expire_snapshots(pipe.table, keep_last=1)

    info = CdcPipeline(spark, path, apply_mode="mor").resume_info()
    assert info["last_epoch_id"] == CFG.n_epochs - 1
    assert info["max_lsn"] == events.lsn.max()
    # the records went with their snapshots; the resume point did not
    assert info["epochs"] == []


def test_compaction_adds_no_epoch_record(spark, tmp_path, log):
    _, epoch = log
    path = _table(tmp_path)
    pipe = CdcPipeline(spark, path, n_salts=2, apply_mode="mor")
    applied = [pipe.apply_epoch(epoch(spark, k), k) for k in (0, 1)]
    folded = compact(spark, pipe.table, resolve_keep_latest=("doc_id", INTERNAL_LAST_LSN))
    assert folded.snapshot_id > applied[-1].snapshot_id
    assert folded.summary == {}  # the summary is per commit, never inherited

    entries = pipe.epoch_log()
    assert [e["epoch_id"] for e in entries] == [0, 1]
    assert [e["snapshot_id"] for e in entries] == [r.snapshot_id for r in applied]
    assert entries[1]["event_count"] == applied[1].event_count
    assert entries[1]["wall_ms"] <= applied[1].wall_ms


def test_side_table_paths_are_ignored_with_a_warning(spark, tmp_path):
    path = _table(tmp_path)
    with pytest.warns(DeprecationWarning, match="ignored"):
        CdcPipeline(spark, path, lineage_path=str(tmp_path / "lin"), checkpoint_path=str(tmp_path / "ck"))
    assert not (tmp_path / "lin").exists() and not (tmp_path / "ck").exists()

"""Write-audit-publish: the published ref only ever points at snapshots
that passed QC; failed audits leave readers pinned, and maintenance cannot
expire the published snapshot out from under them."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from clin_variant_etl_spark.lake.maintenance import expire_snapshots
from clin_variant_etl_spark.lake.table import LakeTable, PartitionField
from clin_variant_etl_spark.lake.wap import audit_and_publish
from clin_variant_etl_spark.qc import QCError, should_not_contain_duplicates

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)

CHECKS = {"no_dup_keys": lambda df: should_not_contain_duplicates(df, "k")}


def _commit(spark, t, rows):
    df = spark.createDataFrame(rows, SCHEMA)
    t.commit("append", t.write_data_files(df, 0, t.partition_spec))


def test_failed_audit_keeps_readers_on_last_good_snapshot(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "t"), SCHEMA, [PartitionField("bucket", "k", "bucket_m3", 2)]
    )
    _commit(spark, t, [(1, "a"), (2, "b")])
    good_sid, results = audit_and_publish(spark, t, CHECKS)
    assert all(r.passed for r in results)
    assert t.resolve_ref("published") == good_sid

    # a bad load lands: duplicate key 2 — writers commit freely
    _commit(spark, t, [(2, "dup"), (3, "c")])
    bad_sid = t.current_snapshot().snapshot_id
    with pytest.raises(QCError, match="no_dup_keys"):
        audit_and_publish(spark, t, CHECKS)

    # the ref did not move; ref-readers see the audited rows only
    assert t.resolve_ref("published") == good_sid
    ref_rows = sorted(r["k"] for r in t.read(spark, ref="published").collect())
    assert ref_rows == [1, 2]
    # the write branch is ahead of the ref (bad snapshot exists, unpublished)
    assert bad_sid > good_sid
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1, 2, 2, 3]


def test_fix_then_publish_advances_and_audit_pins_candidate(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "t"), SCHEMA, [PartitionField("bucket", "k", "bucket_m3", 2)]
    )
    _commit(spark, t, [(1, "a")])
    audit_and_publish(spark, t, CHECKS)

    _commit(spark, t, [(2, "b")])
    fixed_sid = t.current_snapshot().snapshot_id
    # a commit racing the audit must not change what gets published: pass
    # the candidate id explicitly, then land another (bad) commit before
    # publish would have read "current"
    _commit(spark, t, [(2, "racer-dup")])
    sid, _ = audit_and_publish(spark, t, CHECKS, snapshot_id=fixed_sid)
    assert sid == fixed_sid
    assert t.resolve_ref("published") == fixed_sid
    assert sorted(r["k"] for r in t.read(spark, ref="published").collect()) == [1, 2]


def test_expiry_never_drops_the_published_snapshot(spark, tmp_path):
    t = LakeTable.create(
        str(tmp_path / "t"), SCHEMA, [PartitionField("bucket", "k", "bucket_m3", 2)]
    )
    _commit(spark, t, [(1, "a")])
    good_sid, _ = audit_and_publish(spark, t, CHECKS)
    for i in range(3):  # unaudited commits pile up ahead of the ref
        _commit(spark, t, [(10 + i, "x")])
    expired = expire_snapshots(t, keep_last=1)
    assert good_sid not in expired
    # published readers still resolve and read their snapshot
    assert sorted(r["k"] for r in t.read(spark, ref="published").collect()) == [1]


def test_mor_audit_runs_on_visible_state_via_reader(spark, tmp_path):
    """On a mor CDC table the raw snapshot frame holds unresolved base+delta
    versions, so a no-duplicate-keys audit spuriously fails; passing
    ``reader`` (a CdcPipeline-resolved read pinned to the candidate) audits
    the visible state consumers of the ref will actually see."""
    from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
    from clin_variant_etl_spark.qc import should_not_contain_duplicates
    from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA
    from clin_variant_etl_spark.testgen import (
        EventGenConfig,
        generate_change_events,
        write_events_by_epoch,
    )
    import os

    root = str(tmp_path / "events")
    tbl = generate_change_events(
        EventGenConfig(n_docs=30, n_events=400, n_epochs=2, seed=5)
    )
    write_events_by_epoch(tbl, root)
    create_cdc_table(str(tmp_path / "t"), BASE_DOCS_SCHEMA, n_buckets=2)
    pipe = CdcPipeline(spark, str(tmp_path / "t"), apply_mode="mor")
    for ep in range(2):
        pipe.apply_epoch(spark.read.parquet(os.path.join(root, f"epoch={ep}")), ep)

    t = pipe.table
    checks = {"no_dup_keys": lambda df: should_not_contain_duplicates(df, "doc_id")}
    # precondition: the raw frame genuinely holds multiple versions per key
    raw = t.read(spark)
    assert raw.count() > pipe.read_state().count()
    with pytest.raises(QCError, match="no_dup_keys"):
        audit_and_publish(spark, t, checks)

    sid, results = audit_and_publish(
        spark, t, checks, reader=lambda s: pipe.read_state(snapshot_id=s)
    )
    assert all(r.passed for r in results)
    assert t.resolve_ref("published") == sid

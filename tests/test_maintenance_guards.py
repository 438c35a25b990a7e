"""Concurrency/determinism guards added in round 3: conflict-guarded
compaction, lock-free versioned refs, snapshot-cache eviction on expiry, and
the opt-in payload-consistency assertion of the auto dedup."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F, types as T

from clin_variant_etl_spark.engine.dedup import assert_payload_consistency, latest_by_key_auto
from clin_variant_etl_spark.lake.maintenance import compact, expire_snapshots
from clin_variant_etl_spark.lake.table import CommitConflict, LakeTable, PartitionField

SCHEMA = T.StructType(
    [
        T.StructField("k", T.LongType(), False),
        T.StructField("v", T.StringType(), True),
    ]
)


def _mk_table(spark, path, n_commits=3, rows_per=4):
    t = LakeTable.create(str(path), SCHEMA, [PartitionField("bucket", "k", "bucket_m3", 2)])
    for i in range(n_commits):
        df = spark.createDataFrame(
            [(i * rows_per + j, f"v{i}-{j}") for j in range(rows_per)], SCHEMA
        )
        files = t.write_data_files(df, t.partition_spec)
        t.commit("append", files)
    return t


def test_compact_conflicts_with_concurrent_commit(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "t")
    pinned = t.current_snapshot().snapshot_id
    # a concurrent writer lands new files into a partition AFTER the
    # compaction pinned its snapshot — the compaction must conflict, not
    # silently drop the writer's shard via replace_partitions
    df = spark.createDataFrame([(100, "late")], SCHEMA)
    t.commit("append", t.write_data_files(df, t.partition_spec))
    with pytest.raises(CommitConflict):
        compact(spark, t, at_snapshot_id=pinned)
    # the concurrent row survived
    assert t.read(spark).where(F.col("v") == "late").count() == 1


def test_compact_normal_path_still_green(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "t")
    before = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    compact(spark, t, min_input_files=2, target_file_bytes=1 << 20)
    after = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert before == after


def test_refs_versioned_no_lost_update(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "t", n_commits=2)
    sids = t.snapshot_ids()
    t.tag("a", sids[0])
    # simulate a racing tagger winning the next version: pre-create it with
    # a ref this process hasn't seen — our tag must retry and MERGE it
    versions = t._refs_versions()
    interloper = dict(t.refs())
    interloper["raced"] = sids[1]
    with open(os.path.join(t._refs_dir, f"r{versions[-1] + 1:08d}.json"), "w") as fh:
        json.dump(interloper, fh)
    t.tag("b", sids[1])
    refs = t.refs()
    assert refs["a"] == sids[0]
    assert refs["b"] == sids[1]
    assert refs["raced"] == sids[1], "racing tagger's update was lost"


def test_expire_evicts_snapshot_cache(spark, tmp_path):
    t = _mk_table(spark, tmp_path / "t", n_commits=3)
    old_sid = t.snapshot_ids()[0]
    t.snapshot(old_sid)  # populate the in-process cache
    expired = expire_snapshots(t, keep_last=1)
    assert old_sid in expired
    with pytest.raises(FileNotFoundError):
        t.snapshot(old_sid)  # cache must not serve the expired snapshot


def test_payload_consistency_assertion(spark):
    good = spark.createDataFrame(
        [(1, 10, "a"), (1, 10, "a"), (1, 11, "b")], "k long, lsn long, p string"
    )
    assert_payload_consistency(good, "k", "lsn")  # no raise
    probe = latest_by_key_auto(good, "k", "lsn", check_payload_consistency=True)
    out = probe.payload().collect()
    probe.unpersist()
    assert [(r["k"], r["lsn"], r["p"]) for r in out] == [(1, 11, "b")]

    corrupt = spark.createDataFrame(
        [(1, 10, "a"), (1, 10, "DIFFERENT")], "k long, lsn long, p string"
    )
    with pytest.raises(ValueError, match="payload-consistency violation"):
        latest_by_key_auto(corrupt, "k", "lsn", check_payload_consistency=True)

"""remove_orphan_files: crashed-write garbage collection.

A writer that dies between write_data_files and commit leaves a full
data/b-*/ batch no snapshot references — expire_snapshots can never see
it.  The orphan sweep must delete exactly those files (after a grace
period), and NOTHING any live snapshot can still read via time travel.
"""

import os
import time

from pyspark.sql import types as T

from clin_variant_etl_spark.lake import LakeTable, PartitionField
from clin_variant_etl_spark.lake.maintenance import remove_orphan_files

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n_tok", T.IntegerType(), True),
    ]
)


def _mk(spark, path):
    spec = [PartitionField("bucket", "doc_id", "bucket_m3", 4)]
    t = LakeTable.create(str(path), SCHEMA, spec)
    df = spark.createDataFrame([("d1", 10), ("d2", 20), ("d3", 30)], SCHEMA)
    t.commit("append", t.write_data_files(df, 0, spec))
    return t


def _future():
    # a "now" far enough ahead that every file just written is past any
    # grace window — tests never sleep
    return time.time() + 10_000


def test_crashed_write_batch_is_swept(spark, tmp_path):
    t = _mk(spark, tmp_path / "t1")
    before = t.read(spark).count()
    # simulate the crash: files written, commit never happens
    df = spark.createDataFrame([("zz", 99)], SCHEMA)
    t.write_data_files(df, 0, t.partition_spec)
    n_batches = len([d for d in t.io.list(t.data_dir) if d.startswith("b-")])
    assert n_batches == 2  # the committed batch + the orphaned one

    removed = remove_orphan_files(t, grace_seconds=0, now=_future())
    assert removed and all(r.startswith("data") for r in removed)
    # orphan batch dir gone entirely (cleanup_empty_dirs), committed one kept
    assert len([d for d in t.io.list(t.data_dir) if d.startswith("b-")]) == 1
    assert t.read(spark).count() == before
    # idempotent: second sweep finds nothing
    assert remove_orphan_files(t, grace_seconds=0, now=_future()) == []


def test_grace_window_protects_inflight_writes(spark, tmp_path):
    t = _mk(spark, tmp_path / "t2")
    df = spark.createDataFrame([("zz", 99)], SCHEMA)
    files = t.write_data_files(df, 0, t.partition_spec)
    # default posture (real now, 3-day grace): the just-written batch looks
    # exactly like an in-flight writer's and must survive
    assert remove_orphan_files(t) == []
    # ... so the write can still commit afterwards
    t.commit("append", files)
    assert t.read(spark).count() == 4


def test_time_travel_files_are_not_orphans(spark, tmp_path):
    t = _mk(spark, tmp_path / "t3")
    v2 = t.current_snapshot().snapshot_id
    df = spark.createDataFrame([("d9", 99)], SCHEMA)
    t.commit("append", t.write_data_files(df, 0, t.partition_spec))
    # files referenced ONLY by the older snapshot are still reachable
    assert remove_orphan_files(t, grace_seconds=0, now=_future()) == []
    assert t.read(spark, snapshot_id=v2).count() == 3
    assert t.read(spark).count() == 4


def test_orphan_manifest_shard_and_tmp_spill(spark, tmp_path):
    t = _mk(spark, tmp_path / "t4")
    # a shard written by a commit that lost its put_exclusive race, plus
    # interrupted-put tmp spill in the metadata plane
    t.io.put_atomic(os.path.join(t.manifest_dir, "m-orphan.json"), b"[]")
    t.io.put_atomic(os.path.join(t.manifest_dir, ".tmp-dead"), b"x")
    removed = set(remove_orphan_files(t, grace_seconds=0, now=_future()))
    assert os.path.join("_meta", "manifests", "m-orphan.json") in removed
    assert os.path.join("_meta", "manifests", ".tmp-dead") in removed
    # live shards untouched
    assert t.read(spark).count() == 3


def test_dry_run_deletes_nothing(spark, tmp_path):
    t = _mk(spark, tmp_path / "t5")
    df = spark.createDataFrame([("zz", 99)], SCHEMA)
    t.write_data_files(df, 0, t.partition_spec)
    would = remove_orphan_files(t, grace_seconds=0, now=_future(), dry_run=True)
    assert would
    for rel in would:
        assert t.io.exists(os.path.join(t.path, rel))
    # snapshot roots and refs are never candidates
    assert not any(rel.startswith(os.path.join("_meta", "snapshots")) for rel in would)

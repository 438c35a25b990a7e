"""LakeTable format: atomic commits, partition pruning, schema evolution,
time travel, load types, maintenance."""

import os

import pytest
from pyspark.sql import functions as F, types as T

from clin_variant_etl_spark.lake import CommitConflict, LakeTable, PartitionField
from clin_variant_etl_spark.lake.load import overwrite, overwrite_partitions, scd1, upsert
from clin_variant_etl_spark.lake.maintenance import compact, expire_snapshots

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)


def _mk(spark, path, partitioned=True):
    spec = [PartitionField("bucket", "doc_id", "bucket_m3", 4)] if partitioned else []
    t = LakeTable.create(str(path), SCHEMA, spec)
    df = spark.createDataFrame(
        [("d1", 10, "web"), ("d2", 20, "books"), ("d3", 30, "code")], SCHEMA
    )
    files = t.write_data_files(df, spec)
    t.commit("append", files)
    return t


def test_roundtrip_and_counts(spark, tmp_path):
    t = _mk(spark, tmp_path / "t1")
    got = {r["doc_id"]: r["n_tok"] for r in t.read(spark).collect()}
    assert got == {"d1": 10, "d2": 20, "d3": 30}
    assert sum(f["rows"] for f in t.current_snapshot().files) == 3


def test_partition_pruning_manifest_and_scan(spark, tmp_path):
    t = _mk(spark, tmp_path / "t2")
    # bucket of d1 per the same expr the writer used
    b = (
        spark.range(1)
        .select(F.pmod(F.hash(F.lit("d1")), F.lit(4)).cast("int").cast("string"))
        .first()[0]
    )
    pruned = t.read(spark, partition_filter={"bucket": {b}})
    assert "d1" in {r["doc_id"] for r in pruned.collect()}
    # manifest-level pruning: fewer files scanned than total
    all_files = len(t.current_snapshot().files)
    kept = [f for f in t.current_snapshot().files if f["partition"]["bucket"] == b]
    assert 0 < len(kept) <= all_files


def test_commit_conflict_is_atomic(spark, tmp_path):
    t = _mk(spark, tmp_path / "t3")
    snap = t.current_snapshot()
    t.commit("append", [])
    with pytest.raises(CommitConflict):
        t.commit("append", [], expected_parent=snap.snapshot_id)


def test_time_travel(spark, tmp_path):
    t = _mk(spark, tmp_path / "t4")
    v2 = t.current_snapshot().snapshot_id
    df = spark.createDataFrame([("d9", 99, "wiki")], SCHEMA)
    files = t.write_data_files(df, t.partition_spec)
    t.commit("append", files)
    assert t.read(spark).count() == 4
    assert t.read(spark, snapshot_id=v2).count() == 3


def test_schema_evolution_add_and_widen(spark, tmp_path):
    t = _mk(spark, tmp_path / "t5")
    new_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("n_tok", T.LongType(), True),  # widened int→long
            T.StructField("source", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),  # added
        ]
    )
    df = spark.createDataFrame([("d4", 40, "web", "en")], new_schema)
    files = t.write_data_files(df, t.partition_spec)
    t.commit("append", files, new_schema=new_schema)
    out = t.read(spark)
    assert dict(out.dtypes)["n_tok"] == "bigint"
    rows = {r["doc_id"]: (r["n_tok"], r["lang"]) for r in out.collect()}
    assert rows["d1"] == (10, None)  # old file: widened + null-filled
    assert rows["d4"] == (40, "en")


def test_upsert_evolves_field_inside_array_of_struct(spark, tmp_path):
    """A batch adding a field inside ``array<struct>`` evolves the table;
    the old rows and a later batch without the field read it back as null."""
    item = lambda *names: T.ArrayType(  # noqa: E731
        T.StructType([T.StructField(n, T.IntegerType(), True) for n in names])
    )
    schema = lambda *names: T.StructType(  # noqa: E731
        [T.StructField("k", T.StringType(), False), T.StructField("items", item(*names), True)]
    )
    t = LakeTable.create(str(tmp_path / "t_nested"), schema("a"), [])
    t.commit("append", t.write_data_files(spark.createDataFrame([("k1", [(1,)])], schema("a")), []))
    upsert(spark, t, spark.createDataFrame([("k2", [(2, 20)])], schema("a", "b")), keys=["k"])
    upsert(spark, t, spark.createDataFrame([("k3", [(3,)])], schema("a")), keys=["k"])
    got = {r["k"]: [tuple(i) for i in r["items"]] for r in t.read(spark).collect()}
    assert got == {"k1": [(1, None)], "k2": [(2, 20)], "k3": [(3, None)]}
    assert t.schema == schema("a", "b")


@pytest.mark.parametrize(
    "spec, replaced",
    [
        # identity partitioning, like the reference's analysis_id partitions:
        # the 'books' partition is replaced wholesale, others untouched
        ([PartitionField("source", "source", "identity")], {"d1": 10, "d2b": 21, "d3": 30}),
        # an unpartitioned table is one partition: all of it is replaced
        ([], {"d2b": 21}),
    ],
    ids=["identity", "unpartitioned"],
)
def test_overwrite_and_overwrite_partitions(spark, tmp_path, spec, replaced):
    t = LakeTable.create(str(tmp_path / "t6"), SCHEMA, spec)
    df = spark.createDataFrame(
        [("d1", 10, "web"), ("d2", 20, "books"), ("d3", 30, "code")], SCHEMA
    )
    t.commit("append", t.write_data_files(df, spec))
    d2 = spark.createDataFrame([("d2b", 21, "books")], SCHEMA)
    overwrite_partitions(spark, t, d2)
    got = {r["doc_id"]: r["n_tok"] for r in t.read(spark).collect()}
    assert got == replaced
    # idempotent replay: same batch again → same state (J2 pattern)
    overwrite_partitions(spark, t, d2)
    assert {r["doc_id"]: r["n_tok"] for r in t.read(spark).collect()} == got
    overwrite(spark, t, d2)
    assert t.read(spark).count() == 1


def test_upsert(spark, tmp_path):
    t = _mk(spark, tmp_path / "t7")
    src = spark.createDataFrame([("d2", 99, "upd"), ("d5", 50, "new")], SCHEMA)
    upsert(spark, t, src, keys=["doc_id"])
    got = {r["doc_id"]: r["n_tok"] for r in t.read(spark).collect()}
    assert got == {"d1": 10, "d2": 99, "d3": 30, "d5": 50}
    # idempotent: re-upsert same source → same state
    upsert(spark, t, src, keys=["doc_id"])
    assert {r["doc_id"]: r["n_tok"] for r in t.read(spark).collect()} == got


def test_scd1_updated_on_only_bumps_on_change(spark, tmp_path):
    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("v", T.IntegerType(), True),
            T.StructField("created_on", T.TimestampType(), True),
            T.StructField("updated_on", T.TimestampType(), True),
        ]
    )
    t = LakeTable.create(str(tmp_path / "t8"), schema, [])
    import datetime as dt

    t1 = dt.datetime(2026, 1, 1)
    t2 = dt.datetime(2026, 2, 1)
    first = spark.createDataFrame([("a", 1, t1, t1), ("b", 2, t1, t1)], schema)
    files = t.write_data_files(first, [])
    t.commit("append", files)
    # a unchanged, b changed
    src = spark.createDataFrame([("a", 1, t2, t2), ("b", 3, t2, t2)], schema)
    scd1(spark, t, src, keys=["doc_id"])
    got = {r["doc_id"]: r for r in t.read(spark).collect()}
    assert got["a"]["created_on"] == t1 and got["a"]["updated_on"] == t1
    assert got["b"]["created_on"] == t1 and got["b"]["updated_on"] == t2
    assert got["b"]["v"] == 3


def test_compact_and_expire(spark, tmp_path):
    t = _mk(spark, tmp_path / "t9")
    for i in range(3):
        df = spark.createDataFrame([(f"x{i}", i, "web")], SCHEMA)
        t.commit("append", t.write_data_files(df, t.partition_spec))
    before_files = len(t.current_snapshot().files)
    compact(spark, t)
    after_files = len(t.current_snapshot().files)
    assert after_files <= before_files
    assert t.read(spark).count() == 6
    expired = expire_snapshots(t, keep_last=1)
    assert expired
    assert t.read(spark).count() == 6  # current snapshot intact
    live = {os.path.join(t.path, f["path"]) for f in t.current_snapshot().files}
    on_disk = {
        os.path.join(root, fn)
        for root, _d, files in os.walk(t.data_dir)
        for fn in files
    }
    assert on_disk == live  # orphans garbage-collected (recursive: batch dirs)


def test_manifest_shards_reused_across_commits(spark, tmp_path):
    """A merge commit must rewrite only the shards of touched partitions and
    reuse every other shard BY REFERENCE (O(changed buckets) driver work)."""
    t = _mk(spark, tmp_path / "t_shards")
    before = {m["path"]: m for m in t.current_snapshot().manifests}
    assert before, "expected sharded manifests"
    # overwrite exactly one bucket
    b = sorted({m["partition"]["bucket"] for m in t.current_snapshot().manifests})[0]
    df = t.read(spark, partition_filter={"bucket": {b}})
    files = t.write_data_files(df, t.partition_spec)
    t.commit("merge", files, replace_partitions=[{"bucket": b}])
    after = {m["path"]: m for m in t.current_snapshot().manifests}
    untouched_before = {p for p, m in before.items() if m["partition"]["bucket"] != b}
    untouched_after = {p for p, m in after.items() if m["partition"]["bucket"] != b}
    # identical shard files for untouched buckets; a fresh shard for bucket b
    assert untouched_before == untouched_after
    assert all(m["partition"]["bucket"] == b for p, m in after.items() if p not in before)
    # table content unchanged
    got = {r["doc_id"]: r["n_tok"] for r in t.read(spark).collect()}
    assert got == {"d1": 10, "d2": 20, "d3": 30}


def test_snapshot_without_manifests_fails_loudly(spark, tmp_path):
    """A snapshot file with no ``manifests`` key is not a table this format
    writes; reading it must raise instead of serving an empty table."""
    import json

    t = _mk(spark, tmp_path / "t_nomanifests")
    snap = t.current_snapshot()
    broken = snap.to_json()
    del broken["manifests"]
    p = os.path.join(t.meta_dir, f"v{snap.snapshot_id:08d}.json")
    with open(p, "w") as fh:
        json.dump(broken, fh)
    # bust the in-process cache so the rewritten bytes are actually parsed
    from clin_variant_etl_spark.lake import table as _tbl

    _tbl._SNAP_CACHE.clear()
    with pytest.raises(KeyError, match="manifests"):
        LakeTable(str(tmp_path / "t_nomanifests")).read(spark)



def test_commit_summary_is_per_commit_and_required(spark, tmp_path):
    """``properties`` are inherited by child snapshots; a commit's
    ``summary`` belongs to that commit alone, survives the JSON round trip,
    and a snapshot file without one is rejected."""
    import json

    from clin_variant_etl_spark.lake import table as _tbl

    t = _mk(spark, tmp_path / "t_summary")
    first = t.commit("append", [], properties={"gate": "1"}, summary={"epoch_id": 1, "n": None})
    second = t.commit("append", [])
    _tbl._SNAP_CACHE.clear()
    assert t.snapshot(first.snapshot_id).summary == {"epoch_id": 1, "n": None}
    assert t.snapshot(second.snapshot_id).summary == {}
    assert t.snapshot(second.snapshot_id).properties["gate"] == "1"

    broken = t.snapshot(second.snapshot_id).to_json()
    del broken["summary"]
    with open(os.path.join(t.meta_dir, f"v{second.snapshot_id:08d}.json"), "w") as fh:
        json.dump(broken, fh)
    _tbl._SNAP_CACHE.clear()
    with pytest.raises(KeyError, match="summary"):
        LakeTable(str(tmp_path / "t_summary")).read(spark)

"""Controlled schema migrations (SURVEY §1.3 UpdateSchemaETL parity):
rename/drop at top level, inside structs, and inside arrays of structs;
partitioning rewrite."""

from pyspark.sql import types as T

from clin_variant_etl_spark.lake import LakeTable, PartitionField
from clin_variant_etl_spark.lake.migrate import drop_column, rename_column, update_partitioning

SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("url", T.StringType(), True),
                    T.StructField("score", T.IntegerType(), True),
                ]
            ),
            True,
        ),
        T.StructField(
            "tags",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("label", T.StringType(), True),
                        T.StructField("weight", T.IntegerType(), True),
                    ]
                )
            ),
            True,
        ),
    ]
)

ROWS = [
    ("d1", {"url": "u1", "score": 5}, [{"label": "a", "weight": 1}, {"label": "b", "weight": 2}]),
    ("d2", {"url": "u2", "score": 7}, []),
]


def _mk(spark, path):
    t = LakeTable.create(str(path), SCHEMA, [])
    df = spark.createDataFrame(ROWS, SCHEMA)
    t.commit("append", t.write_data_files(df, []))
    return t


def test_rename_nested_in_array_of_structs(spark, tmp_path):
    t = _mk(spark, tmp_path / "m1")
    rename_column(spark, t, "tags.label", "tag_name")
    out = t.read(spark)
    el = dict(out.dtypes)["tags"]
    assert "tag_name" in el and "label" not in el
    rows = {r["doc_id"]: r["tags"] for r in out.collect()}
    assert rows["d1"][0]["tag_name"] == "a" and rows["d1"][1]["weight"] == 2


def test_rename_top_and_struct_field(spark, tmp_path):
    t = _mk(spark, tmp_path / "m2")
    rename_column(spark, t, "meta.url", "uri")
    rename_column(spark, t, "doc_id", "id")
    out = t.read(spark)
    assert "id" in out.columns
    rows = {r["id"]: r["meta"]["uri"] for r in out.collect()}
    assert rows == {"d1": "u1", "d2": "u2"}


def test_drop_nested_field(spark, tmp_path):
    t = _mk(spark, tmp_path / "m3")
    drop_column(spark, t, "meta.url")
    out = t.read(spark)
    assert "url" not in dict(out.dtypes)["meta"]
    assert {r["doc_id"]: r["meta"]["score"] for r in out.collect()} == {"d1": 5, "d2": 7}
    drop_column(spark, t, "tags.weight")
    out2 = t.read(spark)
    assert "weight" not in dict(out2.dtypes)["tags"]
    drop_column(spark, t, "meta")
    assert "meta" not in t.read(spark).columns


def test_noop_migrations_keep_the_table_readable(spark, tmp_path):
    """A rename onto the same name and a drop of an absent column leave the
    schema as it was; the rewritten files must name a schema the snapshot
    holds, so the table stays readable after each."""
    schema = T.StructType(
        [T.StructField("doc_id", T.StringType(), False), T.StructField("source", T.StringType(), True)]
    )
    t = LakeTable.create(str(tmp_path / "noop"), schema, [])
    t.commit("append", t.write_data_files(spark.createDataFrame([("d1", "web"), ("d2", "pdf")], schema), []))
    want = {"d1": "web", "d2": "pdf"}
    rename_column(spark, t, "source", "source")
    assert {r["doc_id"]: r["source"] for r in t.read(spark).collect()} == want
    drop_column(spark, t, "not_a_column")
    assert {r["doc_id"]: r["source"] for r in t.read(spark).collect()} == want


def test_update_partitioning_rewrite(spark, tmp_path):
    t = _mk(spark, tmp_path / "m4")
    new_spec = [PartitionField("bucket", "doc_id", "bucket_m3", 2)]
    update_partitioning(spark, t, new_spec)
    assert [p.name for p in t.partition_spec] == ["bucket"]
    assert t.read(spark).count() == 2
    # pruned read still works under the new layout
    buckets = {f["partition"]["bucket"] for f in t.current_snapshot().files}
    assert buckets  # files carry bucket partition values now


def test_update_partitioning_conflict_safety(spark, tmp_path):
    """A concurrent commit between the spec-change's snapshot read and its
    commit must raise CommitConflict, not silently clobber the other writer."""
    import pytest

    from clin_variant_etl_spark.lake.table import CommitConflict, LakeTable as LT

    t = _mk(spark, tmp_path / "m_conflict")
    new_spec = [PartitionField("b", "doc_id", "bucket_m3", 4)]
    snap = t.current_snapshot()
    df = t.read(spark, snapshot_id=snap.snapshot_id)
    files = t.write_data_files(df, new_spec)
    # concurrent writer lands first
    other = LT(t.path)
    other.commit("append", other.write_data_files(df.limit(1), []))
    with pytest.raises(CommitConflict):
        t.commit("update_partitioning", files, replace_all=True,
                 expected_parent=snap.snapshot_id, new_spec=new_spec)
    # and the happy path (fresh read) adopts the new spec with a fresh timestamp
    before_ts = t.current_snapshot().timestamp_ms
    s = update_partitioning(spark, t, new_spec)
    assert [p.name for p in s.partition_spec] == ["b"]
    assert s.timestamp_ms >= before_ts
    assert t.read(spark).count() == 3


def test_align_expr_map_value_evolution(spark):
    """Evolution inside MAP VALUES: align_frame fills new struct fields in
    map values with typed nulls (keys never evolve — merge_schemas raises)."""
    from pyspark.sql import types as T

    from clin_variant_etl_spark.schemas import align_frame, merge_schemas

    src_t = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField(
                "m",
                T.MapType(
                    T.StringType(),
                    T.StructType([T.StructField("a", T.IntegerType())]),
                ),
            ),
        ]
    )
    dst_inner = T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    dst_t = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("m", T.MapType(T.StringType(), dst_inner)),
        ]
    )
    # merge_schemas produces exactly this dst (append + widen inside map value)
    assert merge_schemas(src_t, dst_t).simpleString() == dst_t.simpleString()

    df = spark.createDataFrame([("x", {"p": (1,)}), ("y", None)], src_t)
    out = align_frame(df, dst_t)
    assert out.schema.simpleString() == dst_t.simpleString()
    rows = {r["k"]: r["m"] for r in out.collect()}
    assert rows["x"]["p"]["a"] == 1 and rows["x"]["p"]["b"] is None
    assert rows["y"] is None


def test_apply_refuses_a_spec_off_the_key(spark, tmp_path):
    """After ``update_partitioning`` onto a payload column the merge could
    not find the stored versions of its keys (it reads and replaces the
    buckets the keys hash to), so a later epoch would write a second live
    row per key: ``apply_epoch`` refuses, and the table keeps its state."""
    import pytest

    from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
    from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA

    ev_schema = "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string"
    path = str(tmp_path / "respec")
    create_cdc_table(path, BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, path)
    pipe.apply_epoch(spark.createDataFrame([(1, "I", "a", [1], 1, "w")], ev_schema), 0)
    update_partitioning(spark, pipe.table, [PartitionField("source", "source")])
    sid = pipe.table.current_snapshot().snapshot_id
    with pytest.raises(ValueError, match="partitioned by one 'bucket' field on the key"):
        pipe.apply_epoch(spark.createDataFrame([(2, "U", "a", [2], 2, "w")], ev_schema), 1)
    assert pipe.table.current_snapshot().snapshot_id == sid
    assert [(r["doc_id"], r["n_tok"]) for r in pipe.read_state().collect()] == [("a", 1)]

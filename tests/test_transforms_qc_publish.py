"""Transformation pipelines, publish/alias tags, compaction bin-packing,
and the QC runner (VERDICT round-1 missing items 5-8)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F, types as T

from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
from clin_variant_etl_spark.lake import LakeTable, PartitionField
from clin_variant_etl_spark.lake.maintenance import compact
from clin_variant_etl_spark.qc import (
    QCError,
    handle_errors,
    run_cdc_qc,
    run_checks,
    should_not_contain_duplicates,
)
from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA
from clin_variant_etl_spark.testgen import EventGenConfig, generate_change_events, write_events_by_epoch
from clin_variant_etl_spark.transforms import (
    TransformationMapping,
    apply_transformations,
    cast,
    custom,
    drop,
    input_file_name,
    keep_first_within_partition,
    lit,
    rename,
    upper_case,
)


# ------------------------------------------------------------ transforms
def test_transformation_pipeline_order_and_names(spark):
    df = spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("b", 1, 30)], "k string, ver int, v int"
    )
    steps = [
        keep_first_within_partition(["k"], "ver"),
        rename("v", "value"),
        cast("value", "long"),
        lit("src", "unit"),
        upper_case("k"),
        drop("ver"),
    ]
    out = apply_transformations(df, steps)
    rows = {r["k"]: (r["value"], r["src"]) for r in out.collect()}
    assert rows == {"A": (20, "unit"), "B": (30, "unit")}
    assert out.schema["value"].dataType == T.LongType()
    # pipelines are named and ordered (the reference's mapping model)
    m = TransformationMapping({"docs": steps})
    assert m.step_names("docs")[0].startswith("keep_first:k:by:ver")
    assert [s.split(":")[0] for s in m.step_names("docs")] == [
        "keep_first", "rename", "cast", "lit", "upper", "drop",
    ]


def test_transformation_input_file_name(spark, tmp_path):
    p = str(tmp_path / "f.parquet")
    spark.range(3).write.parquet(p)
    out = apply_transformations(spark.read.parquet(p), [input_file_name("src_file")])
    assert all("f.parquet" in r["src_file"] for r in out.collect())


def test_custom_transformation_composes_one_plan(spark):
    df = spark.range(10).withColumnRenamed("id", "x")
    out = apply_transformations(
        df, [custom("square", lambda d: d.withColumn("y", F.col("x") * F.col("x")))]
    )
    assert out.where(F.col("y") == 81).count() == 1


# ------------------------------------------------------------ publish/tags
def test_publish_alias_swap_and_pinned_readers(spark, tmp_path):
    schema = T.StructType([T.StructField("doc_id", T.StringType()), T.StructField("v", T.IntegerType())])
    t = LakeTable.create(str(tmp_path / "pub"), schema, [])
    df1 = spark.createDataFrame([("d1", 1)], schema)
    s1 = t.commit("append", t.write_data_files(df1, []))
    t.publish()  # points 'published' at s1
    df2 = spark.createDataFrame([("d2", 2)], schema)
    t.commit("append", t.write_data_files(df2, []))
    # consumers on the alias still see the published snapshot...
    assert t.read(spark, ref="published").count() == 1
    # ...writers see head
    assert t.read(spark).count() == 2
    # swap: publish the new snapshot; alias readers atomically move
    t.publish()
    assert t.read(spark, ref="published").count() == 2
    assert t.refs()["published"] == t.current_snapshot().snapshot_id
    with pytest.raises(KeyError):
        t.resolve_ref("nope")
    with pytest.raises(ValueError):
        t.tag("bad", snapshot_id=999)


# ------------------------------------------------------------ compaction
def test_compact_per_partition_selection_and_binpack(spark, tmp_path):
    schema = T.StructType([T.StructField("doc_id", T.StringType()), T.StructField("v", T.IntegerType())])
    spec = [PartitionField("bucket", "doc_id", "bucket_m3", 2)]
    t = LakeTable.create(str(tmp_path / "cmp"), schema, spec)
    # 3 append commits -> up to 3 files per bucket
    for i in range(3):
        df = spark.createDataFrame([(f"d{j}", i) for j in range(8)], schema)
        t.commit("append", t.write_data_files(df, spec))
    by_part = {}
    for f in t.current_snapshot().files:
        by_part.setdefault(f["partition"]["bucket"], []).append(f)
    fat = [p for p, fs in by_part.items() if len(fs) >= 2]
    assert fat, "expected multi-file buckets"
    before_rows = t.read(spark).count()
    untouched_shards_before = {
        m["path"] for m in t.current_snapshot().manifests if m["partition"]["bucket"] not in fat
    }
    compact(spark, t, min_input_files=2)
    after = {}
    for f in t.current_snapshot().files:
        after.setdefault(f["partition"]["bucket"], []).append(f)
    assert all(len(fs) == 1 for p, fs in after.items() if p in fat)
    assert t.read(spark).count() == before_rows
    # untouched buckets kept their shards by reference
    untouched_shards_after = {
        m["path"] for m in t.current_snapshot().manifests if m["partition"]["bucket"] not in fat
    }
    assert untouched_shards_before == untouched_shards_after
    # bin-packing: a tiny target forces >1 output file per rewritten bucket
    for i in range(2):
        df = spark.createDataFrame([(f"d{j}", i) for j in range(8)], schema)
        t.commit("append", t.write_data_files(df, spec))
    compact(spark, t, min_input_files=2, target_file_bytes=700)
    packed = {}
    for f in t.current_snapshot().files:
        packed.setdefault(f["partition"]["bucket"], []).append(f)
    assert any(len(fs) > 1 for fs in packed.values())
    assert t.read(spark).count() == before_rows + 16  # the two extra appends


# ------------------------------------------------------------ qc runner
def test_qc_green_on_consistent_table(spark, tmp_path):
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, str(tmp_path / "docs"), n_salts=4)
    cfg = EventGenConfig(n_docs=60, n_events=900, n_epochs=3, seed=77)
    tbl = generate_change_events(cfg)
    write_events_by_epoch(tbl, str(tmp_path / "events"))
    for k in range(3):
        pipe.apply_epoch(spark.read.parquet(str(tmp_path / "events" / f"epoch={k}")), k)
    results = run_cdc_qc(spark, pipe)
    assert all(r.passed for r in results)
    assert {r.name for r in results} == {
        "non_duplication_by_key",
        "no_null_keys",
        "token_count_consistent",
        "lineage_conserves_events",
        "checkpoint_epochs_contiguous",
    }


def test_qc_catches_duplicates_and_reports_all(spark):
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 3)], "k string, v int")
    results = run_checks(
        {
            "dups": lambda: should_not_contain_duplicates(df, "k"),
            "clean": lambda: df.limit(0),
        }
    )
    by = {r.name: r for r in results}
    assert not by["dups"].passed and by["dups"].n_offending == 1
    assert by["clean"].passed
    with pytest.raises(QCError, match="dups"):
        handle_errors(results)


def test_qc_sample_rows_seeded(spark):
    from clin_variant_etl_spark.qc import sample_rows

    df = spark.range(10000)
    a = sample_rows(df, 0.1).count()
    b = sample_rows(df, 0.1).count()
    assert a == b  # seeded -> deterministic
    assert 500 < a < 1500


def test_count_derived_batching(spark):
    from clin_variant_etl_spark.queries.multimodal import repartition_for_external_batches

    df = spark.range(2500)
    out = repartition_for_external_batches(df, rows_per_batch=1000)
    assert out.rdd.getNumPartitions() == 3
    assert out.count() == 2500

"""Load types — the reference's write/merge semantics re-expressed over LakeTable.

Reference LoadType inventory (SURVEY.md §1.4; etl/conf/EtlConfiguration.scala:4):
OverWrite, OverWritePartition(Dynamic), Upsert, Scd1, Read.  Here each is a
function ``(spark, table, df) -> Snapshot``; `Read` is just ``table.read``.

All of these are *partition-scoped rewrites*: at 100 TB the write cost is
proportional to the partitions/buckets actually touched, never the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import align_frame, merge_schemas, same_shape
from .table import LakeTable, Snapshot


def _evolved_schema(table: LakeTable, df: DataFrame):
    cur = table.schema
    merged = merge_schemas(cur, df.schema)
    if same_shape(merged, cur):
        return cur, False
    return merged, True


def overwrite(spark: SparkSession, table: LakeTable, df: DataFrame, properties=None) -> Snapshot:
    """Truncate-and-replace (reference: OverWrite, e.g. enriched_clinical)."""
    schema, evolved = _evolved_schema(table, df)
    files = table.write_data_files(align_frame(df, schema), table.partition_spec)
    return table.commit("overwrite", files, replace_all=True, new_schema=schema if evolved else None, properties=properties)


def overwrite_partitions(spark: SparkSession, table: LakeTable, df: DataFrame, properties=None) -> Snapshot:
    """Replace only partitions present in df — idempotent batch replay
    (reference: OverWritePartition/Dynamic on normalized_snv by analysis_id,
    etl/conf/EtlConfiguration.scala:120-121)."""
    schema, evolved = _evolved_schema(table, df)
    spec = table.partition_spec
    touched = table.partitions_of(df)
    files = table.write_data_files(align_frame(df, schema), spec)
    # an unpartitioned table is one partition: replace all of it, like
    # Spark's dynamic overwrite
    return table.commit(
        "overwrite_partitions",
        files,
        replace_partitions=touched,
        replace_all=not spec,
        new_schema=schema if evolved else None,
        properties=properties,
    )


def _merge_rewrite(
    spark: SparkSession,
    table: LakeTable,
    df: DataFrame,
    keys: list[str],
    row_resolver,
    operation: str,
    properties=None,
) -> Snapshot:
    """Shared machinery for Upsert/Scd1: read only affected partitions, resolve
    source-vs-target rows, rewrite those partitions."""
    schema, evolved = _evolved_schema(table, df)
    spec = table.partition_spec
    src = align_frame(df, schema)

    if spec:
        touched = table.partitions_of(src)
        pfilter = {}
        for p in spec:
            pfilter[p.name] = {t[p.name] for t in touched}
        target = align_frame(table.read(spark, partition_filter=pfilter), schema)
    else:
        touched = None
        target = align_frame(table.read(spark), schema)

    merged = row_resolver(src, target, keys, schema)
    files = table.write_data_files(merged, spec)
    return table.commit(
        operation,
        files,
        replace_partitions=touched,
        replace_all=touched is None,
        new_schema=schema if evolved else None,
        properties=properties,
    )


def upsert(spark: SparkSession, table: LakeTable, df: DataFrame, keys: list[str], properties=None) -> Snapshot:
    """MERGE insert-or-update on keys (reference: Upsert on normalized_varsome,
    keys=(chromosome,start,reference,alternate), etl/conf/EtlConfiguration.scala:87).

    Spark-first emulation: source ∪ (target ⟕anti source on keys) — the
    matched target rows are replaced wholesale by source rows.
    """

    def resolve(src, target, ks, schema):
        return src.unionByName(target.join(src.select(*ks).distinct(), ks, "left_anti"))

    return _merge_rewrite(spark, table, df, keys, resolve, "upsert", properties)


def scd1(
    spark: SparkSession,
    table: LakeTable,
    df: DataFrame,
    keys: list[str],
    created_on: str = "created_on",
    updated_on: str = "updated_on",
    properties=None,
) -> Snapshot:
    """SCD-1 keyed merge: ``updated_on`` bumps only when the payload changed,
    ``created_on`` is preserved from the existing row (reference: Scd1 on
    normalized_consequences, oid column semantics,
    etl/conf/EtlConfiguration.scala:125,139; etl/normalized/Consequences.scala:92-94)."""

    def resolve(src, target, ks, schema):
        payload = [f.name for f in schema.fields if f.name not in set(ks) | {created_on, updated_on}]
        s = src.alias("s")
        t = target.alias("t")
        joined = s.join(t, ks, "left")
        changed = F.lit(False)
        for c in payload:
            changed = changed | ~F.col(f"s.{c}").eqNullSafe(F.col(f"t.{c}"))
        cols = [F.col(f"s.{k}").alias(k) for k in ks]
        cols += [F.col(f"s.{c}").alias(c) for c in payload]
        cols.append(F.coalesce(F.col(f"t.{created_on}"), F.col(f"s.{created_on}")).alias(created_on))
        cols.append(
            F.when(F.col(f"t.{updated_on}").isNull() | changed, F.col(f"s.{updated_on}"))
            .otherwise(F.col(f"t.{updated_on}"))
            .alias(updated_on)
        )
        resolved = joined.select(*cols)
        untouched = t.join(s.select(*ks).distinct(), ks, "left_anti")
        return resolved.unionByName(untouched)

    return _merge_rewrite(spark, table, df, keys, resolve, "scd1", properties)

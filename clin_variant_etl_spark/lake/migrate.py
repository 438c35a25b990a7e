"""Controlled schema migrations — the reference's UpdateSchemaETL family
(SURVEY.md §1.3): rename / drop columns, including fields nested inside
structs and arrays of structs, executed as an overwrite-with-new-schema
rewrite of the table onto itself.

(reference: etl/script/schema/UpdateSchemaETL.scala:21-31,
 etl/script/schema/SchemaUtils.scala:22-37,100-126,
 etl/script/RenameServiceRequestColumns.scala:40-78 — renames inside arrays
 of structs; etl/script/DropUrlColumns.scala:22-46 — nested drops.)

Unlike add/widen evolution (engine/apply.py — no rewrite), these migrations
change history: the table is rewritten under the new schema in one commit.
At 100 TB the rewrite parallelizes per partition/bucket exactly like any
other write; nothing here is driver-bound except the manifest swap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .table import LakeTable, Snapshot


def _rename_in_type(dt: T.DataType, path: list[str], new_name: str) -> T.DataType:
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_rename_in_type(dt.elementType, path, new_name), dt.containsNull)
    if isinstance(dt, T.StructType):
        head, rest = path[0], path[1:]
        fields = []
        for f in dt.fields:
            if f.name == head:
                if rest:
                    fields.append(
                        T.StructField(f.name, _rename_in_type(f.dataType, rest, new_name), f.nullable)
                    )
                else:
                    fields.append(T.StructField(new_name, f.dataType, f.nullable))
            else:
                fields.append(f)
        return T.StructType(fields)
    raise ValueError(f"path {path} does not resolve inside {dt.simpleString()}")


def _drop_in_type(dt: T.DataType, path: list[str]) -> T.DataType:
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_drop_in_type(dt.elementType, path), dt.containsNull)
    if isinstance(dt, T.StructType):
        head, rest = path[0], path[1:]
        fields = []
        for f in dt.fields:
            if f.name == head:
                if rest:
                    fields.append(T.StructField(f.name, _drop_in_type(f.dataType, rest), f.nullable))
                # else: dropped
            else:
                fields.append(f)
        return T.StructType(fields)
    raise ValueError(f"path {path} does not resolve inside {dt.simpleString()}")


def _align_to(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Cast a frame to an exactly-shaped schema (names resolved positionally
    within structs is NOT wanted — Spark's cast on structs matches by
    position, which is correct here because rename/drop preserve order)."""
    return df.select(
        *[F.col(f"`{old.name}`").cast(new.dataType).alias(new.name)
          for old, new in zip(df.schema.fields, schema.fields)]
    )


def rename_column(spark: SparkSession, table: LakeTable, path: str, new_name: str) -> Snapshot:
    """Rename a (possibly nested, possibly inside arrays-of-structs) column.

    ``path`` is dot-separated, e.g. ``"meta.tags.label"`` where ``tags`` may
    be an array of structs.  The rewrite relies on struct casts matching by
    position, so data is untouched — only names change.
    """
    parts = path.split(".")
    cur = table.schema
    new_schema = _rename_in_type(T.StructType(cur.fields), parts, new_name)
    assert isinstance(new_schema, T.StructType)
    df = table.read(spark)
    out = _align_to(df, new_schema)
    files = table.write_data_files(out, table.partition_spec)
    return table.commit("rename_column", files, replace_all=True, new_schema=new_schema)


def drop_column(spark: SparkSession, table: LakeTable, path: str) -> Snapshot:
    """Drop a (possibly nested) column/field everywhere, incl. inside arrays."""
    parts = path.split(".")
    cur = table.schema
    new_schema = _drop_in_type(T.StructType(cur.fields), parts)
    assert isinstance(new_schema, T.StructType)
    df = table.read(spark)
    if len(parts) == 1:
        out = df.drop(parts[0])
    else:
        out = df.withColumn(parts[0], _drop_expr(df.schema[parts[0]].dataType, F.col(parts[0]), parts[1:]))
        out = out.select(*[f.name for f in new_schema.fields])
    out = _align_to(out, new_schema)
    files = table.write_data_files(out, table.partition_spec)
    return table.commit("drop_column", files, replace_all=True, new_schema=new_schema)


def _drop_expr(dt: T.DataType, col: F.Column, path: list[str]) -> F.Column:
    if isinstance(dt, T.ArrayType):
        return F.transform(col, lambda x: _drop_expr(dt.elementType, x, path))
    if isinstance(dt, T.StructType):
        head, rest = path[0], path[1:]
        if rest:
            inner = dt[head].dataType
            return col.withField(head, _drop_expr(inner, col.getField(head), rest))
        return col.dropFields(head)
    raise ValueError(f"path {path} does not resolve inside {dt.simpleString()}")


def update_partitioning(spark: SparkSession, table: LakeTable, new_spec) -> Snapshot:
    """Rewrite the table under a new partition spec (reference:
    etl/script/UpdatePartitioning.scala:14-52).  One overwrite commit through
    the same ``commit()`` path as every data writer: the ``expected_parent``
    guard rejects the rewrite if a concurrent writer committed between the
    snapshot read and the commit (instead of silently clobbering them), and
    the new snapshot gets a fresh timestamp so time travel stays coherent."""
    snap = table.current_snapshot()
    df = table.read(spark, snapshot_id=snap.snapshot_id)
    # same invariant as maintenance.compact: a full rewrite must not
    # silently erase manifest blooms a bloomed table relies on for lookups
    bloom_cols = tuple(
        sorted({c for e in snap.files for c in (e.get("blooms") or {})})
    )
    files = table.write_data_files(df, new_spec, bloom_cols=bloom_cols)
    return table.commit(
        "update_partitioning",
        files,
        replace_all=True,
        expected_parent=snap.snapshot_id,
        new_spec=list(new_spec),
    )

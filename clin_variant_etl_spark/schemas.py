"""Canonical schemas for the CDC engine (BASELINE.json input_hint + FIXTURES.md).

The reference declares fixed, code-side schemas for every table (SURVEY.md §1.3;
reference: src/test/.../model/normalized/NormalizedSNV.scala); we do the same in
one module so every job, test, and generator shares a single source of truth.
"""

from __future__ import annotations

from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# F1. base_docs — the target lake table (input_hint shape, exactly)
# ---------------------------------------------------------------------------
BASE_DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

# ---------------------------------------------------------------------------
# F2. change_events — the ordered change-event log (stream input)
# ---------------------------------------------------------------------------
CHANGE_EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("lsn", T.LongType(), False),
        T.StructField("op", T.StringType(), False),  # I / U / D
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType()), True),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
        T.StructField("event_ts", T.TimestampType(), True),
        T.StructField("epoch_hint", T.IntegerType(), True),
    ]
)

# F3. change_events_v2 — schema-evolution epochs add (lang, quality)
CHANGE_EVENTS_V2_SCHEMA = T.StructType(
    CHANGE_EVENTS_SCHEMA.fields
    + [
        T.StructField("lang", T.StringType(), True),
        T.StructField("quality", T.DoubleType(), True),
    ]
)

# Engine-internal columns carried in lake data files (never shown on read()).
INTERNAL_LAST_LSN = "_last_lsn"
INTERNAL_DELETED = "_deleted"


def same_shape(a: T.StructType, b: T.StructType) -> bool:
    """Structural equality ignoring nullability/metadata — nullable relaxation
    (e.g. parquet reads are always nullable) is not schema evolution."""
    return [(f.name, f.dataType.simpleString()) for f in a.fields] == [
        (f.name, f.dataType.simpleString()) for f in b.fields
    ]


def merge_schemas(current: T.StructType, incoming: T.StructType) -> T.StructType:
    """In-place schema evolution: add new fields, widen numeric types.

    Mirrors delta ``schema.autoMerge`` semantics the reference relies on
    (reference: etl/conf/EtlConfiguration.scala:53) without history rewrite:
    - fields only in ``incoming`` are appended (old rows read as null);
    - int→long, float→double widenings are allowed;
    - anything else incompatible raises.
    """
    widen_ok = {
        ("integer", "long"),
        ("short", "integer"),
        ("short", "long"),
        ("byte", "short"),
        ("byte", "integer"),
        ("byte", "long"),
        ("float", "double"),
        ("integer", "double"),
        ("long", "double"),
    }

    def _merge_type(cur: T.DataType, inc: T.DataType, path: str) -> T.DataType:
        if cur == inc:
            return cur
        if (cur.typeName(), inc.typeName()) in widen_ok:
            return inc
        if (inc.typeName(), cur.typeName()) in widen_ok:
            return cur
        if isinstance(cur, T.ArrayType) and isinstance(inc, T.ArrayType):
            return T.ArrayType(
                _merge_type(cur.elementType, inc.elementType, path + ".element"),
                cur.containsNull or inc.containsNull,
            )
        if isinstance(cur, T.MapType) and isinstance(inc, T.MapType):
            # map KEYS identify entries — a key-type change is a different
            # map, not an evolution; values evolve like any nested type
            if cur.keyType != inc.keyType:
                raise ValueError(
                    f"incompatible map-key change at {path}: {cur.keyType} vs {inc.keyType}"
                )
            return T.MapType(
                cur.keyType,
                _merge_type(cur.valueType, inc.valueType, path + ".value"),
                cur.valueContainsNull or inc.valueContainsNull,
            )
        if isinstance(cur, T.StructType) and isinstance(inc, T.StructType):
            return _merge_struct(cur, inc, path)
        raise ValueError(f"incompatible schema change at {path}: {cur} vs {inc}")

    def _merge_struct(cur: T.StructType, inc: T.StructType, path: str) -> T.StructType:
        by_name = {f.name: f for f in cur.fields}
        out = list(cur.fields)
        for f in inc.fields:
            if f.name in by_name:
                i = next(i for i, g in enumerate(out) if g.name == f.name)
                merged = _merge_type(by_name[f.name].dataType, f.dataType, f"{path}.{f.name}")
                out[i] = T.StructField(f.name, merged, by_name[f.name].nullable or f.nullable)
            else:
                out.append(T.StructField(f.name, f.dataType, True))
        return T.StructType(out)

    return _merge_struct(current, incoming, "$")


def align_expr(col, src: T.DataType, dst: T.DataType):
    """Expression aligning a value of type ``src`` to type ``dst``.

    A plain ``.cast()`` cannot express evolution INSIDE nested types: Spark
    struct casts require equal field counts, so adding a field inside an
    ``array<struct<…>>`` (the reference's RenameServiceRequestColumns shape,
    etl/script/RenameServiceRequestColumns.scala:40-78) would fail at
    analysis on every pre-evolution file.  This builder recurses instead:

    - identical types pass through untouched (no-op column);
    - structs are rebuilt field-by-field — fields missing in ``src`` become
      typed nulls, outer NULL structs stay NULL (``when(isNotNull)`` guard);
    - arrays recurse through ``transform`` (NULL arrays stay NULL for free);
    - map values recurse through ``transform_values`` (map KEYS never evolve
      — ``merge_schemas`` would have raised);
    - everything else takes the sanctioned widening cast.

    ``merge_schemas`` is the gatekeeper: it only ever produces ``dst`` types
    this function can realize from ``src`` (supersets + widenings).
    """
    from pyspark.sql import functions as F

    if src.simpleString() == dst.simpleString():
        return col
    if isinstance(dst, T.StructType) and isinstance(src, T.StructType):
        by_name = {f.name: f for f in src.fields}
        parts = []
        for f in dst.fields:
            if f.name in by_name:
                parts.append(
                    align_expr(col[f.name], by_name[f.name].dataType, f.dataType).alias(f.name)
                )
            else:
                parts.append(F.lit(None).cast(f.dataType).alias(f.name))
        return F.when(col.isNotNull(), F.struct(*parts)).otherwise(F.lit(None)).cast(dst)
    if isinstance(dst, T.ArrayType) and isinstance(src, T.ArrayType):
        return F.transform(col, lambda x: align_expr(x, src.elementType, dst.elementType))
    if isinstance(dst, T.MapType) and isinstance(src, T.MapType):
        return F.transform_values(col, lambda k, v: align_expr(v, src.valueType, dst.valueType))
    return col.cast(dst)


def align_frame(df, target: T.StructType):
    """Project ``df`` onto ``target``: missing columns become typed nulls,
    evolved columns go through ``align_expr`` (nested-aware), extra columns
    are dropped.  Shared by the lake read path (per-schema-id file groups →
    current schema) and the CDC apply (net change / prior state → merged
    schema)."""
    from pyspark.sql import functions as F

    by_name = {f.name: f for f in df.schema.fields}
    cols = []
    for f in target.fields:
        if f.name in by_name:
            cols.append(align_expr(F.col(f.name), by_name[f.name].dataType, f.dataType).alias(f.name))
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)

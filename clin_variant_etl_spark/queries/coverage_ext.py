"""Coverage extension: the SURVEY.md §2 operator rows not already exercised by
relational.py / cdc_events.py — null normalization (B6), join-and-nest (C3),
array-containment join (C8), join-on-exploded-keys (C12), map-building agg
(D5), driver-scalar injection (D7), unordered dropDuplicates (E3),
multi-path union scan (A4/A6/G1), nested struct mutation (H-struct) — plus
``cdc_engine_full_replay``: the REAL CdcPipeline (bucketed lake table, salted
dedup, LSN-guarded merge, tombstone deletes, exactly-once commits) replaying
the ``events`` table as a change log, oracle-checked against last-writer-wins
SQL.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .registry import load, query


# =========================================================================
# B6 — null normalization (reference: parseNullString/coalesce defaults,
# etl/normalized/Franklin.scala:109-110; etl/es/PrepareGeneCentric.scala:72-77)
# =========================================================================
@query(
    "null_normalize_status",
    oracle="""
SELECT COALESCE(NULLIF(o_orderstatus, 'P'), 'UNKNOWN') AS status_norm,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_nulled
FROM orders
GROUP BY 1
""",
    survey="B6,B4,D2",
    # rotated out of the driver gate in r4 (driver rows r01-r03 green;
    # survey codes stay covered by gated siblings) to free a slot for a
    # never-gated query -- see __spark_entry__.py rotation table
    gate=False,
)
def null_normalize_status(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    norm = F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("P")), F.lit("UNKNOWN"))
    return (
        o.groupBy(norm.alias("status_norm"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("o_orderstatus") == "P", 1).otherwise(0))
            .cast("long")
            .alias("n_nulled"),
        )
    )


# =========================================================================
# C3 — join-and-nest: left join then pack the right side into ONE struct
# column (reference joinAndMerge, etl/enriched/Variants.scala:288-300),
# then flatten for the oracle comparison.
# =========================================================================
@query(
    "join_nest_customer_orders",
    oracle="""
WITH stats AS (
  SELECT o_custkey, COUNT(*) AS n_orders,
         CAST(SUM(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS total_cents
  FROM orders GROUP BY 1
)
SELECT c.c_custkey AS custkey,
       COALESCE(s.n_orders, 0) AS n_orders,
       COALESCE(s.total_cents, 0) AS total_cents
FROM customer c LEFT JOIN stats s ON s.o_custkey = c.c_custkey
WHERE c.c_custkey <= 300
""",
    survey="C3,C4,B6",
)
def join_nest_customer_orders(spark, sf_dir):
    c = load(spark, sf_dir, "customer").where(F.col("c_custkey") <= 300)
    o = load(spark, sf_dir, "orders")
    stats = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("total_cents"),
    )
    nested = (
        c.join(stats, c.c_custkey == stats.o_custkey, "left")
        # the C3 shape: the joined side carried as one struct column
        .select(
            F.col("c_custkey").alias("custkey"),
            F.struct(
                F.col("n_orders").alias("n_orders"), F.col("total_cents").alias("total_cents")
            ).alias("order_stats"),
        )
    )
    return nested.select(
        "custkey",
        F.coalesce(F.col("order_stats.n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("order_stats.total_cents"), F.lit(0)).alias("total_cents"),
    )


# =========================================================================
# C8 + D4 — array-containment (theta) join against a collected-array dim;
# C12 — the explode→equi-join rewrite of the same join (both produce the
# same answer; the oracle covers both).
# (reference: array_contains(panels.symbol) joins, etl/enriched/Variants.scala:336;
#  person⋈patient via array_contains, etl/fhir/EnrichedClinical.scala:157)
# =========================================================================
_MEMBERSHIP_ORACLE = """
WITH dim AS (
  SELECT label, list(vec_id ORDER BY vec_id) AS ids
  FROM embeddings WHERE vec_id < 100 GROUP BY label
)
SELECT e.vec_id, CAST(d.label AS BIGINT) AS bucket_label,
       CAST(len(d.ids) AS BIGINT) AS bucket_size
FROM embeddings e JOIN dim d ON list_contains(d.ids, e.vec_id)
"""


@query("array_contains_join", oracle=_MEMBERSHIP_ORACLE, survey="C8,D4,H-array")
def array_contains_join(spark, sf_dir):
    e = load(spark, sf_dir, "embeddings")
    dim = (
        e.where(F.col("vec_id") < 100)
        .groupBy("label")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
    )
    return (
        e.select("vec_id")
        .join(F.broadcast(dim), F.array_contains(F.col("ids"), F.col("vec_id")))
        .select(
            "vec_id",
            F.col("label").cast("long").alias("bucket_label"),
            F.size("ids").cast("long").alias("bucket_size"),
        )
    )


@query("explode_keys_join", oracle=_MEMBERSHIP_ORACLE, survey="C12,D4,H-array")
def explode_keys_join(spark, sf_dir):
    """Same membership join rewritten explode→equi-join — the shuffle-friendly
    form the engine prefers at scale (no broadcast of wide arrays)."""
    e = load(spark, sf_dir, "embeddings")
    dim = (
        e.where(F.col("vec_id") < 100)
        .groupBy("label")
        .agg(F.sort_array(F.collect_list("vec_id")).alias("ids"))
    )
    exploded = dim.select(
        F.col("label"), F.size("ids").alias("bucket_size"), F.explode("ids").alias("member_id")
    )
    return (
        e.select("vec_id")
        .join(exploded, F.col("vec_id") == F.col("member_id"))
        .select(
            "vec_id",
            F.col("label").cast("long").alias("bucket_label"),
            F.col("bucket_size").cast("long").alias("bucket_size"),
        )
    )


# =========================================================================
# D5 — map-building aggregation rendered deterministically
# (reference: map_from_entries(collect_list(...)), etl/normalized/Variants.scala:198)
# =========================================================================
@query(
    "map_agg_source_counts",
    oracle="""
WITH per AS (
  SELECT lang, source, COUNT(*) AS cnt FROM documents GROUP BY 1, 2
)
SELECT lang,
       string_agg(source || ':' || cnt, ',' ORDER BY source) AS source_counts,
       CAST(COUNT(*) AS BIGINT) AS n_sources
FROM per
GROUP BY lang
""",
    survey="D5,D4,H-map",
    # rotated out of the driver gate in r4 (driver rows r01-r03 green;
    # survey codes stay covered by gated siblings) to free a slot for a
    # never-gated query -- see __spark_entry__.py rotation table
    gate=False,
)
def map_agg_source_counts(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    per = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("cnt"))
    m = F.map_from_entries(F.collect_list(F.struct("source", "cnt")))
    rendered = F.concat_ws(
        ",",
        F.transform(
            F.sort_array(F.map_entries(m)),
            lambda e: F.concat(e.key, F.lit(":"), e.value.cast("string")),
        ),
    )
    return per.groupBy("lang").agg(
        rendered.alias("source_counts"), F.count(F.lit(1)).cast("long").alias("n_sources")
    )


# =========================================================================
# D7 — aggregate-to-driver scalar injected back as a literal
# (reference getPn: count → collect().head → lit(pn),
#  etl/utils/FrequencyUtils.scala:91-107)
# =========================================================================
@query(
    "driver_scalar_share",
    oracle="""
SELECT c_nationkey AS nationkey,
       COUNT(*) AS n_customers,
       CAST(COUNT(*) AS DOUBLE) / CAST((SELECT COUNT(*) FROM customer) AS DOUBLE) AS share
FROM customer
GROUP BY 1
""",
    survey="D7,D1",
    # rotated out mid-r4 (driver rows green r01-r03; the D7 scalar→lit
    # pattern stays exercised by tfidf_top_terms + multimodal's F3 count
    # rule) to free a slot for attribution_last_touch — see
    # __spark_entry__.py rotation table
    gate=False,
)
def driver_scalar_share(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    total = c.count()  # driver-side scalar, re-injected as a literal
    return c.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        (F.count(F.lit(1)).cast("double") / F.lit(float(total))).alias("share"),
    )


# =========================================================================
# E3 — unordered dropDuplicates (deterministic key-only projection)
# (reference: dropDuplicates(keyCols), etl/normalized/Variants.scala:123)
# =========================================================================
@query(
    "drop_duplicates_keys",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
    survey="E3,D9",
)
def drop_duplicates_keys(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return e.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])


# =========================================================================
# A4/A6/G1 — multi-path scan union with schema tolerance
# (reference: Franklin per-analysis union, etl/normalized/Franklin.scala:31-57;
#  unionByName allowMissingColumns, etl/enriched/Variants.scala:81)
# =========================================================================
@query(
    "union_parties",
    oracle="""
SELECT kind, nationkey, COUNT(*) AS n,
       CAST(SUM(CASE WHEN segment IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing_segment
FROM (
  SELECT 'customer' AS kind, c_nationkey AS nationkey, c_mktsegment AS segment FROM customer
  UNION ALL
  SELECT 'supplier' AS kind, s_nationkey AS nationkey, NULL AS segment FROM supplier
) u
GROUP BY 1, 2
""",
    survey="A4,A6,G1,G2,B6",
)
def union_parties(spark, sf_dir):
    import functools

    frames = [
        load(spark, sf_dir, "customer").select(
            F.lit("customer").alias("kind"),
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("segment"),
        ),
        load(spark, sf_dir, "supplier").select(
            F.lit("supplier").alias("kind"), F.col("s_nationkey").alias("nationkey")
        ),
    ]
    u = functools.reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), frames
    )
    return u.groupBy("kind", "nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("segment").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_missing_segment"),
    )


# =========================================================================
# H-struct — withField / dropFields nested mutation without rebuild
# (reference: etl/enriched/CNV.scala:311; etl/utils/transformation/
#  Transformations.scala:27-30)
# =========================================================================
@query(
    "struct_mutation",
    oracle="""
SELECT o_orderkey AS orderkey,
       CAST(round(o_totalprice*100) AS BIGINT) AS total_cents,
       CAST(round(o_totalprice*100) AS BIGINT) + 100 AS total_plus_fee
FROM orders WHERE o_orderkey <= 1000
""",
    survey="H-struct,B1",
    # rotated out of the driver gate in r4 (driver rows r01-r03 green;
    # survey codes stay covered by gated siblings) to free a slot for a
    # never-gated query -- see __spark_entry__.py rotation table
    gate=False,
)
def struct_mutation(spark, sf_dir):
    o = load(spark, sf_dir, "orders").where(F.col("o_orderkey") <= 1000)
    s = F.struct(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("total_cents"),
        F.col("o_orderstatus").alias("status"),
    )
    mutated = (
        s.withField("total_plus_fee", s.getField("total_cents") + 100).dropFields("status")
    )
    return o.select(F.col("o_orderkey").alias("orderkey"), mutated.alias("m")).select(
        "orderkey", F.col("m.total_cents").alias("total_cents"), F.col("m.total_plus_fee").alias("total_plus_fee")
    )


# =========================================================================
# THE ENGINE ITSELF UNDER THE ORACLE GATE — replay ``events`` as a CDC
# change log through the real CdcPipeline: bucketed lake table, salted
# two-phase dedup, LSN-guarded merge with tombstone deletes, exactly-once
# epoch commits.  Epochs are interleaved mod-4 slices of the LSN space, so
# every epoch delivers events both older and newer than already-applied
# state — the late/out-of-order path is exercised, not just the happy path.
# Oracle: last-writer-wins by LSN; a user whose final event is an 'error'
# (mapped to op=D) is tombstoned out.
# =========================================================================
# =========================================================================
# A7 load types under the oracle gate — Upsert and Scd1 applied through the
# real LakeTable/load.py path on a temp table, final state vs SQL.
# (reference: Upsert normalized_varsome etl/conf/EtlConfiguration.scala:87;
#  Scd1 normalized_consequences :125,139)
# =========================================================================
@query(
    "upsert_load_replay",
    oracle="""
SELECT o_orderkey AS orderkey,
       CASE WHEN o_orderkey % 3 = 0
            THEN CAST(round(o_totalprice*100) AS BIGINT) + 1
            ELSE CAST(round(o_totalprice*100) AS BIGINT) END AS total_cents,
       CASE WHEN o_orderkey % 3 = 0 THEN 'b2' ELSE 'b1' END AS batch
FROM orders
WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0
""",
    survey="A7,load-upsert,J2",
)
def upsert_load_replay(spark, sf_dir):
    import tempfile

    from pyspark.sql import types as T

    from ..lake import load as lake_load
    from ..lake.table import LakeTable, PartitionField

    schema = T.StructType(
        [
            T.StructField("orderkey", T.LongType(), False),
            T.StructField("total_cents", T.LongType(), True),
            T.StructField("batch", T.StringType(), True),
        ]
    )
    tmp = tempfile.mkdtemp(prefix="upsert_q_")
    tbl = LakeTable.create(
        f"{tmp}/t", schema, [PartitionField("bucket", "orderkey", "bucket_m3", 8)]
    )
    o = load(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    b1 = o.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("orderkey"), cents.alias("total_cents"), F.lit("b1").alias("batch")
    )
    b2 = o.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("orderkey"),
        (cents + 1).alias("total_cents"),
        F.lit("b2").alias("batch"),
    )
    lake_load.upsert(spark, tbl, b1, keys=["orderkey"])
    lake_load.upsert(spark, tbl, b2, keys=["orderkey"])
    return tbl.read(spark)


@query(
    "scd1_load_replay",
    oracle="""
SELECT o_orderkey AS orderkey,
       CASE WHEN o_orderkey % 3 = 0 AND o_orderkey % 5 <> 0
            THEN 'U' ELSE o_orderstatus END AS status,
       't1' AS created_on,
       CASE WHEN o_orderkey % 3 = 0
             AND NOT (o_orderkey % 2 = 0 AND o_orderkey % 5 = 0)
            THEN 't2' ELSE 't1' END AS updated_on
FROM orders
WHERE o_orderkey % 2 = 0 OR o_orderkey % 3 = 0
""",
    survey="A7,load-scd1,E1",
)
def scd1_load_replay(spark, sf_dir):
    """SCD-1 semantics under the oracle gate.  Batch 2 (keys %3==0) rewrites
    status to 'U' EXCEPT keys %5==0, which resend the unchanged payload —
    so keys %30==0 exercise the no-payload-change branch: updated_on must
    stay 't1' while changed rows bump to 't2'; created_on is preserved from
    the existing row; keys only in batch 2 are plain inserts."""
    import tempfile

    from pyspark.sql import types as T

    from ..lake import load as lake_load
    from ..lake.table import LakeTable, PartitionField

    schema = T.StructType(
        [
            T.StructField("orderkey", T.LongType(), False),
            T.StructField("status", T.StringType(), True),
            T.StructField("created_on", T.StringType(), True),
            T.StructField("updated_on", T.StringType(), True),
        ]
    )
    tmp = tempfile.mkdtemp(prefix="scd1_q_")
    tbl = LakeTable.create(
        f"{tmp}/t", schema, [PartitionField("bucket", "orderkey", "bucket_m3", 8)]
    )
    o = load(spark, sf_dir, "orders")
    b1 = o.where(F.col("o_orderkey") % 2 == 0).select(
        F.col("o_orderkey").alias("orderkey"),
        F.col("o_orderstatus").alias("status"),
        F.lit("t1").alias("created_on"),
        F.lit("t1").alias("updated_on"),
    )
    b2 = o.where(F.col("o_orderkey") % 3 == 0).select(
        F.col("o_orderkey").alias("orderkey"),
        F.when(F.col("o_orderkey") % 5 == 0, F.col("o_orderstatus"))
        .otherwise(F.lit("U"))
        .alias("status"),
        F.lit("t1").alias("created_on"),
        F.lit("t2").alias("updated_on"),
    )
    lake_load.scd1(spark, tbl, b1, keys=["orderkey"])
    lake_load.scd1(spark, tbl, b2, keys=["orderkey"])
    return tbl.read(spark)


@query(
    "cdc_engine_full_replay",
    oracle="""
SELECT CAST(user_id AS VARCHAR) AS doc_id,
       event_type AS last_type,
       CAST(round(value*100) AS BIGINT) AS value_cents,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
   AND event_type <> 'error'
""",
    survey="engine,A5,A7,E1,J2,J4,J6,D9,F1",
)
def cdc_engine_full_replay(spark, sf_dir):
    import tempfile

    from pyspark.sql import types as T

    from ..engine.apply import CdcPipeline, create_cdc_table

    payload_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("last_type", T.StringType(), True),
            T.StructField("value_cents", T.LongType(), True),
            T.StructField("ts_s", T.StringType(), True),
        ]
    )
    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col("user_id").cast("string").alias("doc_id"),
        F.col("event_type").alias("last_type"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )

    tmp = tempfile.mkdtemp(prefix="cdc_replay_q_")
    tpath = f"{tmp}/table"
    create_cdc_table(tpath, payload_schema, n_buckets=8)
    pipe = CdcPipeline(
        spark,
        tpath,
        lineage_path=f"{tmp}/lineage",
        checkpoint_path=f"{tmp}/ckpt",
        n_salts=4,
    )
    for epoch in range(4):
        # interleaved LSN slices → late + out-of-order delivery by design
        batch = ev.where(F.pmod(F.col("lsn"), F.lit(4)) == epoch)
        pipe.apply_epoch(batch, epoch)
    return pipe.read_state()


@query(
    "cdc_engine_mor_replay",
    oracle="""
SELECT CAST(user_id AS VARCHAR) AS doc_id,
       event_type AS last_type,
       CAST(round(value*100) AS BIGINT) AS value_cents,
       strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) = 1
   AND event_type <> 'error'
""",
    survey="engine,A5,A7,E1,J2,J4,J6,D9,F1,mor",
    # gated since r4 (new operator: merge-on-read delta apply)
)
def cdc_engine_mor_replay(spark, sf_dir):
    """The same interleaved-LSN replay as ``cdc_engine_full_replay`` but
    through the MERGE-ON-READ apply mode: each epoch appends only its net
    change as delta files (the existing payload is never read or rewritten),
    a mid-replay ``compact(resolve_keep_latest=…)`` folds deltas into base
    exactly as production maintenance would, and ``read_state`` resolves
    base+delta by keep-max-LSN.  Final visible state must be byte-identical
    to the CoW path and to the SQL oracle (engine/apply.py module docstring;
    reference ceiling analogue: Delta CoW MERGE,
    etl/conf/EtlConfiguration.scala:47,52)."""
    import tempfile

    from pyspark.sql import types as T

    from ..engine.apply import CdcPipeline, create_cdc_table
    from ..lake.maintenance import compact
    from ..schemas import INTERNAL_LAST_LSN

    payload_schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType(), False),
            T.StructField("last_type", T.StringType(), True),
            T.StructField("value_cents", T.LongType(), True),
            T.StructField("ts_s", T.StringType(), True),
        ]
    )
    ev = load(spark, sf_dir, "events").select(
        F.col("event_id").alias("lsn"),
        F.when(F.col("event_type") == "error", F.lit("D")).otherwise(F.lit("U")).alias("op"),
        F.col("user_id").cast("string").alias("doc_id"),
        F.col("event_type").alias("last_type"),
        F.round(F.col("value") * 100).cast("long").alias("value_cents"),
        F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts_s"),
    )

    tmp = tempfile.mkdtemp(prefix="cdc_mor_q_")
    tpath = f"{tmp}/table"
    create_cdc_table(tpath, payload_schema, n_buckets=8)
    pipe = CdcPipeline(spark, tpath, n_salts=4, apply_mode="mor")
    for epoch in range(4):
        batch = ev.where(F.pmod(F.col("lsn"), F.lit(4)) == epoch)
        pipe.apply_epoch(batch, epoch)
        if epoch == 1:
            compact(spark, pipe.table, resolve_keep_latest=("doc_id", INTERNAL_LAST_LSN))
    return pipe.read_state()


# =========================================================================
# D-ext: multi-level grouping sets (ROLLUP) with GROUPING() disambiguation.
# The OLAP subtotal operator: one pass emits (nation, segment), (nation),
# and grand-total rows; grouping flags distinguish subtotal NULLs from data
# NULLs.  Spark executes rollup as a single Expand + hash aggregate — one
# shuffle for all three levels, not three jobs (the reason to use it over
# three unions at 100 TB).
# =========================================================================
@query(
    "rollup_customers_by_nation_segment",
    oracle="""
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       c_mktsegment AS segment,
       COUNT(*) AS n_customers,
       CAST(SUM(CAST(round(c_acctbal*100) AS BIGINT)) AS BIGINT) AS sum_acctbal_cents,
       CAST(GROUPING(c_nationkey) AS BIGINT) AS g_nation,
       CAST(GROUPING(c_mktsegment) AS BIGINT) AS g_segment
FROM customer
GROUP BY ROLLUP (c_nationkey, c_mktsegment)
""",
    survey="D-rollup,D1,H-math",
)
def rollup_customers_by_nation_segment(spark, sf_dir):
    c = load(spark, sf_dir, "customer")
    return (
        c.rollup("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.round(F.col("c_acctbal") * 100).cast("long"))
            .cast("long")
            .alias("sum_acctbal_cents"),
            F.grouping("c_nationkey").cast("long").alias("g_nation"),
            F.grouping("c_mktsegment").cast("long").alias("g_segment"),
        )
        .select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.col("c_mktsegment").alias("segment"),
            "n_customers",
            "sum_acctbal_cents",
            "g_nation",
            "g_segment",
        )
    )


# =========================================================================
# D-ext: pivot (long → wide reshape).  Spark's groupBy().pivot(values=…)
# with EXPLICIT pivot values compiles to conditional aggregates in ONE pass
# (no values-discovery job, no second shuffle); the oracle is the identical
# FILTER-aggregate form.  Always pin the value list at scale — the implicit
# form runs a distinct scan first and caps at 10k values.
# =========================================================================
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@query(
    "pivot_user_event_counts",
    oracle=f"""
SELECT user_id,
       {", ".join(f"COALESCE(COUNT(*) FILTER (WHERE event_type = '{t}'), 0) AS n_{t}" for t in _EVENT_TYPES)},
       CAST(SUM(CAST(round(value*100) AS BIGINT)) FILTER (WHERE event_type = 'purchase') AS BIGINT)
         AS purchase_cents
FROM events
GROUP BY user_id
""",
    survey="D-pivot,D1,D2",
)
def pivot_user_event_counts(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    wide = (
        e.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    return wide.select(
        "user_id",
        *[F.coalesce(F.col(f"{t}_n"), F.lit(0)).cast("long").alias(f"n_{t}") for t in _EVENT_TYPES],
        F.col("purchase_cents").cast("long").alias("purchase_cents"),
    )


# =========================================================================
# D-ext: sketch aggregation — HyperLogLog++ approximate distinct counts.
# The scale alternative every exact-count docstring in this repo points at:
# when the distinct set itself outgrows a shuffle (unique users at web
# scale), the HLL sketch is fixed-size per group and merges associatively
# (partial aggregation stays map-side).  No SQL oracle by design — sketch
# estimates are engine-specific — so this rides the driver's rows-only
# contract; the ERROR BOUND is pinned by tests/test_sketches.py against the
# exact count (rsd=0.01 ⇒ observed error ≪ 5%).
# =========================================================================
@query(
    "approx_distinct_users_by_type",
    oracle=None,
    survey="D-sketch,D1",
    gate=False,
)
def approx_distinct_users_by_type(spark, sf_dir):
    e = load(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
    )

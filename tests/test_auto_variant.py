"""Adaptive dedup-variant selection (engine/dedup.py latest_by_key_auto).

The probe always runs — it is the apply's bucket histogram — and the
payload plan follows THIS batch's measured winner count: broadcast join
while the winner set fits ``broadcast_max_rows`` (payload never shuffles),
salted single-pass once it cannot.  These tests pin the decision table AND
that every branch returns identical winners + lineage counts.
"""

from pyspark.sql import functions as F

from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
from clin_variant_etl_spark.engine.dedup import latest_by_key_auto, latest_by_key_salted
from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA

SCHEMA = "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string"


def _events(spark):
    rows = [
        (1, "I", "a", [1], 1, "w"),
        (3, "U", "a", [3], 1, "w"),
        (3, "U", "a", [3], 1, "w"),  # exact dup of winner
        (2, "U", "a", [2], 1, "w"),
        (5, "I", "b", [5], 1, "w"),
        (4, "I", "c", [4], 1, "w"),
    ]
    return spark.createDataFrame(rows, SCHEMA)


EXPECT = {"a": (3, [3]), "b": (5, [5]), "c": (4, [4])}


def _winners(df):
    return {r["doc_id"]: (r["lsn"], r["tokens"]) for r in df.collect()}


def test_auto_decision_table_and_equivalence(spark):
    ev = _events(spark)
    # (threshold, plan): 3 winners fit 10 and 3; they exceed 2 and 0.  The
    # probe measures the same histogram every time.
    for max_rows, variant in ((10, "join"), (3, "join"), (2, "salted"), (0, "salted")):
        probe = latest_by_key_auto(ev, "doc_id", "lsn", broadcast_max_rows=max_rows)
        try:
            assert probe.variant == variant, max_rows
            # lineage: 3 keys, 5 distinct (key, lsn) pairs over 6 events
            assert (probe.n_winners, probe.n_pairs, probe.buckets) == (3, 5, {"0": 3})
            assert _winners(probe.payload()) == EXPECT
            assert _winners(probe.payload(n_parts=7)) == EXPECT
        finally:
            probe.unpersist()

    # a bucket expression splits the same winners into a histogram
    probe = latest_by_key_auto(ev, "doc_id", "lsn", bucket_expr=F.col("doc_id"))
    probe.unpersist()
    assert probe.buckets == {"a": 1, "b": 1, "c": 1}

    # reference semantics: every branch equals the salted ground truth
    assert _winners(latest_by_key_salted(ev, "doc_id", "lsn", 4)) == EXPECT


def test_pipeline_auto_is_default_and_reports_choice(spark, tmp_path):
    ev = _events(spark)

    create_cdc_table(str(tmp_path / "t1"), BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, str(tmp_path / "t1"))
    res = pipe.apply_epoch(ev, 0)
    assert res.dedup_variant_used == "join"  # 3 winners fit 4M threshold

    # threshold 1: epoch 0 measures 3 winners and goes salted; epoch 1
    # measures its own single winner and goes back to the broadcast join —
    # the previous epoch's count never skips the probe
    create_cdc_table(str(tmp_path / "t2"), BASE_DOCS_SCHEMA, n_buckets=4)
    pipe2 = CdcPipeline(spark, str(tmp_path / "t2"), broadcast_max_rows=1)
    res0 = pipe2.apply_epoch(ev, 0)
    assert res0.dedup_variant_used == "salted"
    ev1 = spark.createDataFrame([(9, "U", "a", [9], 1, "w")], SCHEMA)
    res1 = pipe2.apply_epoch(ev1, 1)
    assert res1.dedup_variant_used == "join"
    assert (res1.event_count, res1.applied_updates) == (1, 1)

    # both pipelines converge to the same state as the fixed-variant engine
    s1 = {r["doc_id"]: r["tokens"] for r in pipe.read_state().collect()}
    assert s1 == {"a": [3], "b": [5], "c": [4]}
    s2 = {r["doc_id"]: r["tokens"] for r in pipe2.read_state().collect()}
    assert s2 == {"a": [9], "b": [5], "c": [4]}

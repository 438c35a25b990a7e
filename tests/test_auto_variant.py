"""Adaptive dedup-variant selection (engine/dedup.py latest_by_key_auto).

The policy pivots on the measured winner count: broadcast join while the
winner set fits ``broadcast_max_rows`` (payload never shuffles), salted
single-pass once it cannot; the previous epoch's net count short-circuits
the probe with 2x hysteresis.  These tests pin the decision table AND that
every branch returns identical winners + lineage counts.
"""

from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
from clin_variant_etl_spark.engine.dedup import latest_by_key_auto, latest_by_key_salted
from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA


def _events(spark):
    rows = [
        (1, "I", "a", [1], 1, "w"),
        (3, "U", "a", [3], 1, "w"),
        (3, "U", "a", [3], 1, "w"),  # exact dup of winner
        (2, "U", "a", [2], 1, "w"),
        (5, "I", "b", [5], 1, "w"),
        (4, "I", "c", [4], 1, "w"),
    ]
    return spark.createDataFrame(
        rows, "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string"
    )


EXPECT = {"a": (3, [3], 4, 3), "b": (5, [5], 1, 1), "c": (4, [4], 1, 1)}


def _winners(df):
    return {r["doc_id"]: (r["lsn"], r["tokens"], r["_c"], r["_d"]) for r in df.collect()}


def test_auto_decision_table_and_equivalence(spark):
    ev = _events(spark)
    cleanup: list = []

    # 1. winners (3) fit the threshold -> probed broadcast join
    small = {}
    out = latest_by_key_auto(
        ev, "doc_id", "lsn", count_col="_c", distinct_col="_d",
        broadcast_max_rows=10, cleanup=cleanup, chosen=small,
    )
    assert _winners(out) == EXPECT
    assert small == {"variant": "join", "probed": True, "n_winners": 3}

    # 2. winners exceed the threshold -> probed salted fallback
    big = {}
    out = latest_by_key_auto(
        ev, "doc_id", "lsn", count_col="_c", distinct_col="_d",
        broadcast_max_rows=2, cleanup=cleanup, chosen=big,
    )
    assert _winners(out) == EXPECT
    assert big == {"variant": "salted", "probed": True, "n_winners": 3}

    # 3. history says winners cannot fit -> salted WITHOUT a probe job
    est = {}
    out = latest_by_key_auto(
        ev, "doc_id", "lsn", count_col="_c", distinct_col="_d",
        broadcast_max_rows=2, estimate=5, cleanup=cleanup, chosen=est,
    )
    assert _winners(out) == EXPECT
    assert est == {"variant": "salted", "probed": False, "n_winners": None}

    # 4. estimate within 2x hysteresis -> still probes (stream may shrink)
    hyst = {}
    latest_by_key_auto(
        ev, "doc_id", "lsn", count_col="_c", distinct_col="_d",
        broadcast_max_rows=2, estimate=4, cleanup=cleanup, chosen=hyst,
    )
    assert hyst["probed"] is True

    # 5. probe disabled -> shuffle join, no broadcast decision
    off = {}
    out = latest_by_key_auto(
        ev, "doc_id", "lsn", count_col="_c", distinct_col="_d",
        broadcast_max_rows=None, cleanup=cleanup, chosen=off,
    )
    assert _winners(out) == EXPECT
    assert off == {"variant": "join", "probed": False, "n_winners": None}

    for h in cleanup:
        h.unpersist()

    # reference semantics: every branch equals the salted ground truth
    assert _winners(
        latest_by_key_salted(ev, "doc_id", "lsn", 4, count_col="_c", distinct_col="_d")
    ) == EXPECT


def test_pipeline_auto_is_default_and_reports_choice(spark, tmp_path):
    ev = _events(spark)

    create_cdc_table(str(tmp_path / "t1"), BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, str(tmp_path / "t1"))
    res = pipe.apply_epoch(ev, 0)
    assert res.dedup_variant_used == "join"  # 3 winners fit 4M threshold

    # tiny threshold: epoch 0 probes and falls to salted; epoch 1 skips the
    # probe because epoch 0's net count (3) > 2 * threshold (1)
    create_cdc_table(str(tmp_path / "t2"), BASE_DOCS_SCHEMA, n_buckets=4)
    pipe2 = CdcPipeline(spark, str(tmp_path / "t2"), broadcast_max_rows=1)
    res0 = pipe2.apply_epoch(ev, 0)
    assert res0.dedup_variant_used == "salted"
    assert pipe2._net_estimate == 3
    rep = {}
    ev1 = spark.createDataFrame(
        [(9, "U", "a", [9], 1, "w")],
        "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string",
    )
    res1 = pipe2.apply_epoch(ev1, 1)
    assert res1.dedup_variant_used == "salted"

    # both pipelines converge to the same state as the fixed-variant engine
    s1 = {r["doc_id"]: r["tokens"] for r in pipe.read_state().collect()}
    assert s1 == {"a": [3], "b": [5], "c": [4]}
    s2 = {r["doc_id"]: r["tokens"] for r in pipe2.read_state().collect()}
    assert s2 == {"a": [9], "b": [5], "c": [4]}

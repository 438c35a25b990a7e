"""End-to-end CDC apply vs the pandas replay oracle (the flagship slice).

Reference analogue of the assertions: exact recomputation + compare
(etl/qc/frequency/RQDMTotal.scala) and non-duplication invariant
(etl/qc/variantlist/NonDuplicationSNV.scala:10-16).
"""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F, types as T

from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
from clin_variant_etl_spark.engine.oracle import assert_state_equals, replay_oracle
from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA
from clin_variant_etl_spark.testgen import (
    EventGenConfig,
    expected_tokens,
    generate_base_docs,
    generate_change_events,
    write_base_docs,
    write_events_by_epoch,
)


@pytest.fixture()
def pipeline(spark, tmp_path):
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=8)
    return CdcPipeline(spark, str(tmp_path / "docs"))


def _events_df(spark, tmp_path, cfg):
    tbl = generate_change_events(cfg)
    write_events_by_epoch(tbl, str(tmp_path / "events"), files_per_epoch=2)
    return tbl


def test_generator_determinism_and_token_reproducibility():
    cfg = EventGenConfig(n_docs=50, n_events=500, seed=7)
    a = generate_change_events(cfg)
    b = generate_change_events(cfg)
    assert a.equals(b)
    # any row reproducible in isolation
    row = a.slice(0, 200).to_pandas()
    row = row[row["op"] != "D"].iloc[3]
    assert list(row["tokens"]) == list(expected_tokens(row["lsn"], row["n_tok"]))


def test_apply_all_epochs_matches_oracle(spark, tmp_path, pipeline):
    cfg = EventGenConfig(n_docs=200, n_events=4000, n_epochs=5, seed=11)
    tbl = _events_df(spark, tmp_path, cfg)
    events_pdf = tbl.to_pandas()
    for k in range(cfg.n_epochs):
        ev = spark.read.parquet(str(tmp_path / "events" / f"epoch={k}"))
        res = pipeline.apply_epoch(ev, k)
        assert not res.skipped
        # lineage invariant: dup+stale+applied == events in
        assert (
            res.dropped_duplicates
            + res.dropped_stale
            + res.applied_inserts
            + res.applied_updates
            + res.applied_deletes
            == res.event_count
        )
    oracle = replay_oracle(events_pdf)
    assert_state_equals(pipeline.read_state(), oracle)
    # non-duplication invariant (D9): no doc_id occurs twice
    dups = pipeline.read_state().groupBy("doc_id").count().where(F.col("count") > 1).count()
    assert dups == 0


def test_apply_with_base_table(spark, tmp_path, pipeline):
    base = generate_base_docs(n_docs=100, seed=3)
    path = write_base_docs(base, str(tmp_path / "base"))
    base_df = spark.read.parquet(path)
    # seed the lake with the initial state as lsn=0 inserts
    ev0 = base_df.select(
        F.lit(0).cast("long").alias("lsn"),
        F.lit("I").alias("op"),
        "doc_id",
        "tokens",
        "n_tok",
        "source",
        F.lit(None).cast("timestamp").alias("event_ts"),
        F.lit(-1).cast("int").alias("epoch_hint"),
    )
    pipeline.apply_epoch(ev0, 0)
    cfg = EventGenConfig(n_docs=100, n_events=1500, n_epochs=3, seed=5)
    tbl = _events_df(spark, tmp_path, cfg)
    for k in range(cfg.n_epochs):
        ev = spark.read.parquet(str(tmp_path / "events" / f"epoch={k}"))
        pipeline.apply_epoch(ev, k + 1)
    oracle = replay_oracle(tbl.to_pandas(), base=base.to_pandas())
    assert_state_equals(pipeline.read_state(), oracle)


def test_out_of_order_epochs_late_events_stay_dead(spark, tmp_path, pipeline):
    """A late U with lsn < a delete's lsn must stay dead (tombstone guard)."""
    s = spark

    def ev(rows):
        return s.createDataFrame(
            rows, "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string"
        )

    # epoch 0: insert d1 (lsn 1), delete d1 (lsn 5)
    pipeline.apply_epoch(ev([(1, "I", "d1", [1, 2], 2, "web"), (5, "D", "d1", None, None, None)]), 0)
    assert pipeline.read_state().count() == 0
    # epoch 1: late update with lsn 3 (< 5) → dropped_stale, still dead
    res = pipeline.apply_epoch(ev([(3, "U", "d1", [9], 1, "web")]), 1)
    assert res.dropped_stale == 1
    assert pipeline.read_state().count() == 0
    # epoch 2: reinsert with lsn 7 → revived
    pipeline.apply_epoch(ev([(7, "I", "d1", [7, 7], 2, "code")]), 2)
    got = pipeline.read_state().collect()
    assert len(got) == 1 and got[0]["tokens"] == [7, 7]


def test_duplicate_redelivery_across_epochs_dropped(spark, pipeline):
    def ev(rows):
        return spark.createDataFrame(
            rows, "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string"
        )

    pipeline.apply_epoch(ev([(1, "I", "d1", [1], 1, "web")]), 0)
    res = pipeline.apply_epoch(ev([(1, "I", "d1", [1], 1, "web")]), 1)  # same lsn again
    assert res.dropped_duplicates == 1 and res.dropped_stale == 0 and res.applied_updates == 0
    assert pipeline.read_state().count() == 1


def test_schema_evolution_mid_stream(spark, tmp_path, pipeline):
    """Producer upgrades at epoch 2: (lang, quality) appear; engine evolves
    the table in place (no history rewrite) and the final state matches the
    oracle including the new columns."""
    cfg = EventGenConfig(n_docs=80, n_events=1200, n_epochs=4, seed=21, v2_from_epoch=2)
    tbl = _events_df(spark, tmp_path, cfg)
    results = []
    for k in range(cfg.n_epochs):
        ev = spark.read.parquet(str(tmp_path / "events" / f"epoch={k}"))
        results.append(pipeline.apply_epoch(ev, k))
    # evolution fires exactly at the cutover epoch
    assert [r.evolved_schema for r in results] == [False, False, True, False]
    oracle = replay_oracle(tbl.to_pandas())
    assert_state_equals(pipeline.read_state(), oracle)
    # pre-evolution snapshots keep the old schema (time travel, no rewrite)
    pre = pipeline.read_state(snapshot_id=results[1].snapshot_id)
    assert "lang" not in pre.columns and "quality" not in pre.columns


def test_lineage_invariants(spark, tmp_path, pipeline):
    cfg = EventGenConfig(n_docs=50, n_events=800, n_epochs=4, seed=13)
    tbl = _events_df(spark, tmp_path, cfg)
    results = []
    for k in range(cfg.n_epochs):
        ev = spark.read.parquet(str(tmp_path / "events" / f"epoch={k}"))
        results.append(pipeline.apply_epoch(ev, k))
    log = pipeline.epoch_log()
    # one record per epoch, each naming the snapshot that applied it
    assert [e["epoch_id"] for e in log] == list(range(cfg.n_epochs))
    assert [e["snapshot_id"] for e in log] == [r.snapshot_id for r in results]
    events = tbl.to_pandas()
    for e, r in zip(log, results):
        # F5 invariant: the record's event count and source offsets are the
        # epoch's own events
        src = events[events.epoch_hint == e["epoch_id"]]
        assert e["event_count"] == r.event_count == len(src)
        assert (e["source_min_lsn"], e["source_max_lsn"]) == (src.lsn.min(), src.lsn.max())
        # applied+dropped == event_count
        assert (
            e["applied_inserts"] + e["applied_updates"] + e["applied_deletes"]
            + e["dropped_duplicates"] + e["dropped_stale"]
            == e["event_count"]
        )
        assert e["applied_updates"] == r.applied_updates
        assert e["dropped_stale"] == r.dropped_stale


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_narrower_event_key_updates_stored_rows(spark, tmp_path, mode):
    """Int-keyed events into a bigint-keyed table: the key keeps the table's
    type, and murmur3 hashes an int and a bigint differently, so the epoch
    must bucket its keys as the table stores them.  The updated keys land
    in other buckets when hashed as int; each must still update its stored
    row, and the state keep one row per key."""
    payload = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.StringType())])
    create_cdc_table(str(tmp_path / "t"), payload, key_col="id", n_buckets=8)
    pipe = CdcPipeline(spark, str(tmp_path / "t"), key_col="id", apply_mode=mode)
    keys, updated = range(40), [0, 1, 2]
    old = [(k, "I", k, "old") for k in keys]
    new = [(100 + k, "U", k, "new") for k in updated]
    pipe.apply_epoch(spark.createDataFrame(old, "lsn long, op string, id long, v string"), 0)
    ev = spark.createDataFrame(new, "lsn long, op string, id int, v string")

    def bucket(c):  # the bucket_m3 formula
        return F.pmod(F.hash(c), F.lit(8))

    assert all(
        r[0] != r[1] for r in ev.select(bucket("id"), bucket(F.col("id").cast("long"))).collect()
    )
    res = pipe.apply_epoch(ev, 1)
    assert (res.applied_inserts, res.applied_updates) == (0, len(updated))
    state = pipe.read_state()
    assert dict(state.dtypes)["id"] == "bigint"
    want = [(k, "new" if k in updated else "old") for k in keys]
    assert sorted((r["id"], r["v"]) for r in state.collect()) == want


def test_dedup_variants_equivalent(spark):
    """Every plan ``latest_by_key_auto`` can pick — broadcast join and
    salted, each with and without the aligned pre-partitioning — and the
    salted variant called directly must produce identical winners, and the
    probe the same lineage counts (incl. exact-duplicate redeliveries)
    whichever plan it picks."""
    from clin_variant_etl_spark.engine.dedup import latest_by_key_auto, latest_by_key_salted

    rows = [
        (1, "I", "a", [1], 1, "w"),
        (3, "U", "a", [3], 1, "w"),
        (3, "U", "a", [3], 1, "w"),  # exact dup of winner
        (2, "U", "a", [2], 1, "w"),
        (5, "I", "b", [5], 1, "w"),
        (5, "I", "b", [5], 1, "w"),  # dup
        (4, "I", "c", [4], 1, "w"),
    ]
    ev = spark.createDataFrame(
        rows, "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string"
    )

    def winners(df):
        return {r["doc_id"]: (r["lsn"], r["tokens"]) for r in df.collect()}

    want = {"a": (3, [3]), "b": (5, [5]), "c": (4, [4])}
    assert winners(latest_by_key_salted(ev, "doc_id", "lsn", 4)) == want
    # broadcast_max_rows picks the plan: 3 winners fit 10 (broadcast join);
    # 0 cannot hold them (salted).  The probe always runs: 3 winners,
    # 5 distinct (key, lsn) pairs of 7 events
    for max_rows, variant in ((10, "join"), (0, "salted")):
        probe = latest_by_key_auto(ev, "doc_id", "lsn", n_salts=4, broadcast_max_rows=max_rows)
        try:
            assert probe.variant == variant
            assert (probe.n_winners, probe.n_pairs) == (3, 5)
            for n_parts in (None, 5):
                assert winners(probe.payload(n_parts)) == want, (max_rows, n_parts)
        finally:
            probe.unpersist()

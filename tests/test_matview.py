"""Incremental materialized-aggregate maintenance (engine/matview.py).

Oracle: after every refresh, the MV must equal a FULL recompute of the same
groupBy/agg over ``read_state()`` — inserts, updates (retract+apply), deletes,
late events, and group-death (count→0) all flow through the pre/post-image
feed.  All maintained values here are integer-domain (n_tok), so incremental
sums are exact, not approximately equal.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from clin_variant_etl_spark.engine import (
    AggSpec,
    CdcPipeline,
    MaterializedAggregate,
    create_cdc_table,
)
from clin_variant_etl_spark.lake.table import CommitConflict
from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA, CHANGE_EVENTS_SCHEMA
from clin_variant_etl_spark.testgen import (
    EventGenConfig,
    generate_change_events,
    write_events_by_epoch,
)

AGGS = {
    "n_docs": AggSpec("count"),
    "total_tok": AggSpec("sum", "n_tok"),
    "avg_tok": AggSpec("avg", "n_tok"),
    "min_tok": AggSpec("min", "n_tok"),
    "max_tok": AggSpec("max", "n_tok"),
}


def _ev(spark, rows):
    """rows: (doc_id, tokens, n_tok, source, lsn, op) → change-event frame."""
    data = [
        {"lsn": lsn, "op": op, "doc_id": d, "tokens": t, "n_tok": n,
         "source": s, "event_ts": None, "epoch_hint": None}
        for (d, t, n, s, lsn, op) in rows
    ]
    return spark.createDataFrame(data, CHANGE_EVENTS_SCHEMA)


def _recompute(pipe) -> pd.DataFrame:
    full = (
        pipe.read_state()
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tok"),
            F.avg("n_tok").alias("avg_tok"),
            F.min("n_tok").alias("min_tok"),
            F.max("n_tok").alias("max_tok"),
        )
    )
    return full.toPandas().sort_values("source").reset_index(drop=True)


def _mv_frame(mv) -> pd.DataFrame:
    return (
        mv.read()
        .select("source", "n_docs", "total_tok", "avg_tok", "min_tok", "max_tok")
        .toPandas()
        .sort_values("source")
        .reset_index(drop=True)
    )


def _setup(spark, tmp_path, mode: str, cfg: EventGenConfig):
    tbl = generate_change_events(cfg)
    src = str(tmp_path / "events")
    write_events_by_epoch(tbl, src)
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, str(tmp_path / "docs"), apply_mode=mode)
    mv = MaterializedAggregate(
        pipe, str(tmp_path / "mv"), ["source"], AGGS, n_buckets=4
    )
    return src, pipe, mv


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_mv_tracks_recompute_every_epoch(spark, tmp_path, mode):
    cfg = EventGenConfig(n_docs=150, n_events=2000, n_epochs=4, seed=7)
    src, pipe, mv = _setup(spark, tmp_path, mode, cfg)
    for ep in range(4):
        pipe.apply_epoch(spark.read.parquet(f"{src}/epoch={ep}"), epoch_id=ep)
        res = mv.refresh()
        assert res["refreshed"]
        pd.testing.assert_frame_equal(_mv_frame(mv), _recompute(pipe))


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_mv_refresh_across_schema_evolving_epoch(spark, tmp_path, mode):
    """A refresh whose window spans the epoch that adds (lang, quality):
    the pre-images come from the pre-evolution snapshot and must be read
    in the current schema, not fail to resolve the new columns."""
    cfg = EventGenConfig(n_docs=120, n_events=1500, n_epochs=3, seed=29, v2_from_epoch=1)
    src, pipe, mv = _setup(spark, tmp_path, mode, cfg)
    for ep in range(3):
        pipe.apply_epoch(spark.read.parquet(f"{src}/epoch={ep}"), epoch_id=ep)
        assert mv.refresh()["refreshed"]
        pd.testing.assert_frame_equal(_mv_frame(mv), _recompute(pipe))
    assert "lang" in pipe.read_state().columns


def test_mv_refresh_is_idempotent_and_batched(spark, tmp_path):
    """A second refresh with no new source snapshot is a no-op; one refresh
    spanning several epochs equals per-epoch refreshes (snapshot-window
    algebra, not per-epoch bookkeeping)."""
    cfg = EventGenConfig(n_docs=100, n_events=1200, n_epochs=4, seed=13)
    src, pipe, mv = _setup(spark, tmp_path, "mor", cfg)
    for ep in range(2):
        pipe.apply_epoch(spark.read.parquet(f"{src}/epoch={ep}"), epoch_id=ep)
    assert mv.refresh()["refreshed"]
    again = mv.refresh()
    assert not again["refreshed"]
    mv_snap = mv.table.current_snapshot().snapshot_id
    # two more epochs folded by ONE refresh
    for ep in range(2, 4):
        pipe.apply_epoch(spark.read.parquet(f"{src}/epoch={ep}"), epoch_id=ep)
    assert mv.refresh()["refreshed"]
    pd.testing.assert_frame_equal(_mv_frame(mv), _recompute(pipe))
    assert mv.table.current_snapshot().snapshot_id == mv_snap + 1


def test_mv_group_death_and_delete_retraction(spark, tmp_path):
    """Deleting every doc of one source drops its group; deleting the current
    max-n_tok doc of another forces the extrema recompute path."""
    docs = [
        ("a1", list(range(10)), 10, "s_dead"),
        ("a2", list(range(20)), 20, "s_dead"),
        ("b1", list(range(30)), 30, "s_live"),
        ("b2", list(range(40)), 40, "s_live"),
        ("b3", list(range(5)), 5, "s_live"),
    ]
    ev = [(d, t, n, s, i + 1, "I") for i, (d, t, n, s) in enumerate(docs)]
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=2)
    pipe = CdcPipeline(spark, str(tmp_path / "docs"), apply_mode="cow")
    pipe.apply_epoch(_ev(spark, ev), epoch_id=0)
    mv = MaterializedAggregate(
        pipe, str(tmp_path / "mv"), ["source"], AGGS, n_buckets=2
    )
    mv.refresh()
    pd.testing.assert_frame_equal(_mv_frame(mv), _recompute(pipe))

    kill = [
        ("a1", None, None, "s_dead", 11, "D"),
        ("a2", None, None, "s_dead", 12, "D"),
        ("b2", None, None, "s_live", 13, "D"),  # was max_tok of s_live
    ]
    pipe.apply_epoch(_ev(spark, kill), epoch_id=1)
    mv.refresh()
    got = _mv_frame(mv)
    pd.testing.assert_frame_equal(got, _recompute(pipe))
    assert list(got["source"]) == ["s_live"]  # s_dead group died
    assert int(got["max_tok"][0]) == 30  # extrema shrank via recompute


def test_mv_extrema_recompute_pinned_to_fold_window(spark, tmp_path):
    """The retraction-driven extrema recompute must read the source AS OF the
    snapshot the fold window ends at: if the source advances concurrently
    (here: an epoch applied between the fold and the recompute), an unpinned
    read would fold a post-window max into state whose cursor predates it."""
    docs = [
        ("c1", list(range(30)), 30, "s"),
        ("c2", list(range(40)), 40, "s"),
    ]
    ev = [(d, t, n, s, i + 1, "I") for i, (d, t, n, s) in enumerate(docs)]
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=2)
    pipe = CdcPipeline(spark, str(tmp_path / "docs"), apply_mode="cow")
    pipe.apply_epoch(_ev(spark, ev), epoch_id=0)
    mv = MaterializedAggregate(pipe, str(tmp_path / "mv"), ["source"], AGGS, n_buckets=2)
    mv.refresh()

    # window epoch: delete the current max (forces the recompute branch)
    pipe.apply_epoch(_ev(spark, [("c2", None, None, "s", 3, "D")]), epoch_id=1)
    pinned = pipe.table.current_snapshot().snapshot_id

    # concurrent epoch: a NEW max lands after the fold window closes
    pipe.apply_epoch(
        _ev(spark, [("c3", list(range(99)), 99, "s", 4, "I")]), epoch_id=2
    )

    # drive the recompute branch exactly as refresh() does, with the window
    # pinned at `pinned` — the post-window 99 must NOT be visible
    delta = spark.createDataFrame(
        [{"_gkey": '{"source":"s"}', "__retracted": 1}]
    )
    merged = spark.createDataFrame(
        [{"_gkey": '{"source":"s"}', "__retracted": 1, "min_tok": 30, "max_tok": 40}]
    )
    out = mv._recompute_extrema(merged, delta, as_of=pinned).collect()[0]
    assert out["max_tok"] == 30 and out["min_tok"] == 30

    # and the public path converges: a refresh NOW (window ends at epoch 2)
    # equals the full recompute including the new max
    mv.refresh()
    pd.testing.assert_frame_equal(_mv_frame(mv), _recompute(pipe))


def test_mv_update_moves_group_membership(spark, tmp_path):
    """An update that CHANGES the group column retracts from the old group
    and applies to the new one (the pre/post-image pair crosses groups)."""
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=2)
    pipe = CdcPipeline(spark, str(tmp_path / "docs"), apply_mode="mor")
    pipe.apply_epoch(
        _ev(spark, [("d1", [1, 2], 2, "g_old", 1, "I"), ("d2", [1], 1, "g_old", 2, "I")]),
        epoch_id=0,
    )
    mv = MaterializedAggregate(
        pipe, str(tmp_path / "mv"), ["source"], AGGS, n_buckets=2
    )
    mv.refresh()
    pipe.apply_epoch(
        _ev(spark, [("d1", [1, 2, 3], 3, "g_new", 3, "U")]), epoch_id=1
    )
    mv.refresh()
    got = _mv_frame(mv)
    pd.testing.assert_frame_equal(got, _recompute(pipe))
    assert set(got["source"]) == {"g_old", "g_new"}
    old_row = got[got["source"] == "g_old"].iloc[0]
    assert int(old_row["n_docs"]) == 1 and int(old_row["total_tok"]) == 1


def test_mv_refresh_touches_only_changed_buckets(spark, tmp_path):
    """A refresh whose delta hits one group leaves the other groups' MV data
    files untouched (replace_partitions ∝ changed buckets)."""
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=2)
    pipe = CdcPipeline(spark, str(tmp_path / "docs"), apply_mode="mor")
    first = [(f"d{i}", [i], 1, f"src_{i}", i + 1, "I") for i in range(12)]
    pipe.apply_epoch(_ev(spark, first), epoch_id=0)
    mv = MaterializedAggregate(
        pipe, str(tmp_path / "mv"), ["source"], AGGS, n_buckets=8
    )
    mv.refresh()
    before = {f["path"]: f["partition"]["mv_bucket"] for f in mv.table.current_snapshot().files}
    pipe.apply_epoch(_ev(spark, [("d0", [9, 9], 2, "src_0", 99, "U")]), epoch_id=1)
    res = mv.refresh()
    assert len(res["buckets"]) == 1
    after = {f["path"]: f["partition"]["mv_bucket"] for f in mv.table.current_snapshot().files}
    surviving = {p for p in before if p in after}
    replaced = {p for p in before if p not in after}
    assert surviving, "untouched buckets must keep their files"
    assert all(before[p] == str(res["buckets"][0]) for p in replaced)
    pd.testing.assert_frame_equal(_mv_frame(mv), _recompute(pipe))


def test_mv_concurrent_refresh_loses_cas(spark, tmp_path):
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=2)
    pipe = CdcPipeline(spark, str(tmp_path / "docs"), apply_mode="cow")
    pipe.apply_epoch(_ev(spark, [("d1", [1], 1, "s", 1, "I")]), epoch_id=0)
    mv = MaterializedAggregate(pipe, str(tmp_path / "mv"), ["source"], AGGS, n_buckets=2)
    mv.refresh()
    pipe.apply_epoch(_ev(spark, [("d2", [1, 2], 2, "s", 2, "I")]), epoch_id=1)
    # a racing refresher commits between our cursor read and our commit
    racer = MaterializedAggregate(pipe, str(tmp_path / "mv"), ["source"], AGGS, n_buckets=2)
    orig_commit = mv.table.commit

    def racing_commit(*a, **k):
        racer.refresh()
        return orig_commit(*a, **k)

    mv.table.commit = racing_commit
    with pytest.raises(CommitConflict):
        mv.refresh()
    mv.table.commit = orig_commit
    # the racer's fold already landed; a retry is a clean no-op
    assert not mv.refresh()["refreshed"]
    pd.testing.assert_frame_equal(_mv_frame(mv), _recompute(pipe))

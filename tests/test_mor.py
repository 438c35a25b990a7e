"""Merge-on-read apply mode (CdcPipeline(apply_mode="mor")).

The semantics contract is shared with copy-on-write (tests/test_matrix.py
runs the full merge-combination matrix in BOTH modes); this file asserts the
mor-specific properties:

1. full replay reproduces the pandas oracle AND the exact per-epoch lineage
   counts of a CoW run on the same events (identical observability);
2. write amplification: ONLY net-change rows are ever written — the sum of
   rows across an epoch's delta files equals inserts+updates+deletes (no
   carry rows, the property that makes write cost ∝ epoch delta);
3. compaction with resolve_keep_latest folds base+delta back to ≤1 row/key
   without changing visible state, including a mid-stream selective fold;
4. schema evolution works through the delta path (old base rows resolve
   against new-schema delta rows);
5. time travel: read_state(snapshot_id) resolves at that snapshot;
6. both modes guard an event against its key's RESOLVED stored version: a
   cow epoch over mor deltas, and a stored row with a null lsn, classify
   the same way in either mode.
"""

from __future__ import annotations

import functools
import os

import pytest
from pyspark.sql import functions as F

from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
from clin_variant_etl_spark.engine.oracle import canonical_rows, replay_oracle
from clin_variant_etl_spark.lake import load
from clin_variant_etl_spark.lake.maintenance import compact
from clin_variant_etl_spark.qc import run_cdc_qc
from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA, INTERNAL_LAST_LSN
from clin_variant_etl_spark.testgen import (
    EventGenConfig,
    generate_change_events,
    write_events_by_epoch,
)

N_EPOCHS = 5
EVENT_SCHEMA = "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string"


@pytest.fixture(scope="module")
def event_dir(tmp_path_factory):
    root = tmp_path_factory.mktemp("mor_events")
    cfg = EventGenConfig(
        n_docs=300,
        n_events=5000,
        n_epochs=N_EPOCHS,
        dup_rate=0.05,
        late_rate=0.05,
        delete_rate=0.10,
        hot_key_skew=1.1,
        seed=13,
    )
    tbl = generate_change_events(cfg)
    write_events_by_epoch(tbl, str(root), files_per_epoch=2)
    return str(root)


def _epochs(spark, event_dir):
    return [
        spark.read.parquet(os.path.join(event_dir, f"epoch={ep}")) for ep in range(N_EPOCHS)
    ]


def _oracle_rows(spark, event_dir):
    union = functools.reduce(lambda a, b: a.unionByName(b), _epochs(spark, event_dir))
    return canonical_rows(replay_oracle(union.toPandas()))


def _run(spark, path, event_dir, apply_mode, **kw):
    create_cdc_table(str(path), BASE_DOCS_SCHEMA, n_buckets=6)
    pipe = CdcPipeline(spark, str(path), apply_mode=apply_mode, **kw)
    lineage = []
    for ep, df in enumerate(_epochs(spark, event_dir)):
        res = pipe.apply_epoch(df, ep)
        lineage.append(
            (
                res.event_count,
                res.applied_inserts,
                res.applied_updates,
                res.applied_deletes,
                res.dropped_duplicates,
                res.dropped_stale,
            )
        )
    return pipe, lineage


def test_mor_replay_matches_oracle_and_cow_lineage(spark, tmp_path, event_dir):
    cow, lin_cow = _run(spark, tmp_path / "cow", event_dir, "cow")
    mor, lin_mor = _run(spark, tmp_path / "mor", event_dir, "mor")
    want = _oracle_rows(spark, event_dir)
    assert canonical_rows(cow.read_state().toPandas()) == want
    assert canonical_rows(mor.read_state().toPandas()) == want
    assert lin_cow == lin_mor  # identical classification counts, both modes


def test_mor_writes_only_net_change(spark, tmp_path, event_dir):
    """Write cost ∝ epoch delta: every delta file is tagged, and the rows
    written per epoch equal that epoch's applied inserts+updates+deletes —
    never a carry row of the existing table."""
    create_cdc_table(str(tmp_path / "t"), BASE_DOCS_SCHEMA, n_buckets=6)
    pipe = CdcPipeline(spark, str(tmp_path / "t"), apply_mode="mor")
    prev_paths: set[str] = set()
    for ep, df in enumerate(_epochs(spark, event_dir)):
        res = pipe.apply_epoch(df, ep)
        snap = pipe.table.current_snapshot()
        new = [f for f in snap.files if f["path"] not in prev_paths]
        prev_paths = {f["path"] for f in snap.files}
        assert all(f.get("delta") for f in new), "mor commit wrote untagged files"
        written = sum(f["rows"] for f in new)
        assert written == res.applied_inserts + res.applied_updates + res.applied_deletes
        # append-only: nothing the previous epochs wrote was replaced
        assert snap.operation == "mor-append"


def test_mor_midstream_and_full_compaction_fold(spark, tmp_path, event_dir):
    create_cdc_table(str(tmp_path / "t"), BASE_DOCS_SCHEMA, n_buckets=6)
    pipe = CdcPipeline(spark, str(tmp_path / "t"), apply_mode="mor")
    for ep, df in enumerate(_epochs(spark, event_dir)):
        pipe.apply_epoch(df, ep)
        if ep == 2:  # mid-stream selective fold
            compact(spark, pipe.table, resolve_keep_latest=("doc_id", INTERNAL_LAST_LSN))
    want = _oracle_rows(spark, event_dir)
    assert canonical_rows(pipe.read_state().toPandas()) == want
    # full fold: raw table returns to ≤1 row/key, state unchanged
    compact(
        spark,
        pipe.table,
        resolve_keep_latest=("doc_id", INTERNAL_LAST_LSN),
        min_input_files=1,
    )
    raw = pipe.table.read(spark)
    assert raw.groupBy("doc_id").count().where(F.col("count") > 1).count() == 0
    assert canonical_rows(pipe.read_state().toPandas()) == want


def test_mor_schema_evolution_through_delta_path(spark, tmp_path):
    create_cdc_table(str(tmp_path / "t"), BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, str(tmp_path / "t"), apply_mode="mor")
    base_schema = "lsn long, op string, doc_id string, tokens array<int>, n_tok int, source string"
    e0 = spark.createDataFrame(
        [(1, "I", "a", [1], 1, "web"), (2, "I", "b", [2], 1, "web")], base_schema
    )
    r0 = pipe.apply_epoch(e0, 0)
    assert not r0.evolved_schema
    e1 = spark.createDataFrame(
        [(3, "U", "a", [1, 1], 2, "web", "en")], base_schema + ", lang string"
    )
    r1 = pipe.apply_epoch(e1, 1)
    assert r1.evolved_schema
    got = {r["doc_id"]: (r["tokens"], r["lang"]) for r in pipe.read_state().collect()}
    # old base row resolves with null in the new column; updated row carries it
    assert got == {"a": ([1, 1], "en"), "b": ([2], None)}


def test_mor_time_travel_and_exactly_once(spark, tmp_path, event_dir):
    create_cdc_table(str(tmp_path / "t"), BASE_DOCS_SCHEMA, n_buckets=6)
    pipe = CdcPipeline(spark, str(tmp_path / "t"), apply_mode="mor")
    snaps = []
    states = []
    for ep, df in enumerate(_epochs(spark, event_dir)):
        res = pipe.apply_epoch(df, ep)
        snaps.append(res.snapshot_id)
        states.append(canonical_rows(pipe.read_state().toPandas()))
    # replay of a committed epoch is a no-op
    df0 = _epochs(spark, event_dir)[0]
    assert pipe.apply_epoch(df0, 0).skipped
    assert canonical_rows(pipe.read_state().toPandas()) == states[-1]
    # time travel resolves at the pinned snapshot
    for sid, want in zip(snaps, states):
        assert canonical_rows(pipe.read_state(snapshot_id=sid).toPandas()) == want


def test_cow_epoch_over_mor_deltas(spark, tmp_path):
    """A cow epoch on a table holding mor deltas joins each event to its
    key's resolved version only: a@5 against base a@1 and delta a@10 is
    one stale event, not an update and a stale."""
    path = str(tmp_path / "t")
    create_cdc_table(path, BASE_DOCS_SCHEMA, n_buckets=4)
    mor = CdcPipeline(spark, path, apply_mode="mor")
    mor.apply_epoch(
        spark.createDataFrame(
            [(1, "I", "a", [1], 1, "web"), (2, "I", "b", [2], 1, "web")], EVENT_SCHEMA
        ),
        0,
    )
    mor.apply_epoch(spark.createDataFrame([(10, "U", "a", [10], 1, "web")], EVENT_SCHEMA), 1)
    cow = CdcPipeline(spark, path, apply_mode="cow")
    res = cow.apply_epoch(
        spark.createDataFrame(
            [(5, "U", "a", [5], 1, "web"), (20, "U", "b", [20], 1, "web")], EVENT_SCHEMA
        ),
        2,
    )
    applied = res.applied_inserts + res.applied_updates + res.applied_deletes
    assert applied + res.dropped_duplicates + res.dropped_stale == 2
    assert (res.applied_updates, res.dropped_stale) == (1, 1)
    run_cdc_qc(spark, cow)
    raw = cow.table.read(spark)
    assert raw.groupBy("doc_id").count().where(F.col("count") > 1).count() == 0
    got = {r["doc_id"]: (r["tokens"], r[INTERNAL_LAST_LSN]) for r in raw.collect()}
    assert got == {"a": ([10], 10), "b": ([20], 20)}


@pytest.mark.parametrize("apply_mode", ["cow", "mor"])
def test_null_lsn_row_is_an_update_in_both_modes(spark, tmp_path, apply_mode):
    """Rows loaded without internal columns carry a null ``_last_lsn``; an
    event on such a key replaces a live row, so it is an update in both
    modes."""
    path = str(tmp_path / "t")
    create_cdc_table(path, BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, path, apply_mode=apply_mode)
    load.overwrite(
        spark,
        pipe.table,
        spark.createDataFrame(
            [("a", [1], 1, "web"), ("b", [2], 1, "web")],
            "doc_id string, tokens array<int>, n_tok int, source string",
        ),
    )
    res = pipe.apply_epoch(spark.createDataFrame([(7, "U", "a", [7], 1, "web")], EVENT_SCHEMA), 0)
    assert (res.applied_updates, res.applied_inserts) == (1, 0)
    got = {r["doc_id"]: r["tokens"] for r in pipe.read_state().collect()}
    assert got == {"a": [7], "b": [2]}

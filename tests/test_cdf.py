"""Change-data-feed reads (``CdcPipeline.read_changes``) + stats-based file
skipping (``LakeTable.read(stats_filter=…)``).

The CDF cursor is the snapshot id (a source-LSN high-water mark is unsound
under out-of-order delivery: a late event can set a key's current lsn below
the consumer's global mark — an early draft here used lsn cursors and this
suite caught exactly that miss).  Correctness oracle: pandas per-key
last-version maps at each cut of the event log, diffed.
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
from clin_variant_etl_spark.lake.table import _stats_may_match
from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA
from clin_variant_etl_spark.testgen import (
    EventGenConfig,
    generate_change_events,
    write_events_by_epoch,
)


def test_stats_may_match_unit():
    e = {"stats": {"lsn": [10, 20]}}
    assert _stats_may_match(e, {"lsn": (None, None)})
    assert _stats_may_match(e, {"lsn": (20, None)})
    assert _stats_may_match(e, {"lsn": (None, 10)})
    assert _stats_may_match(e, {"lsn": (15, 15)})
    assert not _stats_may_match(e, {"lsn": (21, None)})
    assert not _stats_may_match(e, {"lsn": (None, 9)})
    # conservative: no stats / unknown column / null bounds → keep
    assert _stats_may_match({}, {"lsn": (21, None)})
    assert _stats_may_match({"stats": {}}, {"lsn": (21, None)})
    assert _stats_may_match({"stats": {"lsn": [None, None]}}, {"lsn": (21, None)})


def test_stats_filter_prunes_files(spark, tmp_path):
    """LakeTable.read(stats_filter=…) opens only files whose range may match."""
    cfg = EventGenConfig(n_docs=80, n_events=800, n_epochs=4, seed=3)
    tbl = generate_change_events(cfg)
    src = str(tmp_path / "events")
    write_events_by_epoch(tbl, src)
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=4)
    # mor: per-epoch delta files keep disjoint-ish lsn ranges (no carry rows)
    pipe = CdcPipeline(
        spark, str(tmp_path / "docs"), collect_part_stats=True, apply_mode="mor"
    )
    for ep in range(4):
        pipe.apply_epoch(spark.read.parquet(f"{src}/epoch={ep}"), epoch_id=ep)
    full = pipe.table.read(spark)
    hi = int(tbl.to_pandas()["lsn"].max())
    sliced = pipe.table.read(spark, stats_filter={"_last_lsn": (hi - 50, None)})
    assert set(sliced.inputFiles()) < set(full.inputFiles())
    # conservative: pruned read still yields every matching row
    want = full.where(F.col("_last_lsn") >= hi - 50).count()
    assert sliced.where(F.col("_last_lsn") >= hi - 50).count() == want
    # range past the table prunes everything
    assert pipe.table.read(spark, stats_filter={"_last_lsn": (hi + 1, None)}).count() == 0


from tests.feed_oracle import expected_diff as _expected_diff
from tests.feed_oracle import last_versions as _last_versions


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_read_changes_matches_replay(spark, tmp_path, mode):
    cfg = EventGenConfig(n_docs=120, n_events=1500, n_epochs=4, seed=11)
    tbl = generate_change_events(cfg)
    src = str(tmp_path / "events")
    write_events_by_epoch(tbl, src)
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, str(tmp_path / "docs"), apply_mode=mode)
    snaps = {}
    for ep in range(4):
        r = pipe.apply_epoch(spark.read.parquet(f"{src}/epoch={ep}"), epoch_id=ep)
        snaps[ep] = r.snapshot_id

    pdf = tbl.to_pandas()
    old = _last_versions(pdf, pdf["epoch_hint"] <= 2)
    new = _last_versions(pdf, pdf["epoch_hint"] <= 3)
    feed = pipe.read_changes(from_snapshot_id=snaps[2])
    got = {
        r["doc_id"]: (r["_last_lsn"], r["_change_type"])
        for r in feed.select("doc_id", "_last_lsn", "_change_type").collect()
    }
    assert got == _expected_diff(old, new)

    # full-history feed (from=None) = every key's current version incl. tombstones
    full = {
        r["doc_id"]: (r["_last_lsn"], r["_change_type"])
        for r in pipe.read_changes().select(
            "doc_id", "_last_lsn", "_change_type"
        ).collect()
    }
    assert full == new

    # adjacent-snapshot diff = exactly that epoch's net effect
    step = {
        r["doc_id"]: (r["_last_lsn"], r["_change_type"])
        for r in pipe.read_changes(snaps[0], snaps[1]).select(
            "doc_id", "_last_lsn", "_change_type"
        ).collect()
    }
    assert step == _expected_diff(
        _last_versions(pdf, pdf["epoch_hint"] <= 0),
        _last_versions(pdf, pdf["epoch_hint"] <= 1),
    )

    # no new files → empty feed with the feed schema
    empty = pipe.read_changes(from_snapshot_id=snaps[3])
    assert empty.count() == 0 and "_change_type" in empty.columns

    # pre/post-image feed: a post row per key whose new version is live, a
    # pre row carrying the OLD lsn and payload per key live at ``from``
    n_tok = dict(zip(pdf["lsn"], pdf["n_tok"]))
    old = _last_versions(pdf, pdf["epoch_hint"] <= 1)
    want = []
    for k, (lsn, op) in _expected_diff(old, new).items():
        was_live = k in old and old[k][1] == "upsert"
        if op == "upsert":
            want.append((k, lsn, "update_postimage" if was_live else "insert", n_tok[lsn]))
        if was_live:
            pre = "delete" if op == "delete" else "update_preimage"
            want.append((k, old[k][0], pre, n_tok[old[k][0]]))
    images = pipe.read_changes(snaps[1], snaps[3], include_pre_images=True)
    got = [
        (r["doc_id"], r["_last_lsn"], r["_change_type"], r["n_tok"])
        for r in images.select("doc_id", "_last_lsn", "_change_type", "n_tok").collect()
    ]
    assert {t for _, _, t, _ in want} == {"insert", "update_postimage", "update_preimage", "delete"}
    assert sorted(got) == sorted(want)


def test_read_changes_prunes_to_touched_buckets(spark, tmp_path):
    """An epoch touching ONE key scans only that key's bucket on both sides."""
    cfg = EventGenConfig(n_docs=64, n_events=600, n_epochs=2, seed=9)
    tbl = generate_change_events(cfg)
    src = str(tmp_path / "events")
    write_events_by_epoch(tbl, src)
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=8)
    pipe = CdcPipeline(spark, str(tmp_path / "docs"), apply_mode="mor")
    for ep in range(2):
        r = pipe.apply_epoch(spark.read.parquet(f"{src}/epoch={ep}"), epoch_id=ep)
    base_snap = r.snapshot_id

    # one-key epoch: update doc_00000001 only
    one = spark.createDataFrame(
        [(10_000, "U", "doc_00000001", [1, 2, 3], 3, "s0")],
        "lsn: long, op: string, doc_id: string, tokens: array<int>, n_tok: int, source: string",
    ).withColumn("event_ts", F.timestamp_seconds(F.lit(1700010000)).cast("timestamp_ntz"))
    pipe.apply_epoch(one, epoch_id=2)

    feed = pipe.read_changes(from_snapshot_id=base_snap)
    rows = feed.select("doc_id", "_change_type").collect()
    assert {r["doc_id"] for r in rows} == {"doc_00000001"}
    # structural pruning: the diff read opened a strict subset of the table's
    # files (only the touched bucket's base+delta, not all 8 buckets)
    assert set(feed.inputFiles()) < set(pipe.table.read(spark).inputFiles())


def test_read_changes_consumer_checkpoint_loop(spark, tmp_path):
    """A consumer checkpointing SNAPSHOT ids sees every change exactly once
    across apply rounds — including late events that lower a key's lsn gap."""
    cfg = EventGenConfig(n_docs=60, n_events=600, n_epochs=3, seed=5)
    tbl = generate_change_events(cfg)
    src = str(tmp_path / "events")
    write_events_by_epoch(tbl, src)
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, str(tmp_path / "docs"), collect_part_stats=True)

    pdf = tbl.to_pandas()
    cursor, seen = None, {}
    for ep in range(3):
        pipe.apply_epoch(spark.read.parquet(f"{src}/epoch={ep}"), epoch_id=ep)
        head = pipe.table.current_snapshot().snapshot_id
        batch = pipe.read_changes(cursor, head).select(
            "doc_id", "_last_lsn", "_change_type"
        ).collect()
        for r in batch:
            seen[r["doc_id"]] = (r["_last_lsn"], r["_change_type"])
        cursor = head
    assert seen == _last_versions(pdf, pdf["lsn"] > 0)


@pytest.mark.parametrize("mode", ["cow", "mor"])
def test_read_changes_across_schema_evolution(spark, tmp_path, mode):
    """CDF across a mid-stream producer upgrade: the from-snapshot predates
    the (lang, quality) columns; the feed carries the CURRENT schema, old
    keys surface with nulls in the new fields, and the (key, lsn) diff is
    unaffected by the evolution commit itself."""
    cfg = EventGenConfig(n_docs=80, n_events=1200, n_epochs=4, seed=21, v2_from_epoch=2)
    tbl = generate_change_events(cfg)
    src = str(tmp_path / "events")
    write_events_by_epoch(tbl, src)
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, str(tmp_path / "docs"), apply_mode=mode)
    snaps = []
    for ep in range(4):
        r = pipe.apply_epoch(spark.read.parquet(f"{src}/epoch={ep}"), epoch_id=ep)
        snaps.append(r.snapshot_id)

    pdf = tbl.to_pandas()
    feed = pipe.read_changes(from_snapshot_id=snaps[1])  # pre-evolution cursor
    assert "lang" in feed.columns and "quality" in feed.columns
    got = {
        r["doc_id"]: (r["_last_lsn"], r["_change_type"])
        for r in feed.select("doc_id", "_last_lsn", "_change_type").collect()
    }
    assert got == _expected_diff(
        _last_versions(pdf, pdf["epoch_hint"] <= 1),
        _last_versions(pdf, pdf["epoch_hint"] <= 3),
    )
    # rows whose current version predates the upgrade read null new fields;
    # post-upgrade upserts carry real values
    by_lsn = {r["_last_lsn"]: r for r in feed.collect()}
    v2_lsns = set(pdf[pdf["epoch_hint"] >= 2]["lsn"])
    for lsn, row in by_lsn.items():
        if row["_change_type"] == "delete":
            continue
        if lsn in v2_lsns:
            assert row["lang"] is not None
        else:
            assert row["lang"] is None and row["quality"] is None


def _parquet_scans(df) -> list[list[str]]:
    """Column names each parquet scan of ``df``'s physical plan reads."""
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    nodes = [leaves.apply(i) for i in range(leaves.length())]
    return [
        list(n.requiredSchema().fieldNames())
        for n in nodes
        if n.getClass().getSimpleName() == "FileSourceScanExec"
    ]


def test_pre_image_feed_scans_each_snapshot_once_and_prunes(spark, tmp_path):
    """The matview's delta aggregate over an incremental pre-image feed of a
    mor table reads each snapshot ONCE and only the columns it aggregates:
    the resolve is a prunable top-1 window (not ``max_by`` over the whole
    row) and the pre/post rows come from one join (not a self-join union)."""
    cfg = EventGenConfig(n_docs=80, n_events=800, n_epochs=3, seed=19)
    tbl = generate_change_events(cfg)
    src = str(tmp_path / "events")
    write_events_by_epoch(tbl, src)
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, str(tmp_path / "docs"), apply_mode="mor")
    snaps = [
        pipe.apply_epoch(spark.read.parquet(f"{src}/epoch={ep}"), epoch_id=ep).snapshot_id
        for ep in range(3)
    ]
    mv = MaterializedAggregate(
        pipe, str(tmp_path / "mv"), ["source"],
        {"n_docs": AggSpec("count"), "total_tok": AggSpec("sum", "n_tok")}, n_buckets=4,
    )
    feed = pipe.read_changes(snaps[0], snaps[2], include_pre_images=True)
    scans = _parquet_scans(mv._feed_delta(feed))
    assert len(scans) == 2, scans
    assert all("tokens" not in cols for cols in scans), scans


def test_stats_may_match_string_stats_never_prune():
    # parquet string min/max may be truncated by the writer — a truncated
    # max sorts below the true max, so pruning on string stats could
    # WRONGLY drop a file; they must always keep it
    e = {"stats": {"source": ["aaa", "mmm"]}}
    assert _stats_may_match(e, {"source": ("zzz", None)})
    assert _stats_may_match(e, {"source": (None, "AAA")})


def test_cdf_to_es_bulk_incremental_sync(spark, tmp_path):
    """The canonical CDC consumer: CdfConsumer drains the change feed into
    the ES _bulk sink (upserts as index actions, tombstones as delete
    actions).  Replaying every emitted bulk file into a dict — exactly what
    ES does with explicit _ids — must reproduce the table's visible state."""
    import glob
    import json

    from clin_variant_etl_spark.engine.consume import CdfConsumer
    from clin_variant_etl_spark.sources import write_es_bulk

    cfg = EventGenConfig(n_docs=100, n_events=900, n_epochs=3, seed=13)
    tbl = generate_change_events(cfg)
    write_events_by_epoch(tbl, str(tmp_path / "events"))
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, str(tmp_path / "docs"), apply_mode="mor")
    consumer = CdfConsumer(pipe, str(tmp_path / "cursor.json"))

    drains = []
    for ep in range(3):
        pipe.apply_epoch(spark.read.parquet(f"{tmp_path}/events/epoch={ep}"), epoch_id=ep)
        out = str(tmp_path / f"bulk_{ep}")
        consumer.drain(
            lambda feed, out=out: write_es_bulk(
                feed, out, index="docs-v1", id_col="doc_id",
                doc_cols=["doc_id", "n_tok", "source"], op_col="_change_type",
            )
        )
        drains.append(out)

    es: dict[str, dict] = {}
    deletes_seen = 0
    for out in drains:  # drain order matters; within a drain each key is net
        for part in sorted(glob.glob(f"{out}/part-*")):
            lines = [l for l in open(part).read().splitlines() if l]
            i = 0
            while i < len(lines):
                act = json.loads(lines[i])
                if "delete" in act:
                    es.pop(act["delete"]["_id"], None)
                    deletes_seen += 1
                    i += 1
                else:
                    es[act["index"]["_id"]] = json.loads(lines[i + 1])
                    i += 2

    state = {r["doc_id"]: r for r in pipe.read_state().collect()}
    assert deletes_seen > 0  # the generator's delete rate actually exercised it
    assert sorted(es) == sorted(state)
    for k, doc in es.items():
        assert doc["n_tok"] == state[k]["n_tok"] and doc["source"] == state[k]["source"]

"""Structured Streaming wrapper: drain, resume-from-checkpoint, retry no-op."""

import pytest

from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
from clin_variant_etl_spark.engine.oracle import assert_state_equals, replay_oracle
from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA, CHANGE_EVENTS_SCHEMA
from clin_variant_etl_spark.streaming import StreamingCdc
from clin_variant_etl_spark.testgen import (
    EventGenConfig,
    generate_change_events,
    write_events_by_epoch,
)


@pytest.fixture()
def pipeline(spark, tmp_path):
    create_cdc_table(str(tmp_path / "docs"), BASE_DOCS_SCHEMA, n_buckets=8)
    return CdcPipeline(spark, str(tmp_path / "docs"))


def _stream(spark, pipeline, tmp_path, **kw):
    return StreamingCdc(
        spark,
        pipeline,
        str(tmp_path / "events"),
        CHANGE_EVENTS_SCHEMA,
        str(tmp_path / "stream_ckpt"),
        **kw,
    )


def test_stream_drain_matches_oracle(spark, tmp_path, pipeline):
    cfg = EventGenConfig(n_docs=150, n_events=3000, n_epochs=4, seed=31)
    tbl = generate_change_events(cfg)
    write_events_by_epoch(tbl, str(tmp_path / "events"), files_per_epoch=2)
    _stream(spark, pipeline, tmp_path, max_files_per_trigger=3).run_available()
    assert_state_equals(pipeline.read_state(), replay_oracle(tbl.to_pandas()))


def test_stream_resume_from_checkpoint(spark, tmp_path, pipeline):
    cfg1 = EventGenConfig(n_docs=100, n_events=1500, n_epochs=3, seed=41)
    t1 = generate_change_events(cfg1)
    write_events_by_epoch(t1, str(tmp_path / "events"), files_per_epoch=2)
    s = _stream(spark, pipeline, tmp_path, max_files_per_trigger=2)
    s.run_available()
    n_epochs_after_first = pipeline.last_epoch_id()

    # more events arrive with later lsns (continuation of the same log)
    cfg2 = EventGenConfig(n_docs=100, n_events=1500, n_epochs=3, seed=43)
    t2 = generate_change_events(cfg2)
    import pyarrow as pa
    import pyarrow.compute as pc

    shift = pc.cast(pc.add(t2.column("lsn"), 1500), pa.int64())
    ep_shift = pc.cast(pc.add(t2.column("epoch_hint"), 3), pa.int32())
    t2 = t2.set_column(t2.schema.get_field_index("lsn"), "lsn", shift)
    t2 = t2.set_column(t2.schema.get_field_index("epoch_hint"), "epoch_hint", ep_shift)
    write_events_by_epoch(t2, str(tmp_path / "events"), files_per_epoch=2)

    # resume with the SAME streaming checkpoint: only new files are read,
    # batch ids continue monotonically
    s.run_available()
    assert pipeline.last_epoch_id() > n_epochs_after_first
    both = pa.concat_tables([t1, t2]).to_pandas()
    assert_state_equals(pipeline.read_state(), replay_oracle(both))


def test_foreachbatch_retry_is_noop(spark, tmp_path, pipeline):
    """Simulate a foreachBatch retry: the data commit succeeded but streaming
    says 'run batch N again' — the epoch gate must make it a no-op."""
    cfg = EventGenConfig(n_docs=50, n_events=600, n_epochs=2, seed=51)
    tbl = generate_change_events(cfg)
    write_events_by_epoch(tbl, str(tmp_path / "events"))
    ev0 = spark.read.parquet(str(tmp_path / "events" / "epoch=0"))
    pipeline.apply_epoch(ev0, 0)
    before = pipeline.table.current_snapshot().snapshot_id
    res = pipeline.apply_epoch(ev0, 0)  # the retry
    assert res.skipped
    assert pipeline.table.current_snapshot().snapshot_id == before


def test_fresh_checkpoint_against_advanced_table_refused(spark, tmp_path, pipeline):
    """Torn pairing (empty stream checkpoint + advanced epoch gate) can lose
    events silently — the stream must refuse to start."""
    cfg = EventGenConfig(n_docs=50, n_events=600, n_epochs=2, seed=61)
    tbl = generate_change_events(cfg)
    write_events_by_epoch(tbl, str(tmp_path / "events"))
    s = _stream(spark, pipeline, tmp_path)
    s.run_available()
    assert pipeline.last_epoch_id() >= 0
    # same table, FRESH checkpoint dir -> refused
    torn = StreamingCdc(
        spark,
        pipeline,
        str(tmp_path / "events"),
        CHANGE_EVENTS_SCHEMA,
        str(tmp_path / "fresh_ckpt"),
    )
    with pytest.raises(RuntimeError, match="last_epoch_id"):
        torn.run_available()
    # reusing the original checkpoint still works (no-op drain)
    s.run_available()

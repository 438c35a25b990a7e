"""Batch-mode resume: a fresh pipeline object over the same paths picks up
exactly where the previous process stopped (epoch gate + the epoch records
in the snapshot log), and replay of already-applied epochs is a no-op."""

from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
from clin_variant_etl_spark.engine.oracle import assert_state_equals, replay_oracle
from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA
from clin_variant_etl_spark.testgen import EventGenConfig, generate_change_events, write_events_by_epoch


def test_resume_across_process_restart(spark, tmp_path):
    cfg = EventGenConfig(n_docs=100, n_events=1500, n_epochs=4, seed=31)
    tbl = generate_change_events(cfg)
    write_events_by_epoch(tbl, str(tmp_path / "ev"), files_per_epoch=2)
    path = str(tmp_path / "t")
    create_cdc_table(path, BASE_DOCS_SCHEMA, n_buckets=4)

    # "process 1" applies epochs 0-1 then dies
    p1 = CdcPipeline(spark, path, n_salts=2)
    for k in (0, 1):
        p1.apply_epoch(spark.read.parquet(str(tmp_path / "ev" / f"epoch={k}")), k)

    # "process 2": fresh objects, same paths — resume_info says where we are
    p2 = CdcPipeline(spark, path, n_salts=2)
    info = p2.resume_info()
    assert info["last_epoch_id"] == 1
    assert len(info["epochs"]) == 2
    events = tbl.to_pandas()
    assert info["max_lsn"] == events[events.epoch_hint <= 1].lsn.max()
    # a conservative restart over-delivers epoch 1 → exactly-once no-op
    res = p2.apply_epoch(spark.read.parquet(str(tmp_path / "ev" / "epoch=1")), 1)
    assert res.skipped
    for k in (2, 3):
        res = p2.apply_epoch(spark.read.parquet(str(tmp_path / "ev" / f"epoch={k}")), k)
        assert not res.skipped

    assert_state_equals(p2.read_state(), replay_oracle(tbl.to_pandas()))
    assert p2.resume_info()["last_epoch_id"] == 3

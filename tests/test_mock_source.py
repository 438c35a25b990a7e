"""Pluggable streaming source contract (streaming/mock_source.py).

Proves the "only the source line changes" claim end-to-end with a non-file
source: a Python Data Source streaming reader with Kafka-like offset
semantics, at-least-once redelivery that CROSSES a checkpoint restart, and
scrambled delivery order.  Same epoch gate, same LSN resolution, same final
state as the replay oracle.
"""

import pandas as pd

from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
from clin_variant_etl_spark.engine.oracle import canonical_rows, replay_oracle
from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA
from clin_variant_etl_spark.streaming import mock_source
from clin_variant_etl_spark.streaming.stream import StreamingCdc

OVERLAP = 96
N_DOCS = 150


def _source(total: int):
    def make(spark):
        return (
            spark.readStream.format("mock_binlog")
            .option("total", str(total))
            .option("overlap", str(OVERLAP))
            .option("n_docs", str(N_DOCS))
            .load()
        )

    return make


def test_redelivery_across_restart_matches_oracle(spark, tmp_path):
    mock_source.register(spark)
    tdir, ckpt = str(tmp_path / "docs"), str(tmp_path / "ckpt")
    create_cdc_table(tdir, BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, tdir)

    # three runs against a GROWING log, restarting from the same checkpoint:
    # each restart's first batch rewinds OVERLAP seqs behind the committed
    # offset (at-least-once across restart), delivered out of order
    for total in (500, 1000, 1500):
        StreamingCdc(
            spark, pipe, checkpoint_dir=ckpt, source=_source(total)
        ).run_available()

    events = pd.DataFrame(
        [mock_source.event_for_seq(q, N_DOCS) for q in range(1500)],
        columns=["lsn", "op", "doc_id", "tokens", "n_tok", "source"],
    )
    want = canonical_rows(replay_oracle(events))
    got = canonical_rows(pipe.read_state().toPandas())
    assert got == want

    # the redelivered windows were actually delivered AND dropped as exact
    # duplicates by the engine (not silently skipped by the source)
    lin = pipe.epoch_log()
    assert [r["epoch_id"] for r in lin] == [0, 1, 2]
    assert lin[0]["event_count"] == 500
    # runs 2 and 3 deliver their range + the OVERLAP rewind
    assert lin[1]["event_count"] == 500 + OVERLAP
    assert lin[2]["event_count"] == 500 + OVERLAP
    # a cross-batch redelivery is dropped as an exact duplicate (equal LSN
    # vs the table row) or as stale (the key advanced meanwhile) — either
    # way the engine, not the source, absorbs all OVERLAP redeliveries
    assert lin[1]["dropped_duplicates"] + lin[1]["dropped_stale"] >= OVERLAP
    assert lin[2]["dropped_duplicates"] + lin[2]["dropped_stale"] >= OVERLAP


def test_fresh_checkpoint_guard_applies_to_pluggable_source(spark, tmp_path):
    """The torn checkpoint/table pairing is refused for non-file sources too."""
    import pytest

    mock_source.register(spark)
    tdir = str(tmp_path / "docs2")
    create_cdc_table(tdir, BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, tdir)
    StreamingCdc(
        spark, pipe, checkpoint_dir=str(tmp_path / "ck_a"), source=_source(200)
    ).run_available()
    with pytest.raises(RuntimeError, match="epoch gate"):
        StreamingCdc(
            spark, pipe, checkpoint_dir=str(tmp_path / "ck_b"), source=_source(400)
        ).run_available()

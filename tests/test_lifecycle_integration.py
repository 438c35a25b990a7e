"""Full-lifecycle composition: every round-4 piece in one flow.

mock binlog stream (at-least-once, out-of-order, non-file)
  → CdcPipeline(apply_mode="mor") with the auto dedup variant
  → maintenance.compact fold of the accumulated deltas
  → publish tag + ref-pinned read
  → QC runner over the live table
  → stream RESUMES from the same checkpoint after the fold
  → change-data-feed drains: empty across the fold (compaction moves files,
    not values), exact per-key diff from the published ref to head

Each piece has its own suite; this pins that they COMPOSE — in particular
that a compaction commit preserves the epoch gate (so the resumed stream's
checkpoint pairing and exactly-once replay still hold) and that read-time
delta resolution, the fold, and the ref-pinned snapshot all agree with the
pandas replay oracle.
"""

import pandas as pd

from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
from clin_variant_etl_spark.engine.oracle import canonical_rows, replay_oracle
from clin_variant_etl_spark.lake.maintenance import compact
from clin_variant_etl_spark.qc import cdc_table_checks, handle_errors, run_checks
from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA, INTERNAL_LAST_LSN
from clin_variant_etl_spark.streaming import mock_source
from clin_variant_etl_spark.streaming.stream import StreamingCdc

N_DOCS = 120
OVERLAP = 64


def _oracle_rows(upto: int):
    ev = pd.DataFrame(
        [mock_source.event_for_seq(q, N_DOCS) for q in range(upto)],
        columns=["lsn", "op", "doc_id", "tokens", "n_tok", "source"],
    )
    return canonical_rows(replay_oracle(ev))


def _run(spark, pipe, ckpt, total):
    def src(s):
        return (
            s.readStream.format("mock_binlog")
            .option("total", str(total))
            .option("overlap", str(OVERLAP))
            .option("n_docs", str(N_DOCS))
            .load()
        )

    StreamingCdc(spark, pipe, checkpoint_dir=ckpt, source=src).run_available()


def test_stream_mor_compact_publish_qc_resume(spark, tmp_path):
    mock_source.register(spark)
    tdir, ckpt = str(tmp_path / "t"), str(tmp_path / "ck")
    create_cdc_table(tdir, BASE_DOCS_SCHEMA, n_buckets=4)
    pipe = CdcPipeline(spark, tdir, apply_mode="mor")

    # two streamed epochs of mor delta commits
    _run(spark, pipe, ckpt, 400)
    _run(spark, pipe, ckpt, 800)
    assert pipe.last_epoch_id() == 1
    assert canonical_rows(pipe.read_state().toPandas()) == _oracle_rows(800)

    # fold the deltas; the epoch gate must survive the compaction commit
    pre_fold = pipe.table.current_snapshot().snapshot_id
    compact(spark, pipe.table, resolve_keep_latest=("doc_id", INTERNAL_LAST_LSN))
    assert pipe.last_epoch_id() == 1
    assert canonical_rows(pipe.read_state().toPandas()) == _oracle_rows(800)

    # change-data-feed across the fold: compaction rewrites files but changes
    # no values, so the snapshot-diff feed over it is EMPTY
    post_fold = pipe.table.current_snapshot().snapshot_id
    assert pipe.read_changes(pre_fold, post_fold).count() == 0

    # publish the folded snapshot; later writes must not move the ref
    pipe.table.publish("v1")
    snap_v1 = pipe.table.resolve_ref("v1")

    # QC runner over the live table (raises on violation)
    handle_errors(run_checks(cdc_table_checks(spark, pipe)))

    # stream a third epoch from the SAME checkpoint: redelivery window
    # crosses the fold, exactly-once still holds
    _run(spark, pipe, ckpt, 1200)
    assert pipe.last_epoch_id() == 2
    assert canonical_rows(pipe.read_state().toPandas()) == _oracle_rows(1200)

    # the published ref still reads the pre-third-epoch state
    ref_state = pipe.read_state(snapshot_id=snap_v1)
    assert canonical_rows(ref_state.toPandas()) == _oracle_rows(800)

    # CDF from the published ref to head = exactly epoch 2's net effect,
    # verified against the mock-source event log's per-key diff
    from tests.feed_oracle import last_versions

    def _last_versions(upto):
        return last_versions(
            pd.DataFrame(
                [mock_source.event_for_seq(q, N_DOCS) for q in range(upto)],
                columns=["lsn", "op", "doc_id", "tokens", "n_tok", "source"],
            )
        )

    old_v, new_v = _last_versions(800), _last_versions(1200)
    feed = {
        r["doc_id"]: (r["_last_lsn"], r["_change_type"])
        for r in pipe.read_changes(from_snapshot_id=snap_v1)
        .select("doc_id", "_last_lsn", "_change_type")
        .collect()
    }
    assert feed == {k: v for k, v in new_v.items() if old_v.get(k) != v}

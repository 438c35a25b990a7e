"""spark-submit entry point for the CDC pipeline.

Deploy (north_rule): ``spark-submit --py-files clin_variant_etl_spark.zip
-m`` equivalents; in local/sandbox form:

    # batch-drain everything currently in the event log, then exit
    python -m clin_variant_etl_spark.run \
        --events-dir /data/events --table /lake/docs \
        --lineage /lake/docs_lineage --checkpoint-table /lake/docs_epochs \
        --stream-checkpoint /ckpt/docs --mode drain

    # continuous tail (Structured Streaming, 30s triggers)
    ... --mode tail --trigger-seconds 30

The streaming checkpoint dir pairs 1:1 with the target table (see
streaming/stream.py): resume MUST reuse the checkpoint dir.  A fresh
checkpoint against an advanced table re-batches from id 0 and a mixed
old+new batch can be gate-skipped while its files are marked consumed —
silent loss; StreamingCdc refuses to start in that state.

On a cluster, pass ``--master`` via spark-submit as usual; every knob here
is cluster-size independent (SURVEY.md §7 design).
"""

from __future__ import annotations

import argparse
import os
import sys

from pyspark.sql import functions as F  # noqa: F401  (re-export convenience)

from .engine.apply import CdcPipeline, create_cdc_table
from .lake.table import LakeTable
from .schemas import BASE_DOCS_SCHEMA, CHANGE_EVENTS_SCHEMA, CHANGE_EVENTS_V2_SCHEMA
from .session import build_session
from .streaming.stream import StreamingCdc


def _discover_event_schema(spark, events_dir: str):
    """Schema discovery at stream start (the Auto Loader posture).

    Spark's file stream requires a pinned schema, so a producer upgrade that
    adds columns mid-log is invisible until the stream restarts — at which
    point this unions every parquet footer currently in the log
    (mergeSchema) so the widened contract is picked up and pre-upgrade
    files read the new columns as null.  Falls back to the v1 contract ONLY
    when the log is still empty — any other discovery failure (conflicting
    footer types, I/O errors) must surface, because proceeding with the
    pinned v1 schema would silently drop the upgraded columns, which is the
    exact loss this mode exists to prevent.  ``--event-schema v1|v2`` pins
    instead (a deployment that controls its producer contract should pin).

    Scale note: this is an O(log files) footer scan per stream (re)start.
    At a 10^10-event log a production deployment caches the discovered
    schema beside the stream checkpoint and only merges footers newer than
    the cached discovery (Auto Loader's schemaLocation) — at this repo's
    deployment scale the one-shot scan is the simpler correct posture.
    """
    # The glob emptiness shortcut only works for plain local paths; a
    # URI-style dir (file:///, hdfs://, s3a://) finds no files and would
    # silently pin v1 — the exact column loss this mode must surface.  For
    # those, attempt the read and fall back ONLY on the explicit
    # empty/missing-path failure Spark raises for a schema-less dir.
    import glob
    import re

    if not re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", events_dir):
        has_files = any(
            f
            for f in glob.iglob(os.path.join(events_dir, "**"), recursive=True)
            if f.endswith(".parquet")
        )
        if not has_files:
            return CHANGE_EVENTS_SCHEMA
    try:
        return (
            spark.read.option("mergeSchema", "true")
            .option("recursiveFileLookup", "true")
            .parquet(events_dir)
            .schema
        )
    except Exception as e:  # AnalysisException hierarchy varies by version
        msg = str(e)
        if "Unable to infer schema" in msg or "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return CHANGE_EVENTS_SCHEMA
        raise


def _table_key(table: LakeTable, key_col: str) -> str:
    """The table's OWN key: the source column of a ``bucket_m3`` spec, else
    ``key_col``.  Folding or resolving keep-max-LSN on any other column would
    max_by-collapse distinct rows that share its value — silent data loss.
    An identity spec (e.g. after ``migrate.update_partitioning`` on a
    payload column) does not name the key."""
    spec = table.partition_spec
    if spec and spec[0].transform == "bucket_m3":
        return spec[0].source_col
    return key_col


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="clin_variant_etl_spark.run")
    p.add_argument("--events-dir", default=None, help="change-event log root (parquet)")
    p.add_argument("--table", required=True, help="target lake table path")
    p.add_argument("--lineage", default=None, help="lineage side-table path")
    p.add_argument("--checkpoint-table", default=None, help="epoch checkpoint side-table path")
    p.add_argument("--stream-checkpoint", default=None, help="Structured Streaming checkpoint dir")
    p.add_argument(
        "--mode",
        choices=["drain", "tail", "maintain", "lookup"],
        default="drain",
        help="drain/tail ingest the event log; maintain runs the out-of-band "
        "table-maintenance pass (compact + mor delta fold, snapshot expiry, "
        "orphan-file GC) a production deployment schedules separately from "
        "the ingest job so fold cost never rides the ingest critical path; "
        "lookup prints the visible state of --keys as JSON lines (bucket + "
        "bloom pruned — see CdcPipeline.lookup)",
    )
    p.add_argument("--trigger-seconds", type=int, default=30)
    p.add_argument("--key-col", default="doc_id")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--n-salts", type=int, default=16)
    p.add_argument("--max-files-per-trigger", type=int, default=None)
    p.add_argument(
        "--apply-mode",
        choices=["cow", "mor"],
        default="cow",
        help="cow = copy-on-write merge; mor = delta-file commits "
        "(write cost ~ epoch delta; fold via maintenance.compact)",
    )
    p.add_argument(
        "--event-schema",
        choices=["auto", "v1", "v2"],
        default="auto",
        help="event-log read schema: auto = discover from the log's parquet "
        "footers at stream start (restart picks up producer upgrades); "
        "v1/v2 pin the declared contract",
    )
    p.add_argument("--app-name", default="cdc-lake-apply")
    # maintenance-pass knobs (--mode maintain)
    p.add_argument("--target-file-bytes", type=int, default=128 * 1024 * 1024)
    p.add_argument("--keep-snapshots", type=int, default=2)
    p.add_argument(
        "--orphan-grace-hours",
        type=float,
        default=72.0,
        help="minimum age before an unreferenced file is GC'd; must exceed "
        "the longest possible in-flight write->commit duration",
    )
    p.add_argument(
        "--no-fold",
        action="store_true",
        help="skip the mor base+delta fold during compaction (bin-pack only)",
    )
    p.add_argument(
        "--key-blooms",
        action="store_true",
        help="stamp per-file key blooms into every commit's manifest "
        "(enables lookup-mode file skipping; costs one narrow key-column "
        "re-read per written file at commit time)",
    )
    # drain/tail mor knobs: the in-loop auto-fold (maintenance.fold_candidates
    # policy, manifest-only check per micro-batch) is ON by default so an
    # untended mor table's reads stay flat; --mode maintain remains the
    # out-of-band unconditional fold for deployments that opt out here
    p.add_argument(
        "--no-auto-fold",
        action="store_true",
        help="(mor drain/tail) disable the per-batch delta:base ratio fold",
    )
    p.add_argument(
        "--fold-ratio",
        type=float,
        default=0.25,
        help="(mor drain/tail) fold a bucket when delta:base file ratio "
        "reaches this (see maintenance.fold_candidates for the full policy)",
    )
    p.add_argument(
        "--bloom-cols",
        default=None,
        help="comma-separated PAYLOAD columns to bloom per file in addition "
        "to the key (enables --mode lookup --by-col secondary lookups; same "
        "per-file cost model as --key-blooms)",
    )
    # lookup-mode knobs (--mode lookup)
    p.add_argument("--keys", default=None, help="comma-separated keys to look up")
    p.add_argument(
        "--by-col",
        default=None,
        help="(lookup mode) treat --keys as values of this PAYLOAD column "
        "(CdcPipeline.lookup_by; bloom-pruned when the table was ingested "
        "with --bloom-cols including it)",
    )
    args = p.parse_args(argv)
    if args.mode in ("drain", "tail") and not (args.events_dir and args.stream_checkpoint):
        p.error(f"--mode {args.mode} requires --events-dir and --stream-checkpoint")
    if args.mode == "lookup" and not args.keys:
        p.error("--mode lookup requires --keys")

    spark = build_session(args.app_name)
    if args.mode == "maintain":
        from .lake import maintenance
        from .lake.table import CommitConflict
        from .schemas import INTERNAL_LAST_LSN

        t = LakeTable(args.table)
        key = _table_key(t, args.key_col)
        fold = (
            (key, INTERNAL_LAST_LSN)
            if args.apply_mode == "mor" and not args.no_fold
            else None
        )
        # concurrent ingest commits race the compaction's snapshot pin;
        # compact()'s contract is caller-retries-on-the-new-snapshot
        for attempt in range(3):
            try:
                snap = maintenance.compact(
                    spark, t, target_file_bytes=args.target_file_bytes,
                    resolve_keep_latest=fold,
                )
                break
            except CommitConflict:
                if attempt == 2:
                    raise
        expired = maintenance.expire_snapshots(t, keep_last=args.keep_snapshots)
        orphans = maintenance.remove_orphan_files(
            t, grace_seconds=args.orphan_grace_hours * 3600
        )
        print(
            f"maintained: compacted to snapshot {snap.snapshot_id}"
            f"{' (mor fold on ' + key + ')' if fold else ''}, "
            f"expired {len(expired)} snapshots, GC'd {len(orphans)} orphan files"
        )
        return 0
    if args.mode == "lookup":
        import json

        # Like maintain mode, the lookup key is the table's OWN key.  Error
        # (not override) on a mismatch the caller typed explicitly.
        key = _table_key(LakeTable(args.table), args.key_col)
        if args.key_col != p.get_default("key_col") and args.key_col != key:
            p.error(
                f"--key-col {args.key_col!r} disagrees with the table's bucket "
                f"spec key {key!r}; lookup always uses the table's own key"
            )
        pipe = CdcPipeline(spark, args.table, key_col=key)
        probes = [k for k in args.keys.split(",") if k]
        rows = (
            pipe.lookup_by(args.by_col, probes) if args.by_col else pipe.lookup(probes)
        ).collect()
        for r in rows:
            print(json.dumps(r.asDict(recursive=True), default=str))
        print(f"lookup: {len(rows)} row(s)", file=sys.stderr)
        return 0
    if not LakeTable.exists(args.table):
        create_cdc_table(args.table, BASE_DOCS_SCHEMA, key_col=args.key_col, n_buckets=args.n_buckets)
    pipe = CdcPipeline(
        spark,
        args.table,
        lineage_path=args.lineage,
        checkpoint_path=args.checkpoint_table,
        key_col=args.key_col,
        n_salts=args.n_salts,
        apply_mode=args.apply_mode,
        key_blooms=args.key_blooms,
        bloom_cols=tuple(c for c in (args.bloom_cols or "").split(",") if c),
    )
    schema = {
        "v1": CHANGE_EVENTS_SCHEMA,
        "v2": CHANGE_EVENTS_V2_SCHEMA,
        "auto": None,
    }[args.event_schema] or _discover_event_schema(spark, args.events_dir)
    after_batch = None
    if args.apply_mode == "mor" and not args.no_auto_fold:
        from .lake.maintenance import auto_fold
        from .schemas import INTERNAL_LAST_LSN

        # fold key = the table's OWN key (same rule as maintain/lookup);
        # idempotent under foreachBatch redelivery — see
        # StreamingCdc.after_batch crash contract
        fold_key = _table_key(pipe.table, args.key_col)

        def after_batch(pipeline, epoch_id, res):
            auto_fold(
                spark,
                pipeline.table,
                (fold_key, INTERNAL_LAST_LSN),
                max_delta_ratio=args.fold_ratio,
                target_file_bytes=args.target_file_bytes,
            )

    stream = StreamingCdc(
        spark,
        pipe,
        events_dir=args.events_dir,
        event_schema=schema,
        checkpoint_dir=args.stream_checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
        after_batch=after_batch,
    )
    if args.mode == "drain":
        stream.run_available()
        state = pipe.read_state()
        print(f"drained; table now has {state.count()} visible rows "
              f"(snapshot {pipe.table.current_snapshot().snapshot_id})")
    else:
        stream.run_tail(trigger_seconds=args.trigger_seconds)
    return 0


if __name__ == "__main__":
    sys.exit(main())

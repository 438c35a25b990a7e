"""CDC apply: LSN-guarded MERGE of change-event micro-batches into the lake.

The pipeline per epoch (SURVEY.md §7.2 step 3-8):

  events ──▶ keep-max-LSN dedup per doc_id (engine/dedup.py auto)   [skew-proof]
         ──▶ bucket pruning (only buckets with changes are touched)  [merge ∝ delta]
         ──▶ full-outer join vs the touched bucket slice, LSN guard  [late events]
         ──▶ rewrite touched buckets + atomic snapshot commit        [exactly-once]
         ──▶ lineage + checkpoint rows                               [observability]

Two apply modes (``CdcPipeline(apply_mode=…)``), identical semantics and
lineage counts, different physical write:

- ``"cow"`` (copy-on-write, the default): the full-outer merge above —
  touched buckets are REWRITTEN each epoch.  Read path is a plain scan.
  At a 100-TB table where a uniform-keyed 10^8-event epoch touches every
  bucket, the whole table is rewritten per epoch (carry rows dominate) —
  the reference shares this property (Delta CoW MERGE,
  etl/conf/EtlConfiguration.scala:47,52), but it is the real 100× ceiling.
- ``"mor"`` (merge-on-read): the per-epoch net change (≤1 row/key, already
  computed by the dedup) is classified against a NARROW prior-state probe
  (key + lsn + tombstone only — the token payload of the existing table is
  never read, never shuffled, never rewritten) and committed as *delta
  files* appended to the touched buckets.  Write cost ∝ epoch delta, not
  table size.  Readers resolve base+delta with the same keep-max-LSN rule
  (``read_state``), and ``lake.maintenance.compact(resolve_keep_latest=…)``
  folds deltas back into base files out-of-band.

Exactly-once: the epoch gate (``last_epoch_id``) lives in the *data table's*
snapshot properties, so gate-update and data-commit are one atomic operation —
a foreachBatch retry of an already-committed epoch is a no-op (reference
analogue: OverWritePartition idempotent batch replay, SURVEY.md §1.4/J2).
The checkpoint table is written after the data commit and is therefore only
advisory; a crash between the two is healed by backfill on replay.

Delete semantics: deletes write *tombstones* (``_deleted=true`` with the
delete's lsn) rather than removing the row, so a late update with a lower lsn
than the delete stays dead (SURVEY.md §7.4 hard part #1).  Compaction
(lake/maintenance.py) may drop tombstones once the lsn horizon has passed.
"""

from __future__ import annotations

import math
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

from ..lake.table import CommitConflict, LakeTable, PartitionField
from ..schemas import (
    EPOCH_CHECKPOINT_SCHEMA,
    INTERNAL_DELETED,
    INTERNAL_LAST_LSN,
    LINEAGE_SCHEMA,
    align_frame,
    merge_schemas,
    same_shape,
)
from .dedup import latest_by_key_auto, latest_by_key_salted

EVENT_META_COLS = ("lsn", "op", "event_ts", "epoch_hint")
BUCKET_PARTITION = "bucket"


def create_cdc_table(
    path: str, payload_schema: T.StructType, key_col: str = "doc_id", n_buckets: int = 16
) -> LakeTable:
    """Create the target lake table: payload + internal columns, bucketed on key.

    ``n_buckets`` is the merge-parallelism unit: at 100 TB this would be
    O(10^4-10^5) so one bucket is a few hundred MB and a merge rewrite of a
    bucket is a single-task-sized unit of work.
    """
    schema = T.StructType(
        list(payload_schema.fields)
        + [
            T.StructField(INTERNAL_LAST_LSN, T.LongType(), True),
            T.StructField(INTERNAL_DELETED, T.BooleanType(), True),
        ]
    )
    # bucket_m3 = pmod(murmur3(key), n) — identical to Spark's
    # HashPartitioning formula, so the merge join (hash-partitioned on the
    # key into exactly n_buckets partitions) produces output that is ALREADY
    # physically grouped by bucket and the pre-write repartition exchange of
    # the full merged table is skipped (write_data_files(aligned=True)).
    spec = [PartitionField(BUCKET_PARTITION, key_col, "bucket_m3", n_buckets)]
    return LakeTable.create(path, schema, spec)


def _aligned_partition_count(
    n_buckets: int, parallelism: int, bucket_keys: list[int], net_count: int
) -> int:
    """Partition count for the bucket-aligned merge: ``k * n_buckets`` with
    every task holding exactly ONE bucket value (k files per bucket per
    epoch, folded by compaction).

    Two guards on k:
    - parallelism (ADVICE r3): k >= ceil(parallelism / n_buckets) so the
      merge uses at least cluster-parallelism tasks on few-bucket tables;
    - **measured skew**: a bucket's rows can only land in partitions
      ≡ bucket (mod n_buckets) — exactly k of them — so a HOT bucket
      (adversarial keys concentrating in one bucket) would pin its entire
      merge+write to k tasks no matter how many cores idle.  The per-bucket
      net-key histogram is already collected for the commit, so size k such
      that the hottest bucket's share spreads to ~1/parallelism per task:
      k >= parallelism * max_bucket_share, capped at parallelism (beyond
      that every bucket already spans all cores).  The guard only arms when
      the hottest bucket exceeds 1.5x its uniform share, so ordinary
      layouts keep the minimal k (and its file count); the CoW carry rows
      follow the same key distribution, so the net histogram is the right
      proxy for write work.
    """
    k = max(1, math.ceil(parallelism / n_buckets))
    if net_count > 0 and bucket_keys:
        share = max(bucket_keys) / net_count
        if share > 1.5 / n_buckets:
            k = max(k, min(parallelism, math.ceil(parallelism * share)))
    return n_buckets * k


def _align(df: DataFrame, fields) -> DataFrame:
    # nested-aware alignment (missing nested fields → typed nulls) so an
    # epoch can add a field INSIDE an array<struct> column mid-stream
    return align_frame(df, T.StructType(list(fields)))


@dataclass
class ApplyResult:
    epoch_id: int
    snapshot_id: int
    event_count: int
    applied_inserts: int
    applied_updates: int
    applied_deletes: int
    dropped_duplicates: int
    dropped_stale: int
    wall_ms: int
    skipped: bool = False
    evolved_schema: bool = False
    phase_ms: dict | None = None  # per-phase wall-clock (observability)
    dedup_variant_used: str | None = None  # "join" | "salted" (auto reports its pick)


def _coerce_probe_values(field: T.StructField, values: list) -> list:
    """Coerce probe values to the column's Python type (CLI callers pass
    strings) so bucket hashes, bloom probes (built on str(typed value)),
    and pushed ``isin`` predicates all compare typed-equal."""
    if isinstance(field.dataType, T.StringType):
        return [str(v) for v in values]
    if isinstance(field.dataType, (T.LongType, T.IntegerType, T.ShortType, T.ByteType)):
        return [int(v) for v in values]
    if isinstance(field.dataType, (T.DoubleType, T.FloatType)):
        return [float(v) for v in values]
    return values


class CdcPipeline:
    """One CDC target table + its lineage/checkpoint side tables."""

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        lineage_path: str | None = None,
        checkpoint_path: str | None = None,
        key_col: str = "doc_id",
        n_salts: int = 8,
        collect_part_stats: bool = False,
        debug_checks: bool = False,
        apply_mode: str = "cow",
        broadcast_max_rows: int | None = 4_000_000,
        key_blooms: bool = False,
        bloom_cols: tuple[str, ...] = (),
    ):
        self.spark = spark
        self.table = LakeTable(table_path)
        self.key_col = key_col
        self.n_salts = n_salts
        # "cow": rewrite touched buckets per epoch (module docstring);
        # "mor": append per-epoch net-change delta files, resolve at read.
        if apply_mode not in ("cow", "mor"):
            raise ValueError(f"unknown apply_mode {apply_mode!r}")
        self.apply_mode = apply_mode
        # dedup (engine/dedup.py latest_by_key_auto): measured winner-count
        # cost model — broadcast join while the winner set fits
        # ``broadcast_max_rows`` (payload never shuffles), salted
        # single-pass once it cannot; the previous epoch's net count
        # short-circuits the probe.  Both plans share the exact
        # lineage-count contract.
        self.broadcast_max_rows = broadcast_max_rows
        # key_blooms: stamp a per-file bloom of key_col into every commit's
        # manifest entries, enabling lookup()'s file skipping.  Opt-in: the
        # bloom build re-reads the key column of each written file at commit
        # time — tables that are only ever scanned whole shouldn't pay it.
        self.key_blooms = key_blooms
        # bloom_cols: ADDITIONAL (payload) columns bloomed per file, enabling
        # lookup_by()'s secondary-column file skipping.  Same cost model as
        # key_blooms (one narrow re-read per written file per column).
        self.bloom_cols = tuple(bloom_cols)
        # auto-variant probe short-circuit: last applied epoch's net-change
        # count (in-process; a restarted driver simply re-probes once)
        self._net_estimate: int | None = None
        # Default (False): global offset range + count ride the `observe` on
        # the dedup pass — ZERO extra scans; lineage gets one summary row.
        # True adds per-source-partition offset rows at the cost of one extra
        # scan + shuffle + driver collect of the event batch per epoch — at
        # 10^8-event production epochs that is a double-read of the source,
        # so it is opt-in for debugging/audit runs only.
        self.collect_part_stats = collect_part_stats
        # opt-in: assert the redelivery contract (same (key,lsn) ⇒ identical
        # payload) per epoch — one extra job, for audit/debug runs only
        self.debug_checks = debug_checks
        self.lineage = self._side_table(lineage_path, LINEAGE_SCHEMA)
        self.checkpoint = self._side_table(checkpoint_path, EPOCH_CHECKPOINT_SCHEMA)

    @staticmethod
    def _summary_part_rows(ev_stats: dict) -> list[dict]:
        """Summary-only stand-in for per-partition offset rows (one logical
        partition covering the whole epoch's offset range)."""
        if not ev_stats.get("n"):
            return []
        return [
            {
                "partition_id": 0,
                "source_offset_min": ev_stats["min_lsn"],
                "source_offset_max": ev_stats["max_lsn"],
                "event_count": ev_stats["n"],
            }
        ]

    @staticmethod
    def _side_table(path: str | None, schema: T.StructType) -> LakeTable | None:
        if path is None:
            return None
        if LakeTable.exists(path):
            return LakeTable(path)
        return LakeTable.create(path, schema)

    # ------------------------------------------------------------------ read
    def read_state(self, snapshot_id: int | None = None) -> DataFrame:
        """Current (or time-traveled) visible state: tombstones + internals hidden.

        On a merge-on-read table the scan may hold several versions of a key
        (base + appended delta files); the visible state is the keep-max-LSN
        resolution — the same rule the CoW merge applies at write time.  The
        resolve is applied whenever the pipeline runs in mor mode OR the
        snapshot says deltas may exist (``mor`` property, stamped by every
        mor commit); it is a semantic no-op on a 1-row-per-key table, so a
        safety-resolve after compaction costs only the aggregation.
        """
        df = self._read_resolved(snapshot_id)
        df = df.where(~F.coalesce(F.col(INTERNAL_DELETED), F.lit(False)))
        return df.drop(INTERNAL_LAST_LSN, INTERNAL_DELETED)

    def lookup(self, keys, snapshot_id: int | None = None) -> DataFrame:
        """Point lookup: visible state for specific keys, opening only the
        files that can hold them.

        Layered pruning, each exact-or-conservative:
        1. bucket pruning — the sought keys' buckets are computed with the
           table spec's OWN expression (one collect over len(keys) rows, so
           the Python side can never disagree with the writer's murmur3);
           only those buckets' manifest shards are even opened;
        2. bloom file skipping inside the bucket (``read(key_filter=…)``,
           populated when the pipeline runs with ``key_blooms=True``) — on a
           mor table a hot bucket holds base + many delta files, and the
           bloom keeps the lookup to the files that mention the key;
        3. the row predicate (pushed to the parquet scan).

        The keep-max-LSN resolve runs AFTER filtering, which is exact: a
        bloom can only over-keep files (no false negatives), and the row
        filter keeps every version of a sought key — so the resolve sees
        the key's full version set, same as a full read_state().
        """
        # spec + schema come from the PINNED snapshot: a time-traveled lookup
        # across a partition-spec change (migrate.update_partitioning) must
        # hash keys with the spec the snapshot's files were written under —
        # the current spec would prune every shard of the old layout
        snap = self.table.snapshot_at(snapshot_id)
        keys = list(keys)
        if not keys:
            return self.read_state(snap.snapshot_id).limit(0)
        field = next(
            (f for f in snap.schema.fields if f.name == self.key_col), None
        )
        if field is None:
            raise ValueError(
                f"lookup: key column {self.key_col!r} not in table schema "
                f"({[f.name for f in snap.schema.fields]})"
            )
        # coerce probe values to the key column's Python type (CLI callers
        # pass strings) so the bucket hash, the bloom probe (built on
        # str(typed value)), and the pushed isin all compare typed-equal
        keys = _coerce_probe_values(field, keys)
        pf = None
        spec = snap.partition_spec
        if spec and spec[0].source_col == self.key_col and spec[0].transform == "bucket_m3":
            kdf = self.spark.createDataFrame(
                [(k,) for k in keys],
                T.StructType([T.StructField(self.key_col, field.dataType)]),
            )
            buckets = {r["b"] for r in kdf.select(spec[0].expr().alias("b")).collect()}
            pf = {spec[0].name: buckets}
        df = self._read_resolved(
            snap.snapshot_id,
            partition_filter=pf,
            key_filter={self.key_col: keys},
            row_filter=F.col(self.key_col).isin(keys),
        )
        df = df.where(~F.coalesce(F.col(INTERNAL_DELETED), F.lit(False)))
        return df.drop(INTERNAL_LAST_LSN, INTERNAL_DELETED)

    def lookup_by(self, col: str, values, snapshot_id: int | None = None) -> DataFrame:
        """Secondary-column point lookup: visible-state rows whose ``col``
        (a payload column, bloomed via ``bloom_cols=…``) currently holds one
        of ``values`` — opening only files that can be involved.

        Two bloom-pruned passes, both required for exactness:

        1. CANDIDATE KEYS — scan only files whose ``col`` bloom may contain
           a sought value (``read(key_filter=…)``) and collect the distinct
           keys of matching rows.  A payload predicate alone cannot feed
           the mor resolve: it drops other VERSIONS of a key, so the
           keep-max-LSN winner could be computed from a partial version set
           (the ``_read_resolved`` contract).
        2. KEY LOOKUP — ``lookup(candidate_keys)`` (bucket + key-bloom
           pruned) resolves each candidate's full version set, then the
           payload predicate is re-applied POST-resolve, which keeps
           exactly the keys whose LATEST version matches.

        The candidate key set is collected to the driver — this is a POINT
        lookup API (same contract as ``lookup``): values that select large
        row fractions should use ``read_state().where(...)`` instead.
        Without blooms on ``col`` the result is identical, just unpruned
        (conservative read contract).
        """
        values = list(values)
        # both passes read ONE snapshot: a commit landing between them must
        # not feed the key pass candidates from another version of the table
        snap = self.table.snapshot_at(snapshot_id)
        sid = snap.snapshot_id
        field = next((f for f in snap.schema.fields if f.name == col), None)
        if field is None:
            raise ValueError(
                f"lookup_by: column {col!r} not in table schema "
                f"({[f.name for f in snap.schema.fields]})"
            )
        if not values:
            return self.read_state(sid).limit(0)
        values = _coerce_probe_values(field, values)
        cand = (
            self.table.read(self.spark, snapshot_id=sid, key_filter={col: values})
            .where(F.col(col).isin(values))
            .select(self.key_col)
            .distinct()
        )
        keys = [r[0] for r in cand.collect()]
        if not keys:
            return self.read_state(sid).limit(0)
        return self.lookup(keys, snapshot_id=sid).where(F.col(col).isin(values))

    def _read_resolved(
        self,
        snapshot_id: int | None = None,
        partition_filter: dict[str, set[str]] | None = None,
        key_filter: dict[str, list] | None = None,
        row_filter: F.Column | None = None,
    ) -> DataFrame:
        """One row per key INCLUDING internals (lsn, tombstones) — the mor
        keep-max-LSN resolve applied when deltas may exist.  Filters are
        applied BEFORE the resolve; callers must only pass filters that
        keep every version of any key they keep (key-level predicates)."""
        snap = self.table.snapshot_at(snapshot_id)
        df = self.table.read(
            self.spark,
            snapshot_id=snap.snapshot_id,
            partition_filter=partition_filter,
            key_filter=key_filter,
        )
        if row_filter is not None:
            df = df.where(row_filter)
        if self.apply_mode == "mor" or snap.properties.get("mor") == "1":
            df = latest_by_key_salted(df, self.key_col, INTERNAL_LAST_LSN, self.n_salts)
        return df

    def read_changes(
        self,
        from_snapshot_id: int | None = None,
        to_snapshot_id: int | None = None,
        include_pre_images: bool = False,
    ) -> DataFrame:
        """Change-data-feed read: every key whose current version differs
        between two snapshots — upserts with their payload, deletes as
        ``_change_type='delete'`` rows — plus ``_last_lsn``.  The consumer's
        cursor is the SNAPSHOT ID (``resume_info`` publishes one per epoch;
        ``from_snapshot_id=None`` means full history).

        Snapshot ids are the only sound cursor here: a source-LSN high-water
        mark breaks under out-of-order delivery, because a late event can
        set a key's current lsn BELOW the consumer's global mark (the event
        is late globally yet still the newest for its key) — the change
        would be silently skipped.  Snapshot-diff semantics are exact for
        any commit history: a key changed iff its resolved (key, lsn) pair
        in ``to`` is absent from ``from`` (per-key lsn never repeats).

        Cost is O(changed buckets), not O(table): only partitions owning a
        file added since ``from`` are scanned on BOTH sides (a key's version
        can only change via a new file in its own bucket), and compaction
        rewrites inside that window are filtered by the (key, lsn) anti-join
        — file movement is invisible, only value changes surface.

        Caveat (same as Iceberg CDF past snapshot expiry): tombstones
        dropped by the lsn-horizon GC are no longer observable, so a
        consumer further behind than the horizon must re-sync from a full
        read_state.

        ``include_pre_images=True`` switches to the Delta-CDF row taxonomy
        needed by retraction-based consumers (incremental materialized-view
        maintenance, engine/matview.py):

        - ``insert``           — post-image of a key absent (or dead) at ``from``
        - ``update_postimage`` — post-image of a key live at both snapshots
        - ``update_preimage``  — the SAME key's payload as of ``from``
        - ``delete``           — the PRE-image payload of a key live at
          ``from`` and dead at ``to`` (the tombstone's own payload is not
          the retractable contribution; the old row's is)

        A key born and deleted inside the window emits nothing (net-zero
        contribution).  Pre-image rows carry their OLD ``_last_lsn``.  Both
        sides of the pre/post join are pruned to the changed buckets, so
        cost stays O(changed buckets).
        """
        to_snap = self.table.snapshot_at(to_snapshot_id)
        fresh = to_snap.files
        if from_snapshot_id is not None:
            old_paths = {f["path"] for f in self.table.snapshot(from_snapshot_id).files}
            fresh = [f for f in fresh if f["path"] not in old_paths]
        deleted = F.coalesce(F.col(INTERNAL_DELETED), F.lit(False))
        change_type = F.when(deleted, F.lit("delete")).otherwise(F.lit("upsert"))
        if not fresh:
            base = self.table.read(self.spark, snapshot_id=to_snap.snapshot_id).limit(0)
            ct = F.lit("insert") if include_pre_images else change_type
            return base.withColumn("_change_type", ct).drop(INTERNAL_DELETED)
        pf = None
        spec = to_snap.partition_spec
        if spec and all(p.name in f["partition"] for p in spec for f in fresh):
            pf = {p.name: {f["partition"][p.name] for f in fresh} for p in spec}
        new_state = self._read_resolved(to_snap.snapshot_id, partition_filter=pf)
        if from_snapshot_id is not None:
            old_pairs = self._read_resolved(from_snapshot_id, partition_filter=pf).select(
                self.key_col, INTERNAL_LAST_LSN
            )
            new_state = new_state.join(old_pairs, [self.key_col, INTERNAL_LAST_LSN], "left_anti")
        if not include_pre_images:
            return new_state.withColumn("_change_type", change_type).drop(INTERNAL_DELETED)
        if from_snapshot_id is None:
            # full history: every live key is a plain insert, nothing to retract
            return (
                new_state.where(~deleted)
                .withColumn("_change_type", F.lit("insert"))
                .drop(INTERNAL_DELETED)
            )
        old_vis = self._read_resolved(from_snapshot_id, partition_filter=pf)
        old_vis = old_vis.where(~F.coalesce(F.col(INTERNAL_DELETED), F.lit(False))).drop(
            INTERNAL_DELETED
        )
        chg_keys = new_state.select(
            self.key_col,
            F.coalesce(F.col(INTERNAL_DELETED), F.lit(False)).alias("__was_delete"),
        )
        pre = old_vis.join(chg_keys, self.key_col, "inner")
        pre_out = pre.withColumn(
            "_change_type",
            F.when(F.col("__was_delete"), F.lit("delete")).otherwise(F.lit("update_preimage")),
        ).drop("__was_delete")
        pre_keys = pre.select(self.key_col).withColumn("__had_pre", F.lit(True))
        post = new_state.where(~deleted).drop(INTERNAL_DELETED)
        post_out = (
            post.join(pre_keys, self.key_col, "left")
            .withColumn(
                "_change_type",
                F.when(F.col("__had_pre"), F.lit("update_postimage")).otherwise(F.lit("insert")),
            )
            .drop("__had_pre")
        )
        return post_out.unionByName(pre_out)

    def last_epoch_id(self) -> int:
        return int(self.table.properties().get("last_epoch_id", -1))

    def resume_info(self) -> dict:
        """Where to resume a batch-mode replay: last committed epoch (from
        the atomic snapshot gate — authoritative) plus the applied source
        offset high-water mark and per-epoch history (from the checkpoint
        side table — advisory, healed on replay).  A driver restarting a
        manual replay applies epochs > ``last_epoch_id`` / offsets >
        ``max_lsn``; the epoch gate makes over-delivery harmless.
        """
        info = {"last_epoch_id": self.last_epoch_id(), "max_lsn": None, "epochs": []}
        if self.checkpoint is not None:
            rows = (
                self.checkpoint.read(self.spark)
                .orderBy("epoch_id")
                .collect()
            )
            info["epochs"] = [
                {
                    "epoch_id": r["epoch_id"],
                    "min_lsn": r["source_min_lsn"],
                    "max_lsn": r["source_max_lsn"],
                    "events": r["event_count"],
                    "snapshot_id": r["snapshot_id"],
                }
                for r in rows
            ]
            lsns = [r["source_max_lsn"] for r in rows if r["source_max_lsn"] is not None]
            info["max_lsn"] = max(lsns) if lsns else None
        return info

    # ----------------------------------------------------------------- apply
    def apply_epoch(self, events: DataFrame, epoch_id: int) -> ApplyResult:
        t0 = time.monotonic()
        phases: dict[str, int] = {}
        _last = [t0]

        def _mark(name: str) -> None:
            now = time.monotonic()
            phases[name] = int((now - _last[0]) * 1000)
            _last[0] = now

        snap = self.table.current_snapshot()
        if epoch_id <= int(snap.properties.get("last_epoch_id", -1)):
            # replay of an already-committed epoch → exactly-once no-op;
            # heal a possibly-missing checkpoint row (crash between data
            # commit and checkpoint write).
            self._backfill_checkpoint(epoch_id)
            return ApplyResult(epoch_id, snap.snapshot_id, 0, 0, 0, 0, 0, 0, 0, skipped=True)

        # ---- schema evolution: merge incoming payload schema into the table's
        internal = {INTERNAL_LAST_LSN, INTERNAL_DELETED}
        table_payload = T.StructType([f for f in snap.schema.fields if f.name not in internal])
        ev_payload = T.StructType(
            [f for f in events.schema.fields if f.name not in EVENT_META_COLS]
        )
        merged_payload = merge_schemas(table_payload, ev_payload)
        evolved = not same_shape(merged_payload, table_payload)
        if not evolved:
            merged_payload = table_payload  # keep canonical nullability
        new_schema = T.StructType(
            list(merged_payload.fields)
            + [
                T.StructField(INTERNAL_LAST_LSN, T.LongType(), True),
                T.StructField(INTERNAL_DELETED, T.BooleanType(), True),
            ]
        )
        payload_cols = [f.name for f in merged_payload.fields if f.name != self.key_col]

        # ---- lineage: global offsets/count always come FREE from an
        # `observe` on the events scan inside the dedup job; per-file lsn
        # coverage (`collect_part_stats`) comes from the parquet footers of
        # the files the merge writes anyway — NO extra scan of the event
        # batch in either mode.

        # ---- net change per key: keep-max-LSN dedup (auto plan choice).
        # net is ≤1 row/key — small vs the event volume — so it is cached and
        # reused by the stats pass and the merge write (one dedup execution).
        obs_ev = Observation(f"events-{epoch_id}")
        events_observed = events.observe(
            obs_ev,
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
            F.count(F.lit(1)).alias("n"),
        )
        dedup_cleanup: list = []
        variant_report: dict = {}
        net = latest_by_key_auto(
            events,
            self.key_col,
            "lsn",
            n_salts=self.n_salts,
            count_col="_fold_cnt",
            distinct_col="_dst_cnt",
            stats_df=events_observed,
            check_payload_consistency=self.debug_checks,
            broadcast_max_rows=self.broadcast_max_rows,
            cleanup=dedup_cleanup,
            estimate=self._net_estimate,
            chosen=variant_report,
        )
        net = _align(
            net,
            list(merged_payload.fields)
            + [
                T.StructField("lsn", T.LongType()),
                T.StructField("op", T.StringType()),
                T.StructField("_fold_cnt", T.LongType()),
                T.StructField("_dst_cnt", T.LongType()),
            ],
        )

        spec = snap.partition_spec
        bucket_expr = spec[0].expr() if spec else F.lit("0")
        net = net.withColumn("_bucket_v", bucket_expr).persist()
        try:
            # one aggregation delivers affected buckets AND the dedup totals
            bucket_rows = (
                net.groupBy("_bucket_v")
                .agg(
                    F.count(F.lit(1)).alias("n_keys"),
                    F.sum("_fold_cnt").alias("sum_cnt"),
                    F.sum("_dst_cnt").alias("sum_dst"),
                )
                .collect()
            )
            _mark("dedup")
            affected = [r["_bucket_v"] for r in bucket_rows]
            net_count = sum(r["n_keys"] for r in bucket_rows)
            total_dst = sum(r["sum_dst"] for r in bucket_rows)
            # global source stats observed for free during the dedup job.
            # An EMPTY micro-batch (foreachBatch can deliver one) optimizes
            # to a local relation whose CollectMetrics never materializes —
            # Observation.get then fails JVM-side.  Only that case is
            # swallowed: a non-empty batch (affected buckets exist) with
            # missing metrics is a real failure and must surface, otherwise
            # events_in=0 corrupts the dropped-duplicate arithmetic below.
            try:
                ev_stats = obs_ev.get
            except Exception:
                if affected:
                    raise
                ev_stats = {"min_lsn": None, "max_lsn": None, "n": 0}
            events_in = ev_stats["n"]
            summary_rows = self._summary_part_rows(ev_stats)
            part_rows = summary_rows

            if not affected:
                # empty epoch: advance the gate with a data-less commit
                new_snap = self.table.commit(
                    "merge", [], properties={"last_epoch_id": str(epoch_id), "epoch_id": str(epoch_id)},
                    expected_parent=snap.snapshot_id,
                )
                wall = int((time.monotonic() - t0) * 1000)
                res = ApplyResult(
                    epoch_id, new_snap.snapshot_id, events_in, 0, 0, 0, 0, 0, wall,
                    phase_ms=phases, dedup_variant_used=variant_report.get("variant"),
                )
                self._write_sidecars(res, part_rows, summary_rows)
                return res

            pfilter = {BUCKET_PARTITION: set(affected)} if spec else None

            # ---- bucket-aligned merge: with a bucket_m3 spec on the key,
            # hash-partitioning BOTH join inputs on the key into k·n_buckets
            # partitions makes the join run co-partitioned (no extra
            # exchange) AND leaves its output physically grouped by bucket —
            # pmod(murmur3(key), k·n) mod n is precisely pmod(murmur3(key),
            # n), the bucket value.  The write then skips its own
            # repartition of the output frame — one full shuffle less per
            # epoch.  Misalignment is impossible by construction, and
            # partitionBy routes by value anyway.
            # Parallelism guard (ADVICE r3): k = ceil(parallelism /
            # n_buckets), so every task still holds exactly ONE bucket value
            # (k files per bucket per epoch instead of 1, folded by
            # compaction) while the merge join uses at least
            # cluster-parallelism tasks even on few-bucket tables.
            aligned = (
                len(spec) == 1
                and spec[0].transform == "bucket_m3"
                and spec[0].source_col == self.key_col
            )
            n_parts = 0
            if aligned:
                n_parts = _aligned_partition_count(
                    spec[0].n,
                    self.spark.sparkContext.defaultParallelism,
                    [r["n_keys"] for r in bucket_rows],
                    net_count,
                )

            obs_cls = Observation(f"cls-{epoch_id}")
            counters = [
                F.sum(F.when(F.col("_action") == a, 1).otherwise(0)).alias(a)
                for a in ("insert", "update", "delete", "dup", "stale")
            ]

            if self.apply_mode == "mor":
                # ---- merge-on-read: classify the net change against a
                # NARROW prior-state probe and append only the winning rows
                # as delta files.  The probe reads 3 columns (key, lsn,
                # tombstone) of the touched buckets — column pruning keeps
                # the token payload of the existing table out of the scan,
                # the shuffle and the write entirely; only the epoch's own
                # ≤1-row-per-key net change is ever written.  Resolution to
                # visible state happens at read (read_state) and deltas are
                # folded by maintenance.compact(resolve_keep_latest=…).
                narrow = self.table.read(self.spark, partition_filter=pfilter).select(
                    F.col(self.key_col), F.col(INTERNAL_LAST_LSN), F.col(INTERNAL_DELETED)
                )
                if aligned:
                    # hash(key, k·n_buckets) satisfies the groupBy's
                    # clustering requirement, so the resolve aggregation
                    # reuses this exchange and its output stays
                    # co-partitioned with net_j below — the classify join
                    # adds NO exchange and the delta write is aligned.
                    narrow = narrow.repartition(n_parts, self.key_col)
                    net_j = net.repartition(n_parts, self.key_col)
                else:
                    net_j = net
                # prior visible version per key: max-lsn row wins (numeric
                # max_by — HashAggregate; ties are impossible because a
                # delta is only appended when it strictly beats the prior)
                prior = narrow.groupBy(self.key_col).agg(
                    F.max(INTERNAL_LAST_LSN).alias("_p_lsn"),
                    F.max_by(
                        F.coalesce(F.col(INTERNAL_DELETED), F.lit(False)),
                        F.col(INTERNAL_LAST_LSN),
                    ).alias("_p_del"),
                )
                joined = net_j.join(prior, self.key_col, "left")
                s_lsn = F.col("lsn")
                p_lsn = F.col("_p_lsn")
                is_delete = F.col("op") == "D"
                t_absent = p_lsn.isNull() | F.col("_p_del")
                event_wins = p_lsn.isNull() | (s_lsn > p_lsn)
                action = (
                    F.when(~event_wins & (s_lsn == p_lsn), F.lit("dup"))
                    .when(~event_wins, F.lit("stale"))
                    .when(is_delete, F.lit("delete"))
                    .when(t_absent, F.lit("insert"))
                    .otherwise(F.lit("update"))
                )
                out_cols = [F.col(self.key_col)]
                for c in payload_cols:
                    out_cols.append(
                        F.when(is_delete, F.lit(None).cast(merged_payload[c].dataType))
                        .otherwise(F.col(c))
                        .alias(c)
                    )
                out_cols.append(s_lsn.alias(INTERNAL_LAST_LSN))
                out_cols.append(is_delete.alias(INTERNAL_DELETED))
                merged = (
                    joined.select(*out_cols, action.alias("_action"))
                    .observe(obs_cls, *counters)
                    .where(~F.col("_action").isin("dup", "stale"))
                    .drop("_action")
                )
            else:
                # ---- copy-on-write: LSN-guarded resolve (full outer join on
                # the key) + rewrite of the touched buckets.  Classification
                # stats are `observe`d on the SAME plan, so the merge write
                # is the only action — no separate stats job.
                target = self.table.read(self.spark, partition_filter=pfilter)
                target = _align(target, new_schema.fields)
                if aligned:
                    net_j = net.repartition(n_parts, self.key_col)
                    target = target.repartition(n_parts, self.key_col)
                else:
                    net_j = net
                s, t = net_j.alias("s"), target.alias("t")
                joined = s.join(
                    t, F.col(f"s.{self.key_col}") == F.col(f"t.{self.key_col}"), "full_outer"
                )
                s_lsn = F.col("s.lsn")
                t_lsn = F.col(f"t.{INTERNAL_LAST_LSN}")
                is_delete = F.col("s.op") == "D"
                t_absent = F.col(f"t.{self.key_col}").isNull() | F.coalesce(
                    F.col(f"t.{INTERNAL_DELETED}"), F.lit(False)
                )
                is_event = s_lsn.isNotNull()
                event_wins = is_event & (t_lsn.isNull() | (s_lsn > t_lsn))
                action = (
                    F.when(~is_event, F.lit("carry"))
                    .when(~event_wins & (s_lsn == t_lsn), F.lit("dup"))
                    .when(~event_wins, F.lit("stale"))
                    .when(is_delete, F.lit("delete"))
                    .when(t_absent, F.lit("insert"))
                    .otherwise(F.lit("update"))
                )
                out_cols = [
                    F.coalesce(F.col(f"s.{self.key_col}"), F.col(f"t.{self.key_col}")).alias(
                        self.key_col
                    )
                ]
                for c in payload_cols:
                    out_cols.append(
                        F.when(event_wins & is_delete, F.lit(None).cast(merged_payload[c].dataType))
                        .when(event_wins, F.col(f"s.{c}"))
                        .otherwise(F.col(f"t.{c}"))
                        .alias(c)
                    )
                out_cols.append(
                    F.when(event_wins, s_lsn).otherwise(t_lsn).alias(INTERNAL_LAST_LSN)
                )
                out_cols.append(
                    F.when(event_wins, is_delete)
                    .otherwise(F.coalesce(F.col(f"t.{INTERNAL_DELETED}"), F.lit(False)))
                    .alias(INTERNAL_DELETED)
                )
                merged = joined.select(*out_cols, action.alias("_action"))
                merged = merged.observe(obs_cls, *counters).drop("_action")

            files = self.table.write_data_files(
                merged,
                max(snap.schemas) + 1 if evolved else snap.schema_id,
                spec,
                # per-file lsn coverage from footers — rides the write the
                # merge does anyway (executor-side above the file threshold)
                stats_cols=(INTERNAL_LAST_LSN,) if self.collect_part_stats else (),
                bloom_cols=((self.key_col,) if self.key_blooms else ()) + self.bloom_cols,
                aligned=aligned,
            )
            if self.apply_mode == "mor":
                for e in files:
                    e["delta"] = True  # observability: delta vs base files
            if self.collect_part_stats:
                part_rows = [
                    {
                        "partition_id": i,
                        "source_offset_min": (e.get("stats", {}).get(INTERNAL_LAST_LSN) or [None, None])[0],
                        "source_offset_max": (e.get("stats", {}).get(INTERNAL_LAST_LSN) or [None, None])[1],
                        "event_count": e["rows"],
                    }
                    for i, e in enumerate(files)
                ]
            cls = obs_cls.get
            n_of = lambda a, d=0: int(cls.get(a) or 0)  # noqa: E731
            # exact duplicates (same lsn redelivered) vs superseded-in-batch
            # (lower lsn for the same key, lost last-writer-wins)
            dropped_dup = (events_in - total_dst) + n_of("dup")
            dropped_stale = (total_dst - net_count) + n_of("stale")
            _mark("write")
        finally:
            net.unpersist()
            for h in dedup_cleanup:
                h.unpersist()

        props = {"last_epoch_id": str(epoch_id), "epoch_id": str(epoch_id)}
        if self.apply_mode == "mor":
            # stamp the snapshot so ANY reader (not just this pipeline
            # object) knows the table may hold unresolved deltas
            props["mor"] = "1"
        try:
            if self.apply_mode == "mor":
                # append-only: base and earlier delta files stay by
                # reference — commit work ∝ changed buckets' NEW shards only
                new_snap = self.table.commit(
                    "mor-append",
                    files,
                    new_schema=new_schema if evolved else None,
                    properties=props,
                    expected_parent=snap.snapshot_id,
                )
            else:
                new_snap = self.table.commit(
                    "merge",
                    files,
                    replace_partitions=[{BUCKET_PARTITION: b} for b in affected] if spec else None,
                    replace_all=not spec,
                    new_schema=new_schema if evolved else None,
                    properties=props,
                    expected_parent=snap.snapshot_id,
                )
        except CommitConflict:
            # someone else moved the table; if they committed our epoch the
            # replay rule applies, otherwise surface the conflict
            if epoch_id <= self.last_epoch_id():
                return ApplyResult(epoch_id, self.table.current_snapshot().snapshot_id, 0, 0, 0, 0, 0, 0, 0, skipped=True)
            raise

        _mark("commit")
        wall = int((time.monotonic() - t0) * 1000)
        res = ApplyResult(
            epoch_id=epoch_id,
            snapshot_id=new_snap.snapshot_id,
            event_count=events_in,
            applied_inserts=n_of("insert", 0),
            applied_updates=n_of("update", 0),
            applied_deletes=n_of("delete", 0),
            dropped_duplicates=dropped_dup,
            dropped_stale=dropped_stale,
            wall_ms=wall,
            evolved_schema=evolved,
            phase_ms=phases,
            dedup_variant_used=variant_report.get("variant"),
        )
        self._net_estimate = net_count
        self._write_sidecars(res, part_rows, summary_rows)
        return res

    # ------------------------------------------------------------- sidecars
    def _write_sidecars(self, res: ApplyResult, part_rows, summary_rows) -> None:
        """``part_rows``: per-partition lineage detail — the source-offset
        summary by default, or (``collect_part_stats``) one row per written
        data file with its footer-derived lsn coverage.  ``summary_rows``:
        always the observe-derived SOURCE offset range — the epoch summary
        row and the checkpoint record source offsets regardless of the
        lineage detail mode."""
        if self.lineage is not None:
            rows = [
                (
                    res.epoch_id,
                    int(r["partition_id"]),
                    r["source_offset_min"],
                    r["source_offset_max"],
                    r["event_count"],
                    None,
                    None,
                    None,
                    None,
                    None,
                    None,
                    res.snapshot_id,
                )
                for r in part_rows
            ]
            rows.append(
                (
                    res.epoch_id,
                    -1,
                    min((r["source_offset_min"] for r in summary_rows), default=None),
                    max((r["source_offset_max"] for r in summary_rows), default=None),
                    res.event_count,
                    res.applied_inserts,
                    res.applied_updates,
                    res.applied_deletes,
                    res.dropped_duplicates,
                    res.dropped_stale,
                    res.wall_ms,
                    res.snapshot_id,
                )
            )
            files = self.lineage.append_rows_local(rows, LINEAGE_SCHEMA)
            self.lineage.commit("append", files)
        if self.checkpoint is not None:
            self._write_checkpoint_row(res, summary_rows)

    def _write_checkpoint_row(self, res: ApplyResult, part_rows) -> None:
        import datetime as _dt

        row = (
            res.epoch_id,
            min((r["source_offset_min"] for r in part_rows), default=None) if part_rows else None,
            max((r["source_offset_max"] for r in part_rows), default=None) if part_rows else None,
            res.event_count,
            res.snapshot_id,
            _dt.datetime.now(_dt.timezone.utc),
        )
        files = self.checkpoint.append_rows_local([row], EPOCH_CHECKPOINT_SCHEMA)
        self.checkpoint.commit("append", files)

    def _backfill_checkpoint(self, epoch_id: int) -> None:
        """Heal a checkpoint row lost to a crash between commit and sidecar write.

        Driver-side scan of snapshot manifests; at production scale the
        epoch→snapshot mapping would be indexed, but the lookup is only hit on
        crash replay so O(snapshots) is acceptable here.
        """
        if self.checkpoint is None:
            return
        existing = (
            self.checkpoint.read(self.spark)
            .where(F.col("epoch_id") == epoch_id)
            .limit(1)
            .count()
        )
        if existing:
            return
        snap_id = None
        for sid in reversed(self.table.snapshot_ids()):
            s = self.table.snapshot(sid)
            if s.properties.get("epoch_id") == str(epoch_id):
                snap_id = sid
                break
        res = ApplyResult(epoch_id, snap_id or -1, 0, 0, 0, 0, 0, 0, 0, skipped=True)
        self._write_checkpoint_row(res, [])

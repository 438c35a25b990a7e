"""CDC apply: LSN-guarded MERGE of change-event micro-batches into the lake.

The pipeline per epoch (SURVEY.md §7.2 step 3-8) makes exactly TWO Spark
actions when the epoch has events, one when it is empty:

  events ──▶ probe: slim (key, max lsn) winners grouped by bucket    [action 1]
         │     └─▶ histogram: winner count (payload plan), touched
         │         buckets + keys per bucket (aligned n_parts),
         │         Σ distinct (key, lsn) (lineage), observed source stats
         ──▶ payload: the winning events (engine/dedup.py), hash-    [skew-proof]
             partitioned on the key into n_parts, shuffled once
         ──▶ join vs the touched buckets' resolved state, LSN guard  [late events]
         ──▶ write (action 2) + atomic snapshot commit               [exactly-once]
             (the commit's summary is the epoch's lineage record)    [observability]

One LSN guard serves both apply modes (``CdcPipeline(apply_mode=…)``): an
event wins only if its lsn beats the stored version of its key, read from
the touched buckets at the epoch's snapshot and resolved to one row per key
(``_read_resolved``).  The classify join, the action of each event, the
output rows and the lineage counts are the same in both modes; they differ
only in what they read of the prior state and in whether the commit
replaces or appends:

- ``"cow"`` (copy-on-write, the default): reads the full prior rows, joins
  full-outer and REPLACES the touched buckets each epoch.  Read path is a
  plain scan.  At a 100-TB table where a uniform-keyed 10^8-event epoch
  touches every bucket, the whole table is rewritten per epoch (carry rows
  dominate) — the reference shares this property (Delta CoW MERGE,
  etl/conf/EtlConfiguration.scala:47,52), but it is the real 100× ceiling.
- ``"mor"`` (merge-on-read): reads only key + lsn + tombstone of the prior
  state (the token payload of the existing table is never read, never
  shuffled, never rewritten), joins left, and APPENDS the winning rows — the
  epoch's net change, ≤1 row/key — as *delta files* in the touched buckets.
  Write cost ∝ epoch delta, not table size.  Readers resolve base+delta
  with the same keep-max-LSN rule (``read_state``), and
  ``lake.maintenance.compact(resolve_keep_latest=…)`` folds deltas back
  into base files out-of-band.

Exactly-once: the epoch gate (``last_epoch_id``) lives in the *data table's*
snapshot properties, so gate-update and data-commit are one atomic operation —
a foreachBatch retry of an already-committed epoch is a no-op (reference
analogue: OverWritePartition idempotent batch replay, SURVEY.md §1.4/J2).
The same commit carries the epoch's record in its snapshot ``summary``
(source LSN range, event and applied/dropped counts, wall ms — Iceberg's
snapshot summary), so an epoch is applied iff its record exists: there is no
side table to lag behind the data and no crash window between them.
``epoch_log()`` and ``resume_info()`` are views over the snapshot log.

Delete semantics: deletes write *tombstones* (``_deleted=true`` with the
delete's lsn) rather than removing the row, so a late update with a lower lsn
than the delete stays dead (SURVEY.md §7.4 hard part #1).  Compaction
(lake/maintenance.py) may drop tombstones once the lsn horizon has passed.
"""

from __future__ import annotations

import datetime as dt
import math
import time
import warnings
from dataclasses import dataclass

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

from ..lake.table import (
    LOOKUP_BY_MAX_CANDIDATES,
    CommitConflict,
    LakeTable,
    PartitionField,
    keep_latest,
    local_frame,
)
from ..schemas import INTERNAL_DELETED, INTERNAL_LAST_LSN, align_frame, merge_schemas, same_shape
from .dedup import latest_by_key_auto

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
    n_buckets: int,
    parallelism: int,
    bucket_keys: list[int],
    net_count: int,
    shuffle_partitions: int = 0,
) -> int:
    """Partition count for the bucket-aligned merge: ``k * n_buckets`` with
    every task holding exactly ONE bucket value (k files per bucket per
    epoch, folded by compaction).

    Three guards on k:
    - parallelism (ADVICE r3): k >= ceil(parallelism / n_buckets) so the
      merge uses at least cluster-parallelism tasks on few-bucket tables;
    - session shuffle partitions: Spark keeps a join child's own hash
      exchange only when it has at least ``spark.sql.shuffle.partitions``
      partitions; below that it re-shuffles both sides to the session
      count, the output is no longer bucket-grouped and every bucket gets
      one file per task.  So k >= ceil(shuffle_partitions / n_buckets);
    - **measured skew**: a bucket's rows can only land in partitions
      ≡ bucket (mod n_buckets) — exactly k of them — so a HOT bucket
      (adversarial keys concentrating in one bucket) would pin its entire
      merge+write to k tasks no matter how many cores idle.  The per-bucket
      net-key histogram comes free with the dedup probe (the epoch's first
      action groups the winners by bucket), so size k such that the
      hottest bucket's share spreads to ~1/parallelism per task:
      k >= parallelism * max_bucket_share, capped at parallelism (beyond
      that every bucket already spans all cores).  The guard only arms when
      the hottest bucket exceeds 1.5x its uniform share, so ordinary
      layouts keep the minimal k (and its file count); the CoW carry rows
      follow the same key distribution, so the net histogram is the right
      proxy for write work.
    """
    k = max(1, math.ceil(max(parallelism, shuffle_partitions) / n_buckets))
    if net_count > 0 and bucket_keys:
        share = max(bucket_keys) / net_count
        if share > 1.5 / n_buckets:
            k = max(k, min(parallelism, math.ceil(parallelism * share)))
    return n_buckets * k


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
    """One CDC target table; its snapshot log is the epoch log.

    ``lineage_path`` and ``checkpoint_path`` are accepted and ignored (with a
    ``DeprecationWarning``): each epoch's lineage and checkpoint record now
    lives in the summary of the snapshot that applied it (``epoch_log``).
    They remain only because the benchmark harness (``perfbench/workloads.py``)
    still passes them; drop them once it stops.
    """

    def __init__(
        self,
        spark: SparkSession,
        table_path: str,
        lineage_path: str | None = None,
        checkpoint_path: str | None = None,
        key_col: str = "doc_id",
        n_salts: int = 8,
        collect_part_stats: bool = False,
        apply_mode: str = "cow",
        broadcast_max_rows: int = 4_000_000,
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
        # dedup (engine/dedup.py latest_by_key_auto): every epoch's probe
        # measures its winner count — broadcast join while the winner set
        # fits ``broadcast_max_rows`` (payload never shuffles before the
        # merge's own partitioning), salted single-pass once it cannot.
        # The lineage counts come from the probe, so both plans share them
        # exactly.
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
        # The epoch's source offset range + count always ride the `observe`
        # on the dedup pass — ZERO extra scans.  True also stamps per-file
        # ``_last_lsn`` [min, max] footer stats into the manifest entries the
        # epoch writes (``table.added_files(sid, parent_id)``): per-file
        # lineage at the cost of a footer read per written file.
        self.collect_part_stats = collect_part_stats
        if lineage_path is not None or checkpoint_path is not None:
            warnings.warn(
                "CdcPipeline: lineage_path/checkpoint_path are ignored; epoch "
                "lineage lives in the data snapshots (see epoch_log())",
                DeprecationWarning,
                stacklevel=2,
            )

    # ------------------------------------------------------------------ read
    def read_state(self, snapshot_id: int | None = None) -> DataFrame:
        """Current (or time-traveled) visible state: tombstones + internals hidden.

        On a merge-on-read table the scan may hold several versions of a key
        (base + appended delta files); the visible state is the keep-max-LSN
        resolution — the same rule the CoW merge applies at write time.  The
        resolve is applied whenever the pipeline runs in mor mode OR the
        snapshot says deltas may exist (``mor`` property, stamped by every
        mor commit); it is a semantic no-op on a 1-row-per-key table, so a
        safety-resolve after compaction costs only the top-1 window
        (``_read_resolved``).
        """
        df = self._read_resolved(snapshot_id)
        df = df.where(~F.coalesce(F.col(INTERNAL_DELETED), F.lit(False)))
        return df.drop(INTERNAL_LAST_LSN, INTERNAL_DELETED)

    def lookup(self, keys, snapshot_id: int | None = None) -> DataFrame:
        """Point lookup: visible state for specific keys, opening only the
        files that can hold them.

        Layered pruning, each exact-or-conservative:
        1. bucket pruning — the sought keys' buckets are computed with the
           table spec's OWN expression, so the Python side can never
           disagree with the writer's murmur3, over a JVM-local relation of
           the keys (``local_frame``: the collect runs no Spark job); only
           those buckets' manifest shards are even opened;
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
            kdf = local_frame(
                self.spark,
                T.StructType([T.StructField(self.key_col, field.dataType)]),
                [(k,) for k in keys],
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
        lookup API (same contract as ``lookup``): pass 1 collects at most
        ``LOOKUP_BY_MAX_CANDIDATES + 1`` keys and raises past the cap;
        values that select that many keys should use
        ``read_state().where(...)`` instead.  Without blooms on ``col`` the
        result is identical, just unpruned (conservative read contract).
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
        keys = [r[0] for r in cand.limit(LOOKUP_BY_MAX_CANDIDATES + 1).collect()]
        if len(keys) > LOOKUP_BY_MAX_CANDIDATES:
            raise ValueError(
                f"lookup_by: {col!r} in {values[:5]} matches more than "
                f"{LOOKUP_BY_MAX_CANDIDATES} keys; this is a scan, not a point "
                f"lookup: use read_state().where(F.col({col!r}).isin(...))"
            )
        if not keys:
            return self.read_state(sid).limit(0)
        return self.lookup(keys, snapshot_id=sid).where(F.col(col).isin(values))

    def _read_resolved(
        self,
        snapshot_id: int | None = None,
        partition_filter: dict[str, set[str]] | None = None,
        key_filter: dict[str, list] | None = None,
        row_filter: F.Column | None = None,
        n_parts: int | None = None,
    ) -> DataFrame:
        """One row per key INCLUDING internals (lsn, tombstones) — the mor
        keep-max-LSN resolve applied when deltas may exist.  Serves the
        readers and ``apply_epoch``'s prior-state read, so the merge guards
        each event against its key's resolved version in both modes.  The resolve is
        ``lake.table.keep_latest``, a column-prunable top-1 window: a caller
        that selects a few columns scans and shuffles only those.  Unlike
        event dedup it needs no salting: a data file holds at most one row
        per key, so a key has at most 1 + (delta files) versions.  Ties
        cannot occur: a delta row is appended only when its lsn strictly
        beats the key's prior version.  Filters
        are applied BEFORE the resolve; callers must only pass filters that
        keep every version of any key they keep (key-level predicates).
        ``n_parts`` (the aligned merge's prior-state read): hash-partition on
        the key into that many partitions BEFORE the resolve, so the window
        and the merge join reuse that one exchange."""
        snap = self.table.snapshot_at(snapshot_id)
        df = self.table.read(
            self.spark,
            snapshot_id=snap.snapshot_id,
            partition_filter=partition_filter,
            key_filter=key_filter,
        )
        if row_filter is not None:
            df = df.where(row_filter)
        if n_parts:
            df = df.repartition(n_parts, self.key_col)
        if self.apply_mode == "mor" or snap.properties.get("mor") == "1":
            df = keep_latest(df, self.key_col, INTERNAL_LAST_LSN)
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
        cursor is the SNAPSHOT ID (``epoch_log`` names each epoch's;
        ``from_snapshot_id=None`` means full history).

        Snapshot ids are the only sound cursor here: a source-LSN high-water
        mark breaks under out-of-order delivery, because a late event can
        set a key's current lsn BELOW the consumer's global mark (the event
        is late globally yet still the newest for its key) — the change
        would be silently skipped.  Snapshot-diff semantics are exact for
        any commit history: a key changed iff its resolved (key, lsn) pair
        in ``to`` is absent from ``from`` (per-key lsn never repeats).

        Cost is O(changed buckets), not O(table): only partitions owning a
        file added since ``from`` (``LakeTable.added_files``) are scanned on
        BOTH sides (a key's version
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
        contribution).  Pre-image rows carry their OLD ``_last_lsn`` and
        payload, read in the ``to`` schema (columns added inside the window
        are null).  The feed is ONE left join of the ``to`` resolve to the
        ``from`` resolve, keeping keys whose lsn differs (the (key, lsn)
        anti-join rule above), so each snapshot is scanned once, only for
        the columns the consumer uses, and pruned to the changed buckets:
        cost stays O(changed buckets).
        """
        to_snap = self.table.snapshot_at(to_snapshot_id)
        fresh = self.table.added_files(to_snap.snapshot_id, since=from_snapshot_id)
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
        if not include_pre_images:
            if from_snapshot_id is not None:
                old_pairs = self._read_resolved(from_snapshot_id, partition_filter=pf).select(
                    self.key_col, INTERNAL_LAST_LSN
                )
                new_state = new_state.join(
                    old_pairs, [self.key_col, INTERNAL_LAST_LSN], "left_anti"
                )
            return new_state.withColumn("_change_type", change_type).drop(INTERNAL_DELETED)
        if from_snapshot_id is None:
            # full history: every live key is a plain insert, nothing to retract
            return (
                new_state.where(~deleted)
                .withColumn("_change_type", F.lit("insert"))
                .drop(INTERNAL_DELETED)
            )
        # ONE left join of new to old (old projected onto the new schema, so
        # an evolving epoch in the window aligns), keeping keys whose lsn
        # moved — the (key, lsn) anti-join rule.  Each kept row then fans out
        # to a post and a pre slot; the generator references no column, so
        # column pruning still reaches both scans (a union of two filtered
        # projections would get each branch's filter pushed into its own
        # join and scan both snapshots twice).
        old_state = align_frame(
            self._read_resolved(from_snapshot_id, partition_filter=pf), new_state.schema
        )
        n, o = new_state.alias("n"), old_state.alias("o")
        key, lsn = self.key_col, INTERNAL_LAST_LSN
        joined = n.join(o, F.col(f"n.{key}") == F.col(f"o.{key}"), "left").where(
            ~F.col(f"n.{lsn}").eqNullSafe(F.col(f"o.{lsn}"))
        )
        new_live = ~F.coalesce(F.col(f"n.{INTERNAL_DELETED}"), F.lit(False))
        old_live = F.col(f"o.{key}").isNotNull() & ~F.coalesce(
            F.col(f"o.{INTERNAL_DELETED}"), F.lit(False)
        )
        post = F.col("__post")
        ct = F.when(post, F.when(old_live, "update_postimage").otherwise("insert")).otherwise(
            F.when(new_live, "update_preimage").otherwise("delete")
        )
        cols = [c for c in new_state.columns if c != INTERNAL_DELETED]
        return (
            joined.select("*", F.explode(F.array(F.lit(True), F.lit(False))).alias("__post"))
            .where((post & new_live) | (~post & old_live))
            .select(
                *[F.when(post, F.col(f"n.{c}")).otherwise(F.col(f"o.{c}")).alias(c) for c in cols],
                ct.alias("_change_type"),
            )
        )

    def last_epoch_id(self) -> int:
        return int(self.table.properties().get("last_epoch_id", -1))

    def epoch_log(self) -> list[dict]:
        """One record per retained snapshot that applied an epoch, in
        snapshot order: the commit's summary (``epoch_id``, source LSN
        range, event/applied/dropped counts, ``wall_ms``) plus the
        snapshot's ``snapshot_id`` and ``committed_at`` (UTC).  Maintenance
        commits carry no epoch and are skipped.

        Like Iceberg's snapshot log this covers RETAINED snapshots only:
        ``expire_snapshots`` drops the records of the epochs it expires.
        The resume point does not depend on them (``resume_info``).
        """
        out = []
        for sid in self.table.snapshot_ids():
            snap = self.table.snapshot(sid)
            if "epoch_id" in snap.summary:
                committed = dt.datetime.fromtimestamp(snap.timestamp_ms / 1000, dt.timezone.utc)
                out.append({**snap.summary, "snapshot_id": sid, "committed_at": committed})
        return out

    def resume_info(self) -> dict:
        """Where to resume a batch-mode replay: the last committed epoch and
        the applied source-offset high-water mark (both inherited snapshot
        properties, so exact even after snapshot expiry) plus the per-epoch
        history of the retained snapshots (``epoch_log``).  A driver
        restarting a manual replay applies epochs > ``last_epoch_id`` /
        offsets > ``max_lsn``; the epoch gate makes over-delivery harmless.
        """
        props = self.table.properties()
        max_lsn = props.get("source_max_lsn")
        return {
            "last_epoch_id": int(props.get("last_epoch_id", -1)),
            "max_lsn": None if max_lsn is None else int(max_lsn),
            "epochs": [
                {
                    "epoch_id": e["epoch_id"],
                    "min_lsn": e["source_min_lsn"],
                    "max_lsn": e["source_max_lsn"],
                    "events": e["event_count"],
                    "snapshot_id": e["snapshot_id"],
                }
                for e in self.epoch_log()
            ],
        }

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
            # replay of an already-committed epoch → exactly-once no-op:
            # no Spark job, no commit
            return ApplyResult(epoch_id, snap.snapshot_id, 0, 0, 0, 0, 0, 0, 0, skipped=True)
        spec = snap.partition_spec
        if spec and (len(spec), spec[0].name, spec[0].source_col) != (1, BUCKET_PARTITION, self.key_col):
            # the merge reads and replaces the buckets its keys hash to; under
            # any other spec it would miss the stored versions of its keys
            raise ValueError(
                f"apply_epoch: the table must be unpartitioned or partitioned by "
                f"one {BUCKET_PARTITION!r} field on the key {self.key_col!r}, "
                f"not {[p.to_json() for p in spec]}"
            )
        mor = self.apply_mode == "mor"

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
        # bucket the key as the table stores it: murmur3 of int 7 and of
        # bigint 7 differ, so a narrower event key would probe other buckets
        events = events.withColumn(
            self.key_col, F.col(self.key_col).cast(merged_payload[self.key_col].dataType)
        )

        # ---- lineage: global offsets/count always come FREE from an
        # `observe` on the events scan inside the dedup probe; per-file lsn
        # coverage (`collect_part_stats`) comes from the parquet footers of
        # the files the merge writes anyway — NO extra scan of the event
        # batch in either mode.  Both land in the epoch's own commit.
        obs_ev = Observation(f"events-{epoch_id}")
        events_observed = events.observe(
            obs_ev,
            F.min("lsn").alias("min_lsn"),
            F.max("lsn").alias("max_lsn"),
            F.count(F.lit(1)).alias("n"),
        )

        # ---- the dedup probe (action 1): the keep-max-LSN winners per key,
        # grouped by bucket — the winner count picks the payload plan, the
        # histogram names the touched buckets and sizes the aligned merge,
        # and Σ distinct (key, lsn) feeds the lineage arithmetic
        probe = latest_by_key_auto(
            events,
            self.key_col,
            "lsn",
            bucket_expr=spec[0].expr() if spec else None,
            n_salts=self.n_salts,
            stats_df=events_observed,
            broadcast_max_rows=self.broadcast_max_rows,
        )
        try:
            _mark("dedup")
            affected = list(probe.buckets)
            net_count = probe.n_winners
            total_dst = probe.n_pairs
            # global source stats observed for free during the probe.
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
            # the epoch's record, committed as the snapshot summary
            record = {
                "epoch_id": epoch_id,
                "source_min_lsn": ev_stats["min_lsn"],
                "source_max_lsn": ev_stats["max_lsn"],
                "event_count": events_in,
            }
            # inherited: the gate plus the applied-offset high-water mark
            props = {"last_epoch_id": str(epoch_id)}
            prev_max = snap.properties.get("source_max_lsn")
            if ev_stats["max_lsn"] is not None:
                hw = ev_stats["max_lsn"] if prev_max is None else max(int(prev_max), ev_stats["max_lsn"])
                props["source_max_lsn"] = str(hw)

            if not affected:
                # empty epoch: advance the gate with a data-less commit
                record.update(
                    applied_inserts=0, applied_updates=0, applied_deletes=0,
                    dropped_duplicates=0, dropped_stale=0,
                    wall_ms=int((time.monotonic() - t0) * 1000),
                )
                new_snap = self.table.commit(
                    "merge", [], properties=props, expected_parent=snap.snapshot_id,
                    summary=record,
                )
                return self._result(record, new_snap.snapshot_id, t0, phases, probe.variant)

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
            # k·n_buckets partitions (``_aligned_partition_count``): every
            # task still holds exactly ONE bucket value (k files per bucket
            # per epoch, folded by compaction) while the merge join uses at
            # least cluster-parallelism tasks and keeps its own exchange.
            aligned = bool(spec) and spec[0].transform == "bucket_m3"
            n_parts = None
            if aligned:
                n_parts = _aligned_partition_count(
                    spec[0].n,
                    self.spark.sparkContext.defaultParallelism,
                    list(probe.buckets.values()),
                    net_count,
                    int(self.spark.conf.get("spark.sql.shuffle.partitions")),
                )
            # ---- the payload pass, built now that n_parts is known: already
            # hash-partitioned on the key into n_parts, so the merge join
            # reuses its exchange.  Nested-aware alignment (missing nested
            # fields → typed nulls) lets an epoch add a field INSIDE an
            # array<struct> column mid-stream.
            net = align_frame(
                probe.payload(n_parts),
                T.StructType(
                    merged_payload.fields
                    + [T.StructField("lsn", T.LongType()), T.StructField("op", T.StringType())]
                ),
            )

            obs_cls = Observation(f"cls-{epoch_id}")
            counters = [
                F.sum(F.when(F.col("_action") == a, 1).otherwise(0)).alias(a)
                for a in ("insert", "update", "delete", "dup", "stale")
            ]

            # ---- the LSN guard: an event wins only if its lsn beats the
            # stored version of its key.  The prior state of the touched
            # buckets is read at the epoch's snapshot, resolved to one row
            # per key when deltas may exist.  cow reads it whole and joins
            # full-outer, so the output is the touched buckets' new content
            # (carry rows included).  mor reads only key, lsn and tombstone
            # (the payload columns are typed null literals, so column
            # pruning keeps the stored payload out of the scan and the
            # shuffle), joins left and keeps only the winning rows.
            # Classification stats are `observe`d on the SAME plan, so the
            # write is the only action — no separate stats job.
            target = align_frame(
                self._read_resolved(snap.snapshot_id, partition_filter=pfilter, n_parts=n_parts),
                new_schema,
            )
            if mor:
                target = target.select(
                    self.key_col,
                    *[F.lit(None).cast(merged_payload[c].dataType).alias(c) for c in payload_cols],
                    INTERNAL_LAST_LSN,
                    INTERNAL_DELETED,
                )
            s, t = net.alias("s"), target.alias("t")
            joined = s.join(
                t,
                F.col(f"s.{self.key_col}") == F.col(f"t.{self.key_col}"),
                "left" if mor else "full_outer",
            )
            s_lsn = F.col("s.lsn")
            t_lsn = F.col(f"t.{INTERNAL_LAST_LSN}")
            t_deleted = F.coalesce(F.col(f"t.{INTERNAL_DELETED}"), F.lit(False))
            is_delete = F.col("s.op") == "D"
            t_absent = F.col(f"t.{self.key_col}").isNull() | t_deleted
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
            out_cols.append(F.when(event_wins, s_lsn).otherwise(t_lsn).alias(INTERNAL_LAST_LSN))
            out_cols.append(
                F.when(event_wins, is_delete).otherwise(t_deleted).alias(INTERNAL_DELETED)
            )
            merged = joined.select(*out_cols, action.alias("_action")).observe(obs_cls, *counters)
            if mor:
                merged = merged.where(F.col("_action").isin("insert", "update", "delete"))

            files = self.table.write_data_files(
                merged.drop("_action"),
                spec,
                # per-file lsn coverage from footers — rides the write the
                # merge does anyway (executor-side above the file threshold)
                stats_cols=(INTERNAL_LAST_LSN,) if self.collect_part_stats else (),
                bloom_cols=((self.key_col,) if self.key_blooms else ()) + self.bloom_cols,
                aligned=aligned,
            )
            if mor:
                for e in files:
                    e["delta"] = True  # observability: delta vs base files
            cls = obs_cls.get
            n_of = lambda a: int(cls.get(a) or 0)  # noqa: E731
            record.update(
                applied_inserts=n_of("insert"),
                applied_updates=n_of("update"),
                applied_deletes=n_of("delete"),
                # exact duplicates (same lsn redelivered) vs superseded-in-
                # batch (lower lsn for the same key, lost last-writer-wins)
                dropped_duplicates=(events_in - total_dst) + n_of("dup"),
                dropped_stale=(total_dst - net_count) + n_of("stale"),
            )
            _mark("write")
        finally:
            probe.unpersist()

        record["wall_ms"] = int((time.monotonic() - t0) * 1000)
        if mor:
            # stamp the snapshot so ANY reader (not just this pipeline
            # object) knows the table may hold unresolved deltas
            props["mor"] = "1"
        try:
            # cow replaces the touched buckets (the whole table when there
            # is no spec); mor appends, keeping base and earlier delta files
            # by reference — commit work ∝ the changed buckets' new shards
            new_snap = self.table.commit(
                "mor-append" if mor else "merge",
                files,
                replace_partitions=(
                    [{BUCKET_PARTITION: b} for b in affected] if spec and not mor else None
                ),
                replace_all=not (spec or mor),
                new_schema=new_schema if evolved else None,
                properties=props,
                expected_parent=snap.snapshot_id,
                summary=record,
            )
        except CommitConflict:
            # someone else moved the table; if they committed our epoch the
            # replay rule applies, otherwise surface the conflict
            if epoch_id <= self.last_epoch_id():
                return ApplyResult(epoch_id, self.table.current_snapshot().snapshot_id, 0, 0, 0, 0, 0, 0, 0, skipped=True)
            raise

        _mark("commit")
        return self._result(
            record, new_snap.snapshot_id, t0, phases, probe.variant, evolved_schema=evolved
        )

    @staticmethod
    def _result(record: dict, snapshot_id: int, t0: float, phases: dict, variant: str, **kw) -> ApplyResult:
        """The caller's view of a committed epoch record; its ``wall_ms``
        also covers the commit."""
        counts = {k: v for k, v in record.items() if not k.startswith("source_")}
        counts["wall_ms"] = int((time.monotonic() - t0) * 1000)
        return ApplyResult(
            snapshot_id=snapshot_id, phase_ms=phases,
            dedup_variant_used=variant, **counts, **kw,
        )

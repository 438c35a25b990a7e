"""Incremental materialized-aggregate maintenance over the change feed.

A ``MaterializedAggregate`` keeps a groupBy/agg derived table in sync with a
``CdcPipeline`` source table WITHOUT recomputing it: each ``refresh()`` reads
the pre/post-image change feed since the MV's recorded source snapshot
(``CdcPipeline.read_changes(include_pre_images=True)``) and folds the delta
into the stored per-group state.  This is the standard self-maintainable-view
algebra (Gupta & Mumick, "Maintenance of Materialized Views: Problems,
Techniques, and Applications", IEEE DE Bulletin 1995):

- ``count`` / ``sum`` / ``avg`` (kept as sum+count) are fully
  self-maintainable under inserts AND retractions: the per-group delta is a
  signed aggregate of the feed (+1 for insert/update_postimage, −1 for
  update_preimage/delete) added onto the stored state.  Integer sums stay
  exact (long arithmetic); a group whose live-row count hits zero is dropped.
- ``min`` / ``max`` are self-maintainable under inserts only (``least`` /
  ``greatest`` against the stored extremum).  A retraction may shrink the
  extremum, so groups that saw any retraction are recomputed FROM SOURCE —
  but only those groups (semi-join on the source state), never the full
  table.  This is the known theoretical floor, not an implementation limit.

Scale posture (the 100-TB contract):

- The MV table is a ``LakeTable`` hash-bucketed on the group key, and a
  refresh rewrites ONLY the buckets owning changed groups
  (``commit(replace_partitions=…)``) — refresh cost ∝ changed groups, plus
  O(changed source buckets) for the feed read itself.
- Exactly-once: the source snapshot cursor (``mv_source_snapshot_id``) is a
  property of the MV table's OWN snapshot, so cursor-advance and data-commit
  are one atomic operation — a re-driven refresh of an already-folded window
  is a no-op, and a concurrent refresh loses the ``expected_parent`` CAS
  (CommitConflict) instead of double-applying.  Same gate design as the CDC
  epoch gate (apply.py).

Reference analogue: the reference recomputes its derived/"enriched" tables
from scratch per run (etl/enriched/*.scala); this module replaces that with
incremental maintenance, which is the only viable shape once the source is a
10^10-event stream.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..lake.table import LakeTable, PartitionField
from .apply import CdcPipeline

_GKEY = "_gkey"
_ROWS = "_mv_rows"
_BUCKET = "mv_bucket"

_SELF_MAINTAINABLE = {"count", "sum", "avg"}
_EXTREMA = {"min", "max"}


@dataclass(frozen=True)
class AggSpec:
    """One maintained aggregate: ``kind`` over ``source_col``.

    kind ∈ {count, sum, avg, min, max}.  ``count`` with ``source_col=None``
    counts live rows per group (COUNT(*)); otherwise non-null values.
    """

    kind: str
    source_col: str | None = None

    def __post_init__(self):
        if self.kind not in _SELF_MAINTAINABLE | _EXTREMA:
            raise ValueError(f"unsupported aggregate kind {self.kind!r}")
        if self.kind != "count" and self.source_col is None:
            raise ValueError(f"{self.kind} needs a source column")


def _sum_col(name: str) -> str:
    return f"__sum_{name}"


def _cnt_col(name: str) -> str:
    return f"__cnt_{name}"


class MaterializedAggregate:
    """A groupBy/agg table maintained incrementally from a CdcPipeline feed."""

    def __init__(
        self,
        pipeline: CdcPipeline,
        path: str,
        group_cols: list[str],
        aggs: dict[str, AggSpec],
        n_buckets: int = 16,
    ):
        reserved = {_GKEY, _ROWS, _BUCKET}
        bad = reserved & (set(aggs) | set(group_cols))
        if bad:
            raise ValueError(f"reserved column names: {sorted(bad)}")
        self.pipeline = pipeline
        self.spark: SparkSession = pipeline.spark
        self.path = path
        self.group_cols = list(group_cols)
        self.aggs = dict(aggs)
        self.n_buckets = n_buckets
        self.io = pipeline.table.io
        self.table: LakeTable | None = (
            LakeTable(path, io=self.io) if LakeTable.exists(path, io=self.io) else None
        )

    # ------------------------------------------------------------ expressions
    def _gkey_expr(self, df: DataFrame) -> F.Column:
        # null-safe canonical group key: JSON of the group struct WITH null
        # fields kept (ignoreNullFields would conflate ('a', null) and ('a',))
        return F.to_json(
            F.struct(*[F.col(c) for c in self.group_cols]),
            {"ignoreNullFields": "false"},
        )

    def _delta_aggs(self, sign: F.Column) -> list[F.Column]:
        """Signed fold of one feed window into per-group state deltas."""
        out = [F.sum(sign).cast("long").alias(_ROWS)]
        for name, spec in self.aggs.items():
            c = F.col(spec.source_col) if spec.source_col else None
            if spec.kind == "count":
                contrib = sign if c is None else F.when(c.isNotNull(), sign).otherwise(F.lit(0))
                out.append(F.sum(contrib).cast("long").alias(name))
            elif spec.kind in ("sum", "avg"):
                out.append(F.sum(sign * c).alias(_sum_col(name)))
                out.append(
                    F.sum(F.when(c.isNotNull(), sign).otherwise(F.lit(0)))
                    .cast("long")
                    .alias(_cnt_col(name))
                )
            elif spec.kind == "min":
                out.append(F.min(F.when(sign > 0, c)).alias(name))
            elif spec.kind == "max":
                out.append(F.max(F.when(sign > 0, c)).alias(name))
        # any retraction in the group forces extrema recompute for the group
        out.append(F.max(F.when(sign < 0, F.lit(1)).otherwise(F.lit(0))).alias("__retracted"))
        return out

    def _state_schema_frame(self) -> DataFrame:
        """Empty frame with the MV's stored-state schema (used at create)."""
        src = self.pipeline.read_state().limit(0)
        delta = src.withColumn("__sign", F.lit(1)).groupBy(
            self._gkey_expr(src).alias(_GKEY), *self.group_cols
        ).agg(*self._delta_aggs(F.col("__sign")))
        return delta.drop("__retracted")

    # ---------------------------------------------------------------- refresh
    def refresh(self) -> dict:
        """Fold the feed since the stored cursor; returns a summary dict."""
        src_snap = self.pipeline.table.current_snapshot().snapshot_id
        if self.table is None:
            spec = [PartitionField(_BUCKET, _GKEY, "bucket_m3", self.n_buckets)]
            self.table = LakeTable.create(
                self.path,
                self._state_schema_frame().schema,
                spec,
                properties={"mv_source_snapshot_id": "0"},
                io=self.io,
            )
        cursor = int(self.table.properties().get("mv_source_snapshot_id", "0"))
        if cursor >= src_snap:
            return {"refreshed": False, "from": cursor, "to": src_snap, "groups": 0}
        mv_parent = self.table.current_snapshot().snapshot_id

        feed = self.pipeline.read_changes(
            from_snapshot_id=cursor or None,
            to_snapshot_id=src_snap,
            include_pre_images=True,
        )
        sign = F.when(
            F.col("_change_type").isin("insert", "update_postimage"), F.lit(1)
        ).otherwise(F.lit(-1))
        delta = (
            feed.withColumn("__sign", sign)
            .groupBy(self._gkey_expr(feed).alias(_GKEY), *self.group_cols)
            .agg(*self._delta_aggs(F.col("__sign")))
        )
        # the group-key domain is bounded (it is an aggregate's output), so a
        # localCheckpoint of the slim delta is cheap and avoids re-running the
        # feed scan for the bucket probe + merge + recompute branches
        delta = delta.localCheckpoint(eager=True)
        if delta.isEmpty():
            self.table.commit(
                "mv_refresh", [], properties={"mv_source_snapshot_id": str(src_snap)},
                expected_parent=mv_parent,
            )
            return {"refreshed": True, "from": cursor, "to": src_snap, "groups": 0}

        bucket_expr = F.pmod(F.hash(F.col(_GKEY)), F.lit(self.n_buckets)).cast("int")
        touched = sorted(
            r[0] for r in delta.select(bucket_expr.alias("b")).distinct().collect()
        )
        pf = {_BUCKET: {str(b) for b in touched}}
        old = self.table.read(self.spark, partition_filter=pf)

        merged = self._merge(old, delta)
        merged = self._recompute_extrema(merged, delta, as_of=src_snap)

        files = self.table.write_data_files(
            merged.drop("__retracted"),
            schema_id=self.table.current_snapshot().schema_id,
            spec=self.table.partition_spec,
        )
        self.table.commit(
            "mv_refresh",
            files,
            replace_partitions=[{_BUCKET: str(b)} for b in touched],
            properties={"mv_source_snapshot_id": str(src_snap)},
            expected_parent=mv_parent,
        )
        n_groups = delta.count()
        return {
            "refreshed": True,
            "from": cursor,
            "to": src_snap,
            "groups": n_groups,
            "buckets": touched,
        }

    def _merge(self, old: DataFrame, delta: DataFrame) -> DataFrame:
        o, d = old.alias("o"), delta.alias("d")
        j = o.join(d, F.col(f"o.{_GKEY}") == F.col(f"d.{_GKEY}"), "full_outer")

        def two(col: str) -> tuple[F.Column, F.Column]:
            return F.col(f"o.{col}"), F.col(f"d.{col}")

        def added(col: str) -> F.Column:
            oc, dc = two(col)
            return (F.coalesce(oc, F.lit(0)) + F.coalesce(dc, F.lit(0))).alias(col)

        cols = [F.coalesce(*two(_GKEY)).alias(_GKEY)]
        cols += [F.coalesce(*two(c)).alias(c) for c in self.group_cols]
        cols.append(added(_ROWS))
        for name, spec in self.aggs.items():
            if spec.kind == "count":
                cols.append(added(name))
            elif spec.kind in ("sum", "avg"):
                cols.append(added(_sum_col(name)))
                cols.append(added(_cnt_col(name)))
            elif spec.kind == "min":
                cols.append(F.least(*two(name)).alias(name))
            else:  # max
                cols.append(F.greatest(*two(name)).alias(name))
        # a group absent from the delta saw no retraction this window
        cols.append(F.coalesce(F.col("d.__retracted"), F.lit(0)).alias("__retracted"))
        return j.select(*cols).where(F.col(_ROWS) > 0)

    def _recompute_extrema(
        self, merged: DataFrame, delta: DataFrame, as_of: int | None = None
    ) -> DataFrame:
        """Re-derive min/max from source for groups that saw a retraction —
        only those groups (semi-join), and only when extrema are maintained.

        ``as_of`` pins the source read to the snapshot the fold window ends
        at: under concurrent ingest the source may already have advanced past
        ``src_snap``, and an unpinned read would fold post-window values into
        state whose cursor claims otherwise.
        """
        extrema = {n: s for n, s in self.aggs.items() if s.kind in _EXTREMA}
        if not extrema:
            return merged
        hit = delta.where(F.col("__retracted") == 1).select(_GKEY)
        src = self.pipeline.read_state(snapshot_id=as_of)
        src = src.withColumn(_GKEY, self._gkey_expr(src)).join(hit, _GKEY, "left_semi")
        fresh = src.groupBy(_GKEY).agg(
            *[
                (F.min if s.kind == "min" else F.max)(F.col(s.source_col)).alias(f"__rc_{n}")
                for n, s in extrema.items()
            ]
        )
        out = merged.join(fresh, _GKEY, "left")
        for n in extrema:
            out = out.withColumn(
                n,
                F.when(F.col("__retracted") == 1, F.col(f"__rc_{n}")).otherwise(F.col(n)),
            ).drop(f"__rc_{n}")
        return out

    # ------------------------------------------------------------------- read
    def read(self) -> DataFrame:
        """The finalized view: group cols + one column per aggregate."""
        if self.table is None:
            raise ValueError("refresh() has not created the view yet")
        df = self.table.read(self.spark)
        cols = [F.col(c) for c in self.group_cols]
        for name, spec in self.aggs.items():
            if spec.kind == "avg":
                cnt = F.col(_cnt_col(name))
                cols.append(
                    F.when(cnt > 0, F.col(_sum_col(name)) / cnt).alias(name)
                )
            elif spec.kind == "sum":
                # SQL SUM over an empty/non-null-free group is NULL, not 0
                cnt = F.col(_cnt_col(name))
                cols.append(F.when(cnt > 0, F.col(_sum_col(name))).alias(name))
            else:
                cols.append(F.col(name))
        return df.select(*cols)

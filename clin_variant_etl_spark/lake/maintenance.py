"""Table maintenance: compaction + snapshot expiry.

Reference analogue: Delta ``compact`` (to ~100 files per chromosome) and
``vacuum`` (keep 2 versions) in the publish step
(etl/normalized/Consequences.scala:135-138; etl/script/schema/SchemaUtils.scala:46-89).
"""

from __future__ import annotations

import os
import warnings

from pyspark.sql import SparkSession

from .table import LakeTable, Snapshot, keep_latest


def compact(
    spark: SparkSession,
    table: LakeTable,
    drop_tombstones: bool = False,
    deleted_col: str = "_deleted",
    lsn_col: str = "_last_lsn",
    lsn_horizon: int | None = None,
    target_file_bytes: int | None = None,
    min_input_files: int = 2,
    partitions: list[str] | None = None,
    at_snapshot_id: int | None = None,
    resolve_keep_latest: tuple[str, str] | None = None,
    cluster_by: list[str] | None = None,
) -> Snapshot:
    """Small-files compaction with bin-packing and per-partition selection.

    ``cluster_by`` (one or two columns; requires ``target_file_bytes``):
    instead of spreading a partition's rows across its k output files by
    content hash, split them on a z-order code so each file covers a narrow
    span of every clustered column and its manifest min/max (recorded via
    ``stats_cols``) actually prunes — ``read(stats_filter=…)`` then opens
    O(selectivity) files instead of all of them.  A hash split gives every
    file the full value range; clustering is what makes stats skipping
    effective on a compacted table (Iceberg's sort-order rewrite, Delta's
    OPTIMIZE ZORDER).  ONE split serves one and two columns: each column
    is rank-coded on a per-partition 64-cell quantile grid, the codes are
    bit-interleaved (one column: the code itself), and ``split = z*k >>
    6n`` — see the inline block.

    Selection (reference compacts per chromosome, not whole tables —
    etl/normalized/Consequences.scala:135-138): only partitions with
    >= ``min_input_files`` data files (or those named in ``partitions``)
    are rewritten; everything else keeps its manifest shard by reference.
    ``target_file_bytes`` packs each rewritten partition into
    ceil(bytes/target) output files instead of exactly one.

    ``drop_tombstones`` physically removes delete markers.  A tombstone at
    lsn L guards against late updates with lsn < L (SURVEY.md §7.4 hard part
    #1): removing it early would let such a late event resurrect the row.
    ``lsn_horizon`` is the caller's promise that no event with
    lsn < horizon can still arrive (e.g. the source's retention low-water
    mark): only tombstones BELOW the horizon are dropped; newer tombstones
    are kept so the LSN guard stays intact.  ``lsn_horizon=None`` with
    ``drop_tombstones=True`` drops them all (caller asserts the stream is
    fully drained forever).  Tombstone dropping changes row content, so it
    forces a FULL rewrite (every partition may hold tombstones).

    ``resolve_keep_latest=(key_col, lsn_col)`` folds MERGE-ON-READ delta
    files into base: before rewriting, rows are resolved to the max-lsn
    version per key (the same rule ``CdcPipeline.read_state`` applies) so
    each rewritten partition holds ≤1 row per key again.  Valid per
    partition because a hash-bucketed key lives in exactly one bucket;
    REQUIRED when compacting a table written with
    ``CdcPipeline(apply_mode="mor")`` — compacting such a table without it
    would materialize superseded versions side-by-side as base rows (they
    would still resolve correctly at read, but the fold is the point).

    Concurrency: the whole rewrite is pinned to ONE snapshot — partition
    selection, the data read, and the commit's ``expected_parent`` all use
    the same ``snap``, so a writer that commits between the read and the
    compaction commit raises ``CommitConflict`` instead of having its files
    silently clobbered by ``replace_partitions`` (the caller retries on the
    new snapshot).  ``at_snapshot_id`` makes the pin explicit/testable;
    default is the current snapshot at entry.
    """
    from pyspark.sql import functions as F

    snap = (
        table.snapshot(at_snapshot_id)
        if at_snapshot_id is not None
        else table.current_snapshot()
    )
    spec = snap.partition_spec
    selective = not drop_tombstones and len(spec) == 1

    pfilter = None
    replace = None
    by_part: dict[str, list[dict]] = {}
    if selective:
        for f in snap.files:
            by_part.setdefault(f["partition"][spec[0].name], []).append(f)
        if partitions is not None:
            selected = [p for p in partitions if p in by_part]
        else:
            selected = [p for p, fs in by_part.items() if len(fs) >= min_input_files]
        if not selected:
            return snap
        pfilter = {spec[0].name: set(selected)}
        replace = [{spec[0].name: p} for p in selected]

    df = table.read(spark, snapshot_id=snap.snapshot_id, partition_filter=pfilter)
    if resolve_keep_latest is not None:
        # keep-max-lsn per key (mor delta fold), the rule the table reads
        # apply; resolve BEFORE tombstone filtering so a tombstone only
        # survives if it is the key's latest version
        df = keep_latest(df, *resolve_keep_latest)
    if drop_tombstones and deleted_col in df.columns:
        dead = F.coalesce(df[deleted_col], F.lit(False))
        if lsn_horizon is not None and lsn_col in df.columns:
            df = df.where(~(dead & (df[lsn_col] < lsn_horizon)))
        else:
            df = df.where(~dead)

    if cluster_by is not None and not target_file_bytes:
        raise ValueError("cluster_by requires target_file_bytes (it shapes the file split)")

    split = None
    if target_file_bytes:
        # per-partition output-file count from current on-disk bytes; the
        # split value spreads rows across k files by a CONTENT-derived hash:
        # monotonically_increasing_id would be recomputed differently on task
        # retry / speculative execution (rows duplicated or lost in the
        # rewrite — the nondeterministic-shuffle-key hazard), while a hash of
        # the row's columns is stable under any re-execution.
        def _bytes(fs: list[dict]) -> int:
            return sum(
                table.io.size(os.path.join(table.path, f["path"]))
                for f in fs
                if table.io.exists(os.path.join(table.path, f["path"]))
            )

        row_hash = F.hash(*[F.col(c) for c in df.columns])
        if selective:
            k_of = {
                p: max(1, -(-_bytes(by_part[p]) // target_file_bytes)) for p in pfilter[spec[0].name]
            }
            pexpr = spec[0].expr()
            kmap = F.create_map(
                *[x for p, k in sorted(k_of.items()) for x in (F.lit(p), F.lit(k))]
            )
            k_expr = kmap[pexpr]
        else:
            total = _bytes(snap.files)
            k_expr = F.lit(max(1, -(-total // target_file_bytes)))
            pexpr = F.lit(0)
        if cluster_by is not None:
            if len(cluster_by) not in (1, 2):
                raise ValueError("cluster_by supports one column (range) or two (z-order)")
            # ---- one split for both (Iceberg/Delta OPTIMIZE ZORDER; the
            # reference's canonical layout is 2-D (chromosome, start),
            # enriched/Variants.scala:124).  Each column is rank-coded onto
            # a 64-cell per-partition quantile grid (equal row mass per
            # cell by construction) and the 6-bit codes are bit-interleaved
            # into a z-value (one column: the code itself).  Because the
            # codes are quantile RANKS, z is ~uniform over [0, 64^n), so
            # files take contiguous z-ranges with split = z*k >> 6n: with
            # one column each file covers a narrow value span, with two a
            # small RECTANGLE, and min/max stats (stats_cols below) prune
            # on every clustered column.  The grids are collected ONCE (one
            # agg over all columns) and inlined as literals: the split is a
            # map-side count with no per-partition sort task (a window/ntile
            # would funnel each partition through one task), and retries
            # can never recompute a different layout mid-job.
            n, ZBITS, ZGRID = len(cluster_by), 6, 64
            zprobs = [i / ZGRID for i in range(1, ZGRID)]
            key = pexpr.cast("string") if selective else F.lit("0")
            grows = {
                r["_p"]: [r[f"_g{i}"] for i in range(n)]
                for r in df.groupBy(key.alias("_p"))
                .agg(
                    *[
                        F.percentile_approx(F.col(c), zprobs, 10_000).alias(f"_g{i}")
                        for i, c in enumerate(cluster_by)
                    ]
                )
                .collect()
            }
            z = F.lit(0)
            for i, c in enumerate(cluster_by):
                dtype = df.schema[c].dataType.simpleString()
                bmap = F.create_map(
                    *[
                        x
                        for p, grids in sorted(grows.items())
                        for x in (
                            F.lit(p),
                            F.array(*[F.lit(v) for v in grids[i]])
                            if grids[i]
                            else F.array().cast(f"array<{dtype}>"),
                        )
                    ]
                )
                # rank code 0..63; a null column value or a partition
                # missing from the map codes to 0 — deterministic
                code = F.coalesce(
                    F.size(F.filter(F.element_at(bmap, key), lambda b: F.col(c) > b)),
                    F.lit(0),
                )
                for bit in range(ZBITS):
                    z = z + F.shiftleft(
                        F.shiftright(code, bit).bitwiseAND(F.lit(1)), n * bit + n - 1 - i
                    )
            split = F.shiftright(z * k_expr, n * ZBITS)
        else:
            split = F.pmod(row_hash, k_expr)

    stats_cols = tuple(cluster_by) if cluster_by else ()
    # preserve point-lookup pruning across the rewrite: if the inputs carry
    # manifest blooms (the table opted in via bloom_cols at write time),
    # re-bloom the same columns on the compacted outputs — otherwise a fold
    # would silently erase lookup()'s file skipping (conservative = correct,
    # but O(bucket files) probes again until the next bloomed commit)
    rewritten_inputs = (
        [f for p in pfilter[spec[0].name] for f in by_part[p]]
        if selective
        else snap.files
    )
    bloom_cols = tuple(
        sorted({c for e in rewritten_inputs for c in (e.get("blooms") or {})})
    )
    files = table.write_data_files(
        df, spec, split_expr=split, stats_cols=stats_cols, bloom_cols=bloom_cols
    )
    if selective:
        return table.commit(
            "compact", files, replace_partitions=replace, expected_parent=snap.snapshot_id
        )
    return table.commit(
        "compact", files, replace_all=True, expected_parent=snap.snapshot_id
    )


def fold_candidates(
    snap: Snapshot,
    max_delta_ratio: float = 0.25,
    min_delta_files: int = 2,
    max_delta_files: int = 16,
) -> list[str]:
    """Pure policy: which partitions of a merge-on-read table are worth
    folding, from the MANIFEST alone (zero data reads, zero Spark jobs).

    A mor read must open every delta file of a bucket and merge its rows on
    top of base, so an untended table's reads degrade with the delta file
    count (VERDICT r4 "What's missing #2").  Per bucket, with d delta files
    and b base files, fold when:

    - ``d >= min_delta_files`` AND ``d / max(b, 1) >= max_delta_ratio`` —
      the fold rewrites the whole bucket (cost ∝ b + d), so it must buy a
      proportionally meaningful read saving; OR
    - ``d >= max_delta_files`` — an absolute ceiling: every read pays d
      file opens regardless of how large base is.

    Returns the partition values (bucket ids as manifest strings) to pass
    to ``compact(partitions=…)``.  Buckets with d = 0 are never selected,
    so a fully-folded table is a permanent no-op — safe to call every
    micro-batch.

    The policy reads one partition column (the key bucket of a mor table):
    an unpartitioned table returns ``[]``, and a multi-column spec warns,
    naming the spec, and returns ``[]`` (nothing is folded).
    """
    spec = snap.partition_spec
    if len(spec) > 1:
        warnings.warn(
            f"fold_candidates: multi-column partition spec "
            f"{[p.to_json() for p in spec]} is not supported; nothing is folded",
            stacklevel=2,
        )
    if len(spec) != 1:
        return []
    by_part: dict[str, list[int]] = {}
    for f in snap.files:
        counts = by_part.setdefault(f["partition"][spec[0].name], [0, 0])
        counts[0 if f.get("delta") else 1] += 1
    return sorted(
        p
        for p, (d, b) in by_part.items()
        if d >= max_delta_files
        or (d >= min_delta_files and d / max(b, 1) >= max_delta_ratio)
    )


def auto_fold(
    spark: SparkSession,
    table: LakeTable,
    resolve_keep_latest: tuple[str, str],
    max_delta_ratio: float = 0.25,
    min_delta_files: int = 2,
    max_delta_files: int = 16,
    target_file_bytes: int | None = None,
) -> Snapshot | None:
    """Fold mor delta files back into base for every bucket the
    ``fold_candidates`` policy selects; None when nothing qualifies.

    This is the untended-table guard: wired after each micro-batch (the
    ``StreamingCdc`` ``after_batch`` hook / ``run.py`` drain+tail), reads
    stay flat as the table grows without any manual ``--mode maintain``
    pass.  The policy check is manifest-only, so the steady-state cost of
    calling it every batch is a dict scan; the fold itself is the selective
    ``compact`` (only the chosen buckets rewrite, pinned to one snapshot,
    ``CommitConflict`` on a racing writer — the tail loop is the only
    writer, so in-loop use never conflicts).  Idempotent: a fold clears the
    buckets' delta tags, so re-running after a crash-between-commit-and-
    checkpoint re-selects nothing.
    """
    snap = table.current_snapshot()
    selected = fold_candidates(
        snap,
        max_delta_ratio=max_delta_ratio,
        min_delta_files=min_delta_files,
        max_delta_files=max_delta_files,
    )
    if not selected:
        return None
    return compact(
        spark,
        table,
        partitions=selected,
        resolve_keep_latest=resolve_keep_latest,
        at_snapshot_id=snap.snapshot_id,
        target_file_bytes=target_file_bytes,
    )


def remove_orphan_files(
    table: LakeTable,
    grace_seconds: float = 3 * 24 * 3600,
    now: float | None = None,
    dry_run: bool = False,
) -> list[str]:
    """Delete files under the table that no live snapshot references.

    ``expire_snapshots`` GCs files that *expired* snapshots referenced; it
    cannot see files that were never committed at all — a writer that
    crashed between ``write_data_files`` and ``commit`` leaves a full
    ``data/b-*/`` batch (and possibly manifest shards, or ``.tmp-*`` spill
    from an interrupted metadata put) invisible to every snapshot but
    still billing storage forever.  This is Iceberg's
    ``remove_orphan_files`` / Delta ``VACUUM``'s untracked-file sweep.

    Safety model (identical to Iceberg's): a file is deleted only if it is
    (a) unreferenced by EVERY live snapshot (all of them — time travel to
    any retained snapshot must keep working), AND (b) older than
    ``now - grace_seconds`` by the FileIO's modification clock.  The grace
    period is what makes the sweep safe against IN-FLIGHT writers: a
    not-yet-committed batch is always unreferenced, but it is also always
    younger than any sane grace window.  ``grace_seconds`` MUST exceed the
    longest possible write→commit duration; the 3-day default mirrors
    Iceberg's.  Tests pass ``now`` explicitly (or ``grace_seconds=0``)
    instead of sleeping.

    Only the data and manifest planes are swept.  Snapshot json files and
    refs are reachability ROOTS, never candidates (expire_snapshots owns
    their lifecycle); sweeping them from under a concurrent reader would
    turn "old but valid cursor" into FileNotFoundError.

    Returns the table-relative paths removed (or, with ``dry_run=True``,
    the paths that WOULD be removed, deleting nothing).
    """
    import time

    cutoff = (time.time() if now is None else now) - grace_seconds
    referenced: set[str] = set()
    for sid in table.snapshot_ids():
        s = table.snapshot(sid)
        for f in s.files:
            referenced.add(os.path.normpath(f["path"]))
        for m in s.manifests:
            referenced.add(os.path.normpath(m["path"]))

    orphans: list[str] = []
    for root, rel_prefix in (
        (table.data_dir, "data"),
        (table.manifest_dir, os.path.join("_meta", "manifests")),
    ):
        for absf, rel in table.io.walk_files(root):
            relpath = os.path.normpath(os.path.join(rel_prefix, rel))
            if relpath in referenced:
                continue
            try:
                if table.io.mtime(absf) >= cutoff:
                    continue  # inside the grace window — maybe in-flight
            except FileNotFoundError:
                continue  # raced a concurrent delete
            orphans.append(relpath)

    if not dry_run:
        for relpath in orphans:
            table.io.delete(os.path.join(table.path, relpath))
        table.io.cleanup_empty_dirs(table.data_dir)
    return orphans


def expire_snapshots(table: LakeTable, keep_last: int = 2) -> list[int]:
    """Delete old snapshot manifests (and their now-unreferenced manifest
    shards) and garbage-collect unreferenced data files.

    Named refs are RETENTION ROOTS (Iceberg's branch/tag retention rule): a
    snapshot pinned by ``table.tag``/``publish`` is never expired regardless
    of ``keep_last``, so readers of a published ref cannot lose their
    snapshot to a count-based maintenance sweep — drop the tag first.
    """
    ids = table.snapshot_ids()
    if len(ids) <= keep_last:
        return []
    pinned = set(table.refs().values())
    expired = [s for s in ids[:-keep_last] if s not in pinned]
    kept = [s for s in ids if s not in expired]
    if not expired:
        return []
    referenced: set[str] = set()
    kept_shards: set[str] = set()
    for sid in kept:
        s = table.snapshot(sid)
        for f in s.files:
            referenced.add(f["path"])
        for m in s.manifests:
            kept_shards.add(m["path"])
    candidates: set[str] = set()
    old_shards: set[str] = set()
    for sid in expired:
        s = table.snapshot(sid)
        for f in s.files:
            candidates.add(f["path"])
        for m in s.manifests:
            old_shards.add(m["path"])
    dead_shards = old_shards - kept_shards
    for rel in (candidates - referenced) | dead_shards:
        table.io.delete(os.path.join(table.path, rel))
    for sid in expired:
        table.io.delete(os.path.join(table.meta_dir, f"v{sid:08d}.json"))
    table.io.cleanup_empty_dirs(table.data_dir)  # fully-GC'd batch dirs
    # evict the in-process memo caches: an expired snapshot must behave
    # identically for this process and for a fresh one (FileNotFoundError),
    # and long-lived processes must not accumulate dead entries
    from .table import _SHARD_CACHE, _SNAP_CACHE

    for sid in expired:
        _SNAP_CACHE.pop((table.path, sid), None)
    for rel in dead_shards:
        _SHARD_CACHE.pop(os.path.join(table.path, rel), None)
    return expired

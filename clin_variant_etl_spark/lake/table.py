"""LakeTable — a from-scratch snapshot/manifest table format over parquet.

Plays the role Delta Lake plays in the reference (SURVEY.md §1.4): keyed
MERGE targets, partition overwrite, schema evolution in place, snapshot
isolation / time travel, compaction — implemented as:

- data files: immutable parquet under ``<table>/data/``, each tagged in the
  manifest with its partition tuple and the schema-id it was written under;
- snapshots: one self-contained JSON per commit under ``<table>/_meta/snapshots``,
  committed via *exclusive create* (hard-link of a tmp file) so a commit is
  atomic and two racing writers cannot both win the same version — the
  equivalent of Delta's _delta_log protocol, minimized.  Each carries
  inherited ``properties`` and its own, non-inherited ``summary`` (Iceberg's
  snapshot summary: the CDC engine records each epoch there);
- partition spec: identity columns and/or hash buckets
  (``pmod(murmur3(col), N)``), so CDC merges rewrite only affected buckets
  and reads prune on partition values manifest-side *and* parquet-side;
- schema evolution: every snapshot carries the full history of schemas; data
  files written under old schemas are read with their own schema and aligned
  (missing column → null, widened type → cast) at scan time — add/widen never
  rewrites history (reference analogue: delta schema.autoMerge,
  etl/conf/EtlConfiguration.scala:53).

Scale notes (100 TB): manifests are SHARDED per partition tuple (Iceberg's
manifest-file structure, JSON instead of avro): the snapshot JSON holds only
shard *references*; each shard is an immutable file-list for one partition
value.  A merge commit therefore writes O(changed buckets) shards and reuses
every untouched shard by reference — the driver-side serial term per commit
is proportional to the delta, not the table.  Immutable shards and snapshots
are memoized in-process, so repeated snapshot reads (several per epoch)
parse only what changed.  All data-path work (write, read, align, prune) is
executor-side Spark; the driver only touches manifests.

Object-store posture (fsio.FileIO): all metadata/commit I/O goes through a
pluggable FileIO whose exclusive-create primitive maps to a hard link
locally and a conditional put on S3/GCS; bulk parquet I/O stays on Spark's
and Arrow's own filesystem layers.  Data files are written ONCE into their
final batch directory and referenced in place — no rename pass (rename =
copy on S3) — and per-file footer stats (row counts + optional column
min/max for lineage) are collected executor-side above
EXECUTOR_STATS_THRESHOLD files, keeping the driver's per-commit serial work
at one LIST + O(changed shards) small writes even at 10^4-5 files/commit.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid
import warnings
from dataclasses import dataclass, field

from pyspark import cloudpickle
from pyspark.sql import DataFrame, SparkSession, Window, functions as F, types as T

from ..schemas import align_frame
from .fsio import CommitConflict, FileIO, LocalFileIO  # noqa: F401 (re-export)

_DEFAULT_IO = LocalFileIO()

# executor tasks call this module's footer reader without importing the
# package: cloudpickle serializes its functions by value
cloudpickle.register_pickle_by_value(sys.modules[__name__])

# driver-side footer reads are cheaper than a Spark job below this file
# count; above it, per-file row counts + column stats are collected
# EXECUTOR-SIDE (one parallelize job over the staged paths) so the driver
# never does O(files) data-plane round-trips — the 10^4-5-files-per-commit
# object-store case stays off the serial path
EXECUTOR_STATS_THRESHOLD = 64


@dataclass(frozen=True)
class PartitionField:
    """One element of the partition spec.

    transform:
      - "identity":  partition value = string value of ``source_col``
      - "bucket_m3": partition value = pmod(murmur3(source_col), n) — the
        EXACT formula of Spark's ``HashPartitioning.partitionIdExpression``
        (``F.hash`` is Murmur3 seed 42, the same hash ``repartition(n, col)``
        uses).  A frame that is hash-partitioned on ``source_col`` into
        exactly ``n`` partitions is therefore ALREADY physically grouped by
        this bucket value — writers can skip the pre-write repartition
        exchange entirely (``write_data_files(aligned=True)``).  The only
        bucket transform; CDC tables bucket their key with it.
    """

    name: str
    source_col: str
    transform: str = "identity"
    n: int = 0

    def expr(self) -> F.Column:
        c = F.col(self.source_col)
        if self.transform == "identity":
            return c.cast("string")
        if self.transform == "bucket_m3":
            return F.pmod(F.hash(c), F.lit(self.n)).cast("int").cast("string")
        raise ValueError(f"unknown transform {self.transform}")

    def to_json(self) -> dict:
        return {"name": self.name, "source_col": self.source_col, "transform": self.transform, "n": self.n}

    @staticmethod
    def from_json(d: dict) -> "PartitionField":
        return PartitionField(d["name"], d["source_col"], d["transform"], d.get("n", 0))


# immutable-content caches: shard path -> file entries; (table, sid) -> Snapshot
_SHARD_CACHE: dict[str, list[dict]] = {}
_SNAP_CACHE: dict[tuple[str, int], "Snapshot"] = {}


def _load_shard(abs_path: str, io: FileIO = _DEFAULT_IO) -> list[dict]:
    got = _SHARD_CACHE.get(abs_path)
    if got is None:
        got = json.loads(io.read(abs_path))
        _SHARD_CACHE[abs_path] = got
    return got


def _read_footer_stats(
    path: str, cols: tuple[str, ...], bloom_cols: tuple[str, ...] = ()
) -> tuple[int, dict, dict]:
    """(row_count, {col: [min, max]}, {col: bloom}) from one parquet file.

    min/max is a metadata-only footer read (no data pages); ``bloom_cols``
    additionally reads JUST those columns' pages to build manifest blooms —
    a narrow-column scan of a file the writer just produced (page cache
    warm), paid only when the table opts in.  Runs on the driver and, via
    ``_collect_parquet_stats``, inside executor tasks: its imports are in
    the function bodies and cloudpickle ships it (with ``_build_bloom``) by
    value."""
    import pyarrow.parquet as _pq

    pf = _pq.ParquetFile(path)
    md = pf.metadata
    blooms: dict[str, dict] = {}
    # oversize gate BEFORE the column read: the row count alone decides
    # whether a bloom can fit the cap, so files past it never pay the scan
    if bloom_cols and md.num_rows <= BLOOM_MAX_ROWS:
        for c in bloom_cols:
            if c in pf.schema_arrow.names:
                b = _build_bloom(pf.read(columns=[c]).column(c).to_pylist())
                if b is not None:
                    blooms[c] = b
    stats: dict[str, list] = {}
    if cols:
        name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for c in cols:
            i = name_to_idx.get(c)
            if i is None:
                continue
            lo = hi = None
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(i).statistics
                if s is None or not s.has_min_max:
                    lo = hi = None
                    break
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            if lo is not None:
                stats[c] = [lo, hi]
    return md.num_rows, stats, blooms


# the bloom cap: 2^19 bits = 64 KiB of bitset per (file, column) in the
# manifest; at 10 bits/row that admits files up to this many rows.  Files
# above it store no bloom (never wrongly pruned, just not skippable) — the
# lookup()-relevant files are the SMALL ones (per-epoch mor deltas); a
# compacted base file is one-per-bucket anyway, so bucket pruning already
# isolates it and a bloom would add manifest weight for little skipping.
BLOOM_MAX_ROWS = (1 << 19) // 10
# the candidate-key cap of ``CdcPipeline.lookup_by``'s first pass: a point
# lookup collects its candidate keys to the driver, so a value matching more
# keys than this is a scan (``read_state().where(...)``), not a lookup.
LOOKUP_BY_MAX_CANDIDATES = 10_000


def _bloom_positions(value, m: int, k: int) -> list[int]:
    """The k bit positions of ``str(value)`` in an m-bit bloom, shared by
    the build and the probe: double hashing (Kirsch-Mitzenmacher) over a
    sha1 digest."""
    import hashlib as _hashlib

    d = _hashlib.sha1(str(value).encode("utf-8")).digest()
    h1 = int.from_bytes(d[:8], "little")
    h2 = int.from_bytes(d[8:16], "little") | 1
    return [(h1 + i * h2) % m for i in range(k)]


def _build_bloom(
    values, bits_per_row: int = 10, k: int = 5, max_bits: int = 1 << 19
) -> dict | None:
    """Manifest-carried bloom filter over one file's column values.

    Spark's parquet reader does not consult parquet-native bloom filters and
    pyarrow cannot read them, so the bloom lives in the manifest entry next
    to the min/max stats (Iceberg carries the same idea in puffin files).
    Membership is on ``str(value)`` (the CDC key is a string already);
    double hashing (Kirsch-Mitzenmacher) over a sha1 digest gives k
    deterministic, platform-independent probe positions.  10 bits/row with
    k=5 ≈ 1% false-positive rate; sizes are the next power of two, capped at
    ``max_bits`` (64 KiB of bitset) — a file too large for a useful bloom
    stores none and is simply never pruned (conservative, like missing
    min/max).
    """
    import base64 as _b64
    import zlib as _zlib

    n = len(values)
    m = 1 << max(10, (n * bits_per_row - 1).bit_length() if n else 10)
    if m > max_bits:
        return None
    arr = bytearray(m // 8)
    for v in values:
        if v is None:
            continue  # null never matches an equality probe
        for idx in _bloom_positions(v, m, k):
            arr[idx >> 3] |= 1 << (idx & 7)
    return {
        "m": m,
        "k": k,
        "b64": _b64.b64encode(_zlib.compress(bytes(arr))).decode("ascii"),
    }


def _bloom_bits(bloom: dict) -> bytes:
    import base64 as _b64
    import zlib as _zlib

    return _zlib.decompress(_b64.b64decode(bloom["b64"]))


def _bits_may_contain(arr: bytes, m: int, k: int, value) -> bool:
    if value is None:
        return True  # conservative: equality-on-null is the caller's problem
    return all((arr[idx >> 3] >> (idx & 7)) & 1 for idx in _bloom_positions(value, m, k))


def _bloom_may_contain(bloom: dict, value) -> bool:
    return _bits_may_contain(_bloom_bits(bloom), bloom["m"], bloom["k"], value)


def _blooms_may_match(entry: dict, key_filter: dict[str, list]) -> bool:
    """True unless some column's bloom PROVES none of the sought values are
    in the file.  Files without a bloom for the column are always kept.
    Each bloom's bitset is decompressed ONCE per entry, then probed per
    value (K values x F files would otherwise re-inflate 64 KiB bitsets
    K x F times on the driver)."""
    blooms = entry.get("blooms") or {}
    for col, values in key_filter.items():
        b = blooms.get(col)
        if not b or not values:
            continue
        arr, m, k = _bloom_bits(b), b["m"], b["k"]
        if not any(_bits_may_contain(arr, m, k, v) for v in values):
            return False
    return True


def _stats_may_match(entry: dict, stats_filter: dict[str, tuple]) -> bool:
    """True unless the entry's min/max PROVES no row can satisfy the filter.

    Missing stats (column not collected, or all-null in the file) keep the
    file — pruning must never turn a maybe into a miss."""
    stats = entry.get("stats") or {}
    for col, (lo, hi) in stats_filter.items():
        rng = stats.get(col)
        if not rng or rng[0] is None or rng[1] is None:
            continue
        fmin, fmax = rng
        if isinstance(fmin, (str, bytes)) or isinstance(fmax, (str, bytes)):
            # parquet writers may TRUNCATE string min/max (a truncated max
            # sorts below the true max) — pruning on them could wrongly drop
            # a file, so string-stat columns always keep the file
            continue
        if (lo is not None and fmax < lo) or (hi is not None and fmin > hi):
            return False
    return True


def _collect_parquet_stats(
    spark, paths: list[str], stats_cols: tuple[str, ...], bloom_cols: tuple[str, ...] = ()
) -> dict[str, tuple[int, dict, dict]]:
    """Per-file (rows, column min/max, column blooms) for every path.

    ≤ EXECUTOR_STATS_THRESHOLD files: driver-side loop (cheaper than a job).
    Above: one Spark job fans the same ``_read_footer_stats`` over executors
    and collects only the tiny stats tuples — the driver's serial work stays
    O(1) per file *entry*, never O(files) footer round-trips.  This module
    is registered with cloudpickle by value, so executors need no import of
    the package.
    """
    if len(paths) <= EXECUTOR_STATS_THRESHOLD:
        return {p: _read_footer_stats(p, stats_cols, bloom_cols) for p in paths}
    sc = spark.sparkContext
    n_slices = min(len(paths), sc.defaultParallelism * 2)
    cols, bcols = tuple(stats_cols), tuple(bloom_cols)
    return dict(
        sc.parallelize(paths, n_slices).map(lambda p: (p, _read_footer_stats(p, cols, bcols))).collect()
    )


def keep_latest(df: DataFrame, key_col: str, lsn_col: str) -> DataFrame:
    """Keep each key's max-``lsn_col`` row: the merge-on-read resolve shared
    by table reads (``CdcPipeline.read_state``) and delta folds
    (``maintenance.compact(resolve_keep_latest=…)``).

    A top-1 window (``row_number() == 1``), not ``max_by(struct(row))``:
    Spark plans it as a partial ``WindowGroupLimit`` before the shuffle and
    prunes the columns beneath it, so a caller that reads only a few
    columns scans and shuffles only those.  No salting: a data file holds at
    most one row per key, so a key has at most 1 + (delta files) versions.
    Ties cannot occur: a mor delta row is appended only when its lsn
    strictly beats the key's prior version.
    """
    w = Window.partitionBy(key_col).orderBy(F.col(lsn_col).desc())
    return df.withColumn("_rn", F.row_number().over(w)).where(F.col("_rn") == 1).drop("_rn")


def _sql_literal(v, args: dict) -> str:
    """``v`` as an inline-table cell: the key types point lookups probe with
    as literals (strings as UTF-8 binary, so nothing needs escaping), any
    other value as a named parameter."""
    if isinstance(v, str):
        return f"X'{v.encode().hex()}'"
    if type(v) is int:
        return str(v)
    args[f"p{len(args)}"] = v
    return f":p{len(args) - 1}"


def local_frame(spark: SparkSession, schema: T.StructType, rows: list[tuple] = ()) -> DataFrame:
    """``rows`` as a JVM-local relation: an inline ``VALUES`` table cast to
    ``schema``.  Collecting it, or a projection of it, runs no Spark job and
    starts no Python worker, whatever the session's Arrow setting
    (``createDataFrame(list)`` builds a Python RDD: one job and the worker
    daemon even for zero rows).  Cells are literals, not parameter markers:
    binding 10,000 markers took 11 s where the literals took 0.4 s."""
    n = len(schema.fields)
    args: dict = {}
    tuples = [", ".join(_sql_literal(v, args) for v in r) for r in rows] or [", ".join(["NULL"] * n)]
    names = ", ".join(f"c{j}" for j in range(n))
    df = spark.sql(f"SELECT * FROM VALUES ({'), ('.join(tuples)}) AS t({names})", args=args or None)
    if not rows:
        df = df.where(F.lit(False))
    return df.select(*[F.col(f"c{j}").cast(f.dataType).alias(f.name) for j, f in enumerate(schema.fields)])


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    operation: str
    timestamp_ms: int
    schema_id: int
    schemas: dict[int, T.StructType]
    partition_spec: list[PartitionField]
    # shard refs: {"path": "_meta/manifests/m-*.json", "partition": {name: str},
    #              "n_files": int}; file entries live inside the shards
    manifests: list[dict] = field(default_factory=list)
    properties: dict[str, str] = field(default_factory=dict)
    # per-commit record (Iceberg's snapshot summary): what THIS commit did,
    # written atomically with it and never inherited by child snapshots
    summary: dict = field(default_factory=dict)
    root: str | None = None  # table path, for resolving shard refs
    io: FileIO = field(default=_DEFAULT_IO, repr=False, compare=False)

    @property
    def schema(self) -> T.StructType:
        return self.schemas[self.schema_id]

    @property
    def files(self) -> list[dict]:
        """Full file list (concatenated from shards; memoized per shard)."""
        out: list[dict] = []
        for m in self.manifests:
            out.extend(_load_shard(os.path.join(self.root, m["path"]), self.io))
        return out

    def to_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "operation": self.operation,
            "timestamp_ms": self.timestamp_ms,
            "schema_id": self.schema_id,
            "schemas": {str(k): v.jsonValue() for k, v in self.schemas.items()},
            "partition_spec": [p.to_json() for p in self.partition_spec],
            "manifests": self.manifests,
            "properties": self.properties,
            "summary": self.summary,
        }

    @staticmethod
    def from_json(d: dict, root: str | None = None, io: FileIO = _DEFAULT_IO) -> "Snapshot":
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d.get("parent_id"),
            operation=d["operation"],
            timestamp_ms=d["timestamp_ms"],
            schema_id=d["schema_id"],
            schemas={int(k): T.StructType.fromJson(v) for k, v in d["schemas"].items()},
            partition_spec=[PartitionField.from_json(p) for p in d.get("partition_spec", [])],
            manifests=d["manifests"],
            properties=d.get("properties", {}),
            summary=d["summary"],
            root=root,
            io=io,
        )


def _snap_path(meta_dir: str, sid: int) -> str:
    return os.path.join(meta_dir, f"v{sid:08d}.json")


class LakeTable:
    """Handle on one lake table rooted at ``path``."""

    def __init__(self, path: str, io: FileIO | None = None):
        self.path = path
        self.io = io or _DEFAULT_IO
        self.meta_dir = os.path.join(path, "_meta", "snapshots")
        self.manifest_dir = os.path.join(path, "_meta", "manifests")
        self.data_dir = os.path.join(path, "data")

    # ------------------------------------------------------------------ meta
    @staticmethod
    def create(
        path: str,
        schema: T.StructType,
        partition_spec: list[PartitionField] | None = None,
        properties: dict[str, str] | None = None,
        io: FileIO | None = None,
    ) -> "LakeTable":
        t = LakeTable(path, io=io)
        t.io.makedirs(t.meta_dir)
        t.io.makedirs(t.manifest_dir)
        t.io.makedirs(t.data_dir)
        # a re-created path must not serve another incarnation's cache
        for k in [k for k in _SNAP_CACHE if k[0] == path]:
            del _SNAP_CACHE[k]
        snap = Snapshot(
            snapshot_id=1,
            parent_id=None,
            operation="create",
            timestamp_ms=int(time.time() * 1000),
            schema_id=0,
            schemas={0: schema},
            partition_spec=partition_spec or [],
            manifests=[],
            properties=properties or {},
            root=path,
            io=t.io,
        )
        t._write_snapshot(snap)
        return t

    @staticmethod
    def exists(path: str, io: FileIO | None = None) -> bool:
        io = io or _DEFAULT_IO
        d = os.path.join(path, "_meta", "snapshots")
        return io.isdir(d) and any(f.startswith("v") for f in io.list(d))

    def snapshot_ids(self) -> list[int]:
        out = []
        for f in self.io.list(self.meta_dir):
            if f.startswith("v") and f.endswith(".json"):
                out.append(int(f[1:-5]))
        return sorted(out)

    def current_snapshot(self) -> Snapshot:
        ids = self.snapshot_ids()
        if not ids:
            raise FileNotFoundError(f"no snapshots at {self.path}")
        return self.snapshot(ids[-1])

    def snapshot_at(self, snapshot_id: int | None = None) -> Snapshot:
        """The snapshot a reader pinned: ``None`` means the current one;
        any other id must exist (ids start at 1, so 0 raises rather than
        silently reading the current state)."""
        if snapshot_id is None:
            return self.current_snapshot()
        return self.snapshot(snapshot_id)

    def snapshot(self, sid: int) -> Snapshot:
        key = (self.path, sid)
        got = _SNAP_CACHE.get(key)
        if got is None:
            got = Snapshot.from_json(
                json.loads(self.io.read(_snap_path(self.meta_dir, sid))),
                root=self.path,
                io=self.io,
            )
            _SNAP_CACHE[key] = got
        return got

    def added_files(self, snapshot_id: int | None = None, since: int | None = None) -> list[dict]:
        """File entries of ``snapshot_id`` (current when None) that snapshot
        ``since`` does not reference; every file when ``since`` is None.
        With ``since`` = the parent id these are the files one commit wrote."""
        files = self.snapshot_at(snapshot_id).files
        if since is None:
            return files
        old = {f["path"] for f in self.snapshot(since).files}
        return [f for f in files if f["path"] not in old]

    @property
    def schema(self) -> T.StructType:
        return self.current_snapshot().schema

    @property
    def partition_spec(self) -> list[PartitionField]:
        return self.current_snapshot().partition_spec

    def properties(self) -> dict[str, str]:
        return self.current_snapshot().properties

    # ------------------------------------------------------------------ refs
    # Named refs (tags) — the commit-then-publish pattern: writers commit
    # snapshots continuously; consumers read a named tag that is swapped
    # atomically only when a snapshot passes QC (reference: ES alias swap,
    # etl/es/Publish.scala:28-38; Iceberg branch/tag equivalent).
    @property
    def _refs_dir(self) -> str:
        return os.path.join(self.path, "_meta", "refs")

    def _refs_versions(self) -> list[int]:
        return sorted(
            int(f[1:-5])
            for f in self.io.list(self._refs_dir)
            if f.startswith("r") and f.endswith(".json")
        )

    def _read_refs_version(self, versions: list[int]) -> dict[str, int]:
        if not versions:
            return {}
        return json.loads(
            self.io.read(os.path.join(self._refs_dir, f"r{versions[-1]:08d}.json"))
        )

    def refs(self) -> dict[str, int]:
        return self._read_refs_version(self._refs_versions())

    def tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Point ref ``name`` at a snapshot (default: current) — atomic swap.

        Serialized like snapshot commits: the refs dict is versioned and each
        update is an exclusive-create of the next version (tmp + fsync +
        hard link), so two concurrent taggers cannot both win a version —
        the loser re-reads the winner's refs and retries its own update on
        top (no lost update, unlike a plain read-modify-write + rename).
        """
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot().snapshot_id
        if sid not in self.snapshot_ids():
            raise ValueError(f"cannot tag unknown snapshot {sid}")
        self.io.makedirs(self._refs_dir)
        while True:
            versions = self._refs_versions()
            refs = self._read_refs_version(versions)
            refs[name] = sid
            next_v = (versions[-1] + 1) if versions else 1
            final = os.path.join(self._refs_dir, f"r{next_v:08d}.json")
            try:
                self.io.put_exclusive(final, json.dumps(refs).encode())
                return sid
            except CommitConflict:
                continue  # lost the race: merge on top of the winner

    def publish(self, name: str = "published", snapshot_id: int | None = None) -> int:
        """Alias-swap publish: consumers reading ``ref=name`` atomically see
        the newly published snapshot; in-flight readers keep their pinned
        snapshot (snapshot isolation)."""
        return self.tag(name, snapshot_id)

    def resolve_ref(self, name: str) -> int:
        refs = self.refs()
        if name not in refs:
            raise KeyError(f"no ref {name!r} on table {self.path} (have {sorted(refs)})")
        return refs[name]

    def _write_snapshot(self, snap: Snapshot) -> None:
        """Atomic exclusive-create commit (FileIO.put_exclusive: hard link
        locally, conditional put on an object store)."""
        final = _snap_path(self.meta_dir, snap.snapshot_id)
        try:
            self.io.put_exclusive(final, json.dumps(snap.to_json()).encode())
        except CommitConflict as e:
            raise CommitConflict(
                f"snapshot {snap.snapshot_id} already committed"
            ) from e
        _SNAP_CACHE[(self.path, snap.snapshot_id)] = snap

    # ------------------------------------------------------------------ write
    def _partition_exprs(self, spec: list[PartitionField]) -> list[F.Column]:
        return [p.expr().alias(f"__p_{p.name}") for p in spec]

    def write_data_files(
        self,
        df: DataFrame,
        spec: list[PartitionField],
        split_expr: F.Column | None = None,
        stats_cols: tuple[str, ...] = (),
        bloom_cols: tuple[str, ...] = (),
        aligned: bool = False,
    ) -> list[dict]:
        """Write df as new immutable data files; return manifest entries.

        The entries carry no schema id: ``commit`` stamps the id of the
        schema it commits, so a file's id always names a schema its
        snapshot holds.  ``df`` must already have that schema's shape.

        ``bloom_cols``: additionally build a manifest-carried bloom filter
        per file for these columns (see ``_build_bloom``), enabling
        ``read(key_filter=…)`` point-lookup file skipping.  Costs one
        narrow-column re-read of each written file at commit time.

        Partition columns are *duplicated* into ``__p_*`` columns for
        partitionBy, so the originals stay inside the data files (no
        per-file value reattachment at read time).

        ``split_expr`` (int-valued) sub-splits each partition into that many
        files (compaction's target-file-size packing); the split value is
        NOT part of the table's partition tuple.

        ``aligned=True`` declares that ``df``'s physical partitioning already
        groups rows by the partition tuple (a "bucket_m3" spec fed by a plan
        that is hash-partitioned on the bucket source column into exactly
        ``n`` partitions — Spark's HashPartitioning computes the identical
        pmod(murmur3, n)).  The pre-write repartition exchange is then
        skipped: for the CDC merge that removes a full shuffle of the widest
        frame in the epoch (the merged table including token arrays).
        Correctness never depends on the claim — ``partitionBy`` routes rows
        by VALUE, so a misaligned input merely writes more files per
        partition, never wrong ones.

        Object-store posture: files are written ONCE into their final batch
        directory (``data/b-<uuid>/…``) and referenced in place — no
        per-file rename pass (rename = copy on S3).  Per-file row counts
        (and optional ``stats_cols`` min/max, e.g. the lsn range per file
        for lineage) come from parquet footers, collected executor-side
        above EXECUTOR_STATS_THRESHOLD files so the driver's serial work is
        one LIST plus the entry bookkeeping, not O(files) footer reads.
        """
        batch_dir = os.path.join(self.data_dir, f"b-{uuid.uuid4().hex}")
        pnames = [f"__p_{p.name}" for p in spec]
        out = df.select("*", *self._partition_exprs(spec)) if spec else df
        if split_expr is not None:
            out = out.withColumn("__p__split", split_expr.cast("int").cast("string"))
            pnames = pnames + ["__p__split"]
        if pnames:
            if not aligned:
                # co-locate rows of one partition into one task → one file
                # per partition value (plus AQE coalesce); mirrors the
                # reference's repartition-before-write
                # (EtlConfiguration.scala:47,52).  aligned=True skips this:
                # the caller's plan already clusters the partition tuple.
                nparts = out.sparkSession.conf.get("spark.sql.shuffle.partitions")
                out = out.repartition(int(nparts), *pnames)
            out.write.partitionBy(*pnames).mode("overwrite").parquet(batch_dir)
        else:
            out.write.mode("overwrite").parquet(batch_dir)

        staged: list[tuple[str, str, dict]] = []  # (abs, rel-to-table, pvals)
        for absf, rel in self.io.walk_files(batch_dir):
            if not rel.endswith(".parquet"):
                self.io.delete(absf)  # _SUCCESS and friends
                continue
            pvals: dict[str, str] = {}
            for part in rel.split(os.sep)[:-1]:
                k, _, v = part.partition("=")
                k = k.removeprefix("__p_")
                if k == "_split":
                    continue  # file-packing split, not a partition value
                pvals[k] = v
            staged.append((absf, os.path.relpath(absf, self.path), pvals))

        stats = _collect_parquet_stats(
            df.sparkSession, [s[0] for s in staged], stats_cols, bloom_cols
        )
        entries: list[dict] = []
        for absf, rel, pvals in staged:
            nrows, col_stats, col_blooms = stats[absf]
            if nrows == 0:
                self.io.delete(absf)
                continue
            e = {"path": rel, "partition": pvals, "rows": nrows}
            if col_stats:
                e["stats"] = col_stats
            if col_blooms:
                e["blooms"] = col_blooms
            entries.append(e)
        if bloom_cols:
            missed = sum(1 for e in entries if not e.get("blooms"))
            if missed:
                # surfaced, not silent: these files commit fine but lookups
                # cannot skip them (BLOOM_MAX_ROWS cap) — expected for big
                # compacted base files, worth knowing about for delta writes
                warnings.warn(
                    f"write_data_files: {missed}/{len(entries)} files exceed "
                    f"BLOOM_MAX_ROWS ({BLOOM_MAX_ROWS}) — committed without "
                    f"key blooms; lookup() scans them unpruned",
                    stacklevel=2,
                )
        return entries

    def commit(
        self,
        operation: str,
        new_files: list[dict],
        replace_partitions: list[dict] | None = None,
        replace_all: bool = False,
        new_schema: T.StructType | None = None,
        properties: dict[str, str] | None = None,
        expected_parent: int | None = None,
        new_spec: list[PartitionField] | None = None,
        summary: dict | None = None,
    ) -> Snapshot:
        """Commit a new snapshot.

        - replace_all: drop every parent file (OverWrite semantics)
        - replace_partitions: drop parent files whose partition tuple is in
          the list (OverWritePartition / merge-by-bucket semantics)
        - otherwise: append
        - new_spec: adopt a new partition spec (requires replace_all — old
          files' partition tuples are meaningless under the new spec)
        - new_schema: the schema ``new_files`` were written under; a schema
          that differs from the parent's gets the next id
        - properties: merged over the parent's and inherited by every child
        - summary: JSON record of this commit alone (not inherited)

        Assigns and stamps schema ids: every entry of ``new_files`` is
        tagged with the snapshot's schema id (the new id, else the
        parent's), the only place a schema id is computed.
        """
        parent = self.current_snapshot()
        if expected_parent is not None and parent.snapshot_id != expected_parent:
            raise CommitConflict(f"parent moved: {parent.snapshot_id} != {expected_parent}")
        if new_spec is not None and not replace_all:
            raise ValueError("new_spec requires replace_all=True (full rewrite)")

        def key_of(p: dict) -> tuple:
            return tuple(sorted(p.items()))

        if replace_all:
            kept_refs: list[dict] = []
        elif replace_partitions:
            drop = {key_of(p) for p in replace_partitions}
            kept_refs = [m for m in parent.manifests if key_of(m["partition"]) not in drop]
        else:
            kept_refs = list(parent.manifests)

        schemas = dict(parent.schemas)
        schema_id = parent.schema_id
        if new_schema is not None and new_schema != parent.schema:
            schema_id = max(schemas) + 1
            schemas[schema_id] = new_schema
        new_files = [{**f, "schema_id": schema_id} for f in new_files]

        props = dict(parent.properties)
        props.update(properties or {})
        snap = Snapshot(
            snapshot_id=parent.snapshot_id + 1,
            parent_id=parent.snapshot_id,
            operation=operation,
            timestamp_ms=int(time.time() * 1000),
            schema_id=schema_id,
            schemas=schemas,
            partition_spec=list(new_spec) if new_spec is not None else parent.partition_spec,
            manifests=kept_refs + self._write_shards(new_files),
            properties=props,
            summary=dict(summary or {}),
            root=self.path,
            io=self.io,
        )
        self._write_snapshot(snap)
        return snap

    def _write_shards(self, files: list[dict]) -> list[dict]:
        """Write file entries as immutable manifest shards, one per partition
        tuple; returns the shard refs.  Untouched shards from the parent are
        reused by reference, so a merge commit's driver-side work is
        O(changed buckets), not O(table files)."""
        if not files:
            return []
        self.io.makedirs(self.manifest_dir)
        groups: dict[tuple, list[dict]] = {}
        for f in files:
            groups.setdefault(tuple(sorted(f["partition"].items())), []).append(f)
        refs = []
        for key, fs in sorted(groups.items()):
            rel = os.path.join("_meta", "manifests", f"m-{uuid.uuid4().hex}.json")
            absf = os.path.join(self.path, rel)
            self.io.put_atomic(absf, json.dumps(fs).encode())
            _SHARD_CACHE[absf] = fs
            refs.append({"path": rel, "partition": dict(key), "n_files": len(fs)})
        return refs

    # ------------------------------------------------------------------ read
    def read(
        self,
        spark: SparkSession,
        snapshot_id: int | None = None,
        partition_filter: dict[str, set[str]] | None = None,
        ref: str | None = None,
        stats_filter: dict[str, tuple] | None = None,
        key_filter: dict[str, list] | None = None,
    ) -> DataFrame:
        """Scan the table (optionally time-traveled / ref-pinned / partition-pruned).

        Files are grouped by the schema-id they were written under; each group
        is read with its own schema and aligned to the *current* schema
        (missing → null, widen → cast) — in-place evolution without rewrite.

        ``stats_filter``: {col: (lo, hi)} — skip files whose manifest min/max
        range for ``col`` (written via ``write_data_files(stats_cols=…)``)
        cannot intersect [lo, hi] (either bound None = unbounded).  Pruning
        is CONSERVATIVE: files without stats for the column are kept, so the
        result is always a superset of the matching rows — callers still
        apply their row filter; this only bounds how many files are opened.
        At 100 TB this is the difference between an incremental reader
        scanning O(delta) files vs O(table): e.g. LSN-range change feeds
        open only files whose lsn span intersects the requested window.

        ``key_filter``: {col: [values]} — skip files whose manifest bloom
        (written via ``write_data_files(bloom_cols=…)``) proves NONE of the
        sought values are present.  Equally conservative: files without a
        bloom are kept, and a bloom hit is only "maybe" (callers still apply
        the row filter).  min/max cannot prune high-cardinality string keys
        (writers truncate string stats), which is exactly the point-lookup
        case blooms cover.
        """
        if ref is not None:
            if snapshot_id is not None:
                raise ValueError("pass either snapshot_id or ref, not both")
            snapshot_id = self.resolve_ref(ref)
        snap = self.snapshot_at(snapshot_id)
        if partition_filter:
            # manifest-side pruning: only shards of selected partitions are
            # even opened — driver work ∝ selected buckets, not table files
            refs = [
                m
                for m in snap.manifests
                if all(m["partition"].get(k) in v for k, v in partition_filter.items())
            ]
            files = [
                f
                for m in refs
                for f in _load_shard(os.path.join(self.path, m["path"]), self.io)
            ]
        else:
            files = snap.files
        if stats_filter:
            files = [f for f in files if _stats_may_match(f, stats_filter)]
        if key_filter:
            files = [f for f in files if _blooms_may_match(f, key_filter)]
        if not files:
            return local_frame(spark, snap.schema)

        cur = snap.schema
        by_schema: dict[int, list[str]] = {}
        for f in files:
            by_schema.setdefault(f["schema_id"], []).append(os.path.join(self.path, f["path"]))

        parts = []
        for sid, paths in sorted(by_schema.items()):
            src_schema = snap.schemas[sid]
            # recursiveFileLookup disables partition-value inference from the
            # staged __p_*=v directory names — partition values come from the
            # manifest, and the original columns live inside the files
            df = (
                spark.read.schema(src_schema)
                .option("recursiveFileLookup", "true")
                .parquet(*paths)
            )
            if src_schema != cur:
                # nested-aware: additions inside array<struct>/map values get
                # typed nulls (plain struct casts would fail on field count)
                df = align_frame(df, cur)
            else:
                df = df.select(*[f.name for f in cur.fields])
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def partitions_of(self, df: DataFrame) -> list[dict]:
        """Distinct partition tuples present in df (driver-side, small)."""
        spec = self.partition_spec
        if not spec:
            return []
        rows = df.select(*self._partition_exprs(spec)).distinct().collect()
        return [{p.name: r[f"__p_{p.name}"] for p in spec} for r in rows]

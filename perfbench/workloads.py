"""The benchmark's three closed-loop workloads, driven through the engine's
public API: ``bulk`` (copy-on-write replay), ``tail`` (streaming drain) and
``serve`` (merge-on-read writes beside reads).

One client per workload: the next micro-batch is handed over only after the
previous one returned.  Each workload sets up, warms up, then runs its loop
for the requested seconds and returns a ``Run`` with raw samples; ``run.py``
turns them into metrics and checks correctness afterwards.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq
from pyspark.sql import Observation, functions as F

from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
from clin_variant_etl_spark.engine.consume import CdfConsumer
from clin_variant_etl_spark.engine.matview import AggSpec, MaterializedAggregate
from clin_variant_etl_spark.lake import load, maintenance
from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA, CHANGE_EVENTS_SCHEMA, INTERNAL_DELETED, INTERNAL_LAST_LSN
from clin_variant_etl_spark.streaming.stream import StreamingCdc

from perfbench.inputs import epoch_dirs, logical_bytes
from perfbench.proc import host_ticks, tree_cpu_s

# Table layout and parallelism are pinned, never derived from the host.
N_BUCKETS = 16
N_SALTS = 8
SETUP_REPS = 3

# Shapes are sized so that a run of a gated workload (tail, serve) takes under
# a minute on a 4-core host with a 10 s window; perfbench/README.md records
# the measurements behind each size.  ``n_epochs`` leaves headroom beyond the
# epochs a window consumes.
_MIX = dict(dup_rate=0.05, late_rate=0.05, delete_rate=0.10)
SHAPES = {
    # bench.py's generator mix (Zipf 1.1 keys) at catch-up epoch sizes
    "bulk": {
        "gen": dict(n_docs=50_000, events_per_epoch=300_000, n_epochs=8, files_per_epoch=4,
                    skew=1.1, preload_docs=50_000, **_MIX),
        "warmup_epochs": 1,
    },
    # run.py --mode drain: one small file per micro-batch, uniform keys
    "tail": {
        "gen": dict(n_docs=20_000, events_per_epoch=10_000, n_epochs=16, files_per_epoch=1,
                    skew=0.0, preload_docs=20_000, **_MIX),
        "warmup_epochs": 2,
    },
    # merge-on-read with key blooms and per-epoch auto-fold, reads after each epoch
    "serve": {
        "gen": dict(n_docs=25_000, events_per_epoch=10_000, n_epochs=8, files_per_epoch=1,
                    skew=1.1, preload_docs=25_000, **_MIX),
        "warmup_epochs": 1,
        "lookups_per_epoch": 3,
    },
}


@dataclass
class Run:
    pipe: CdcPipeline
    setup_s: float = 0.0
    epoch_ids: list[int] = field(default_factory=list)
    epoch_s: list[float] = field(default_factory=list)
    window_s: float = 0.0
    window_cpu_s: float = 0.0
    steal_share: float = 0.0
    events: int = 0
    logical_in: int = 0
    bytes_written: int = 0
    lookup_ms: list[float] = field(default_factory=list)
    cdf_s: list[float] = field(default_factory=list)
    mv_s: list[float] = field(default_factory=list)
    epoch_files: list[list[str]] = field(default_factory=list)  # event files per measured epoch
    # (delivered batch count at lookup time, key, collected rows)
    lookups: list[tuple[int, str, list]] = field(default_factory=list)
    delivered: list[str] = field(default_factory=list)  # event files, in batch order
    batch_of_file: list[int] = field(default_factory=list)
    mv: MaterializedAggregate | None = None
    write_s: list[float] = field(default_factory=list)  # serve: apply + fold per epoch
    epoch_extra: dict[int, dict] = field(default_factory=dict)
    attempted: int = 0
    phases_s: dict = field(default_factory=dict)  # set-up breakdown

    def mark(self, name: str, t0: float) -> float:
        now = time.perf_counter()
        self.phases_s[name] = now - t0
        return now

    def deliver(self, files: list[str], batch: int) -> None:
        self.delivered.extend(files)
        self.batch_of_file.extend([batch] * len(files))
        self.attempted += 1

    def record(self, epoch_id: int, seconds: float, events: int, files: list[str]) -> None:
        self.epoch_ids.append(epoch_id)
        self.epoch_s.append(seconds)
        self.events += events
        self.epoch_files.append(files)

    def open_window(self) -> None:
        self._before = _data_sizes(self.pipe.table.path)
        self._cpu0, self._ticks0 = tree_cpu_s(), host_ticks()
        self._t_win = time.perf_counter()

    def close_window(self) -> None:
        """Window wall and CPU, the host's steal share over it, and the
        bytes and logical input the window wrote."""
        self.window_s = time.perf_counter() - self._t_win
        self.window_cpu_s = tree_cpu_s() - self._cpu0
        (st0, all0), (st1, all1) = self._ticks0, host_ticks()
        self.steal_share = (st1 - st0) / max(1, all1 - all0)
        self.bytes_written = sum(
            s for p, s in _data_sizes(self.pipe.table.path).items() if p not in self._before
        )
        self.logical_in = sum(_logical(fs) for fs in self.epoch_files)


class Ctx:
    def __init__(self, spark, work: str, inputs: str, workload: str, seed: int, seconds: float, tracer):
        self.spark, self.work, self.inputs = spark, work, inputs
        self.workload, self.seed, self.seconds, self.tracer = workload, seed, seconds, tracer
        self.shape = SHAPES[workload]
        self.rng = np.random.default_rng(seed + 7919)

    def path(self, *p) -> str:
        return os.path.join(self.work, *p)

    def set_epoch(self, e: int) -> None:
        if self.tracer is not None:
            self.tracer.set_epoch(e)


def _files(d: str) -> list[str]:
    return sorted(os.path.join(d, n) for n in os.listdir(d) if n.endswith(".parquet"))


def _data_sizes(table_path: str) -> dict[str, int]:
    out = {}
    for dirpath, _, names in os.walk(os.path.join(table_path, "data")):
        for n in names:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                out[p] = os.path.getsize(p)
    return out


def _file_bytes(paths) -> int:
    return sum(os.path.getsize(p) for p in paths)


def _logical(paths) -> int:
    return sum(logical_bytes(pq.read_table(p, columns=["n_tok", "doc_id", "source", "op"])) for p in paths)


def _create_and_preload(ctx: Ctx, name: str) -> str:
    """Create the target table and bulk-load the preload keys as base files
    at lsn 0, below every event's lsn (no epoch is consumed)."""
    path = ctx.path(name)
    table = create_cdc_table(path, BASE_DOCS_SCHEMA, n_buckets=N_BUCKETS)
    pre = ctx.spark.read.schema(BASE_DOCS_SCHEMA).parquet(os.path.join(ctx.inputs, "preload"))
    pre = pre.withColumn(INTERNAL_LAST_LSN, F.lit(0).cast("long")).withColumn(INTERNAL_DELETED, F.lit(False))
    load.overwrite(ctx.spark, table, pre)
    return path


def _table_setup(ctx: Ctx) -> tuple[str, list[float]]:
    """Create + preload ``SETUP_REPS`` times (fresh tables); keep the last
    table and return every repetition's duration."""
    times, path = [], None
    for r in range(SETUP_REPS):
        if path is not None:
            shutil.rmtree(path)
        t0 = time.perf_counter()
        path = _create_and_preload(ctx, f"table{r}")
        times.append(time.perf_counter() - t0)
    return path, times


def _lookup_keys(ctx: Ctx, n: int) -> list[str]:
    """Seeded single-key probes: half from the Zipf head, half uniform."""
    n_docs = ctx.shape["gen"]["n_docs"]
    head = ctx.rng.integers(0, min(200, n_docs), size=n // 2)
    rest = ctx.rng.integers(0, n_docs, size=n - n // 2)
    return [f"doc_{i:08d}" for i in np.concatenate([head, rest])]


def _noop_sink(rows_out: list):
    def handler(feed):
        obs = Observation("feed")
        feed.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
        rows_out.append(obs.get["n"])

    return handler


def _matview(pipe: CdcPipeline, path: str) -> MaterializedAggregate:
    return MaterializedAggregate(
        pipe, path, group_cols=["source"],
        aggs={"n": AggSpec("count"), "tok": AggSpec("sum", "n_tok")}, n_buckets=4,
    )


def _reads(ctx: Ctx, run: Run, keys: list[str], consumer: CdfConsumer, batches: int) -> None:
    """Single-key lookups, one change-feed drain, one matview refresh."""
    for k in keys:
        t0 = time.perf_counter()
        rows = run.pipe.lookup([k]).collect()
        run.lookup_ms.append((time.perf_counter() - t0) * 1000.0)
        run.lookups.append((batches, k, [r.asDict() for r in rows]))
    feed_rows: list[int] = []
    t0 = time.perf_counter()
    consumer.drain(_noop_sink(feed_rows))
    run.cdf_s.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    run.mv.refresh()
    run.mv_s.append(time.perf_counter() - t0)
    run.attempted += len(keys) + 2
    if ctx.tracer is not None:
        run.epoch_extra.setdefault(ctx.tracer.epoch, {})["feed_rows"] = sum(feed_rows)


def _epoch_extra(ctx: Ctx, run: Run, e: int, event_files) -> None:
    if ctx.tracer is None:
        return
    files = run.pipe.table.current_snapshot().files
    run.epoch_extra.setdefault(e, {}).update(
        event_bytes=_file_bytes(event_files),
        live_files=len(files),
        delta_files=sum(1 for f in files if f.get("delta")),
    )


def _epoch_loop(ctx: Ctx, run: Run, step, epochs: range) -> None:
    """The timed closed loop: ``step(i) -> (seconds, events, files)`` per
    epoch, ending on the epoch boundary nearest to the window's seconds."""
    run.open_window()
    for i in epochs:
        dt, n_ev, files = step(i)
        run.record(i, dt, n_ev, files)
        spent = sum(run.epoch_s)
        if spent + spent / len(run.epoch_s) / 2 >= ctx.seconds:
            break
    run.close_window()


# ------------------------------------------------------------------- bulk
def bulk(ctx: Ctx) -> Run:
    """Copy-on-write catch-up replay: direct ``apply_epoch`` calls with the
    lineage and checkpoint sidecars on."""
    spark, sh = ctx.spark, ctx.shape
    dirs = epoch_dirs(ctx.inputs)
    path, table_reps = _table_setup(ctx)
    t_setup = time.perf_counter()
    pipe = CdcPipeline(
        spark, path, lineage_path=ctx.path("lineage"), checkpoint_path=ctx.path("ckpt"), n_salts=N_SALTS
    )
    run = Run(pipe, phases_s={"table_reps": table_reps})

    def step(i: int):
        files = _files(dirs[i])
        ctx.set_epoch(i)
        t0 = time.perf_counter()
        res = pipe.apply_epoch(spark.read.schema(CHANGE_EVENTS_SCHEMA).parquet(*files), i)
        dt = time.perf_counter() - t0
        run.deliver(files, i)
        _epoch_extra(ctx, run, i, files)
        return dt, res.event_count, files

    for i in range(sh["warmup_epochs"]):
        step(i)
    run.mark("warmup", t_setup)
    run.setup_s = statistics.median(table_reps) + (time.perf_counter() - t_setup)
    _epoch_loop(ctx, run, step, range(sh["warmup_epochs"], len(dirs)))
    return run


# ------------------------------------------------------------------- tail
def tail(ctx: Ctx) -> Run:
    """Streaming drain (``run.py --mode drain``): event files are handed to
    ``StreamingCdc.run_available`` with ``maxFilesPerTrigger=1``; a batch's
    time runs from the previous batch's commit (or the drain call) to its
    own ``after_batch`` hook."""
    spark, sh = ctx.spark, ctx.shape
    dirs = epoch_dirs(ctx.inputs)
    path, table_reps = _table_setup(ctx)
    t_setup = time.perf_counter()
    pipe = CdcPipeline(
        spark, path, lineage_path=ctx.path("lineage"), checkpoint_path=ctx.path("ckpt"), n_salts=N_SALTS
    )
    run = Run(pipe, phases_s={"table_reps": table_reps})
    src = ctx.path("src")
    os.makedirs(src)
    ends: list[tuple[int, float, int]] = []  # (batch id, commit time, events)

    def after_batch(pipeline, epoch_id, res):
        ends.append((epoch_id, time.perf_counter(), res.event_count))

    stream = StreamingCdc(
        spark, pipe, events_dir=src, event_schema=CHANGE_EVENTS_SCHEMA,
        checkpoint_dir=ctx.path("stream_ckpt"), max_files_per_trigger=1, after_batch=after_batch,
    )
    offered = [0]

    def drain(n: int) -> list[tuple[int, float, int, list[str]]]:
        """Hand the next n event files to the stream (copied under a dot
        name, which Spark skips, then renamed) and drain them."""
        files = []
        for i in range(offered[0], min(offered[0] + n, len(dirs))):
            (f,) = _files(dirs[i])
            tmp = os.path.join(src, f".part-{i:05d}")
            shutil.copyfile(f, tmp)
            os.rename(tmp, os.path.join(src, f"part-{i:05d}.parquet"))
            run.deliver([f], i)
            files.append(f)
        offered[0] += len(files)
        ends.clear()
        prev = time.perf_counter()
        stream.run_available()
        if len(ends) != len(files):
            raise RuntimeError(f"stream applied {len(ends)} batches for {len(files)} files")
        out = []
        for (eid, t_end, n_ev), f in zip(ends, files):
            out.append((eid, t_end - prev, n_ev, [f]))
            prev = t_end
            ctx.set_epoch(eid)
            _epoch_extra(ctx, run, eid, [f])
        return out

    # the first warm-up batch pays the query start and the cold JVM; the
    # later ones give the batch time that sizes the window
    warm = drain(sh["warmup_epochs"])
    run.mark("warmup", t_setup)
    run.setup_s = statistics.median(table_reps) + (time.perf_counter() - t_setup)
    per_batch = statistics.median(dt for _, dt, _, _ in warm[1:])

    # one drain, as run.py --mode drain does, over as many files as fill the
    # window: the query start is paid once, in the first batch's time
    run.open_window()
    for batch in drain(max(3, round(ctx.seconds / per_batch))):
        run.record(*batch)
    run.close_window()
    return run


# ------------------------------------------------------------------ serve
def serve(ctx: Ctx) -> Run:
    """Merge-on-read writes beside reads: each epoch applies with key blooms,
    runs ``auto_fold`` (the ``run.py`` mor default), then makes seeded
    single-key lookups, one change-feed drain into a noop sink and one
    matview refresh.  An epoch's time covers all of it."""
    spark, sh = ctx.spark, ctx.shape
    dirs = epoch_dirs(ctx.inputs)
    path, table_reps = _table_setup(ctx)
    t_setup = time.perf_counter()
    pipe = CdcPipeline(spark, path, n_salts=N_SALTS, apply_mode="mor", key_blooms=True)
    run = Run(pipe, phases_s={"table_reps": table_reps})
    run.mv = _matview(pipe, ctx.path("mv"))
    consumer = CdfConsumer(pipe, ctx.path("cdf_cursor.json"))
    fold_key = (pipe.key_col, INTERNAL_LAST_LSN)

    def step(i: int):
        files = _files(dirs[i])
        ctx.set_epoch(i)
        t0 = time.perf_counter()
        res = pipe.apply_epoch(spark.read.schema(CHANGE_EVENTS_SCHEMA).parquet(*files), i)
        maintenance.auto_fold(spark, pipe.table, fold_key)
        run.write_s.append(time.perf_counter() - t0)
        run.deliver(files, i)
        _epoch_extra(ctx, run, i, files)
        _reads(ctx, run, _lookup_keys(ctx, sh["lookups_per_epoch"]), consumer, i + 1)
        return time.perf_counter() - t0, res.event_count, files

    # the warm-up epochs' drain and refresh also catch the readers up
    for i in range(sh["warmup_epochs"]):
        step(i)
    run.mark("warmup", t_setup)
    run.setup_s = statistics.median(table_reps) + (time.perf_counter() - t_setup)
    del run.lookup_ms[:], run.cdf_s[:], run.mv_s[:], run.write_s[:]
    _epoch_loop(ctx, run, step, range(sh["warmup_epochs"], len(dirs)))
    return run


WORKLOADS = {"bulk": bulk, "tail": tail, "serve": serve}

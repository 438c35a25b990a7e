"""Tracing for the benchmark's traced run: spans around the engine's public
layer calls, Spark job groups per span, and an offline event-log reader.

Nothing here is imported by the engine.  ``Tracer.install`` wraps the public
functions of each layer from outside; every wrapped call records a span
(name, layer, start, end, parent, epoch) in memory and tags the Spark jobs it
starts with the job group ``<layer>/epoch=<id>`` and the job description
``span=<n>``, so the event log attributes every task to its span.
"""

from __future__ import annotations

import json
import os
import statistics
import time

LAYERS = (
    "streaming.stream",
    "engine.apply",
    "engine.dedup",
    "lake.table",
    "lake.maintenance",
    "engine.consume",
    "engine.matview",
)


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._undo: list = []
        self.epoch: int | None = None
        self.recording = False  # between install() and uninstall()

    def set_epoch(self, epoch: int) -> None:
        """Epoch id for the spans that follow."""
        self.epoch = epoch

    def _wrap(self, owner, attr: str, layer: str, name: str, epoch_arg=None, detail=None):
        fn = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            if epoch_arg is not None:
                tracer.set_epoch(epoch_arg(args, kwargs))
            if not tracer.recording:
                return fn(*args, **kwargs)
            epoch = tracer.epoch
            parent = tracer._stack[-1] if tracer._stack else None
            span = {
                "id": len(tracer.spans),
                "name": name,
                "layer": layer,
                "parent": parent["id"] if parent else None,
                "epoch": epoch,
            }
            tracer.spans.append(span)
            sc = tracer.sc
            prev = (
                sc.getLocalProperty("spark.jobGroup.id"),
                sc.getLocalProperty("spark.job.description"),
            )
            sc.setLocalProperty("spark.jobGroup.id", f"{layer}/epoch={epoch}")
            sc.setLocalProperty("spark.job.description", f"span={span['id']}")
            tracer._stack.append(span)
            span["start"] = time.time() * 1000.0
            try:
                res = fn(*args, **kwargs)
            finally:
                span["end"] = time.time() * 1000.0
                tracer._stack.pop()
                sc.setLocalProperty("spark.jobGroup.id", prev[0])
                sc.setLocalProperty("spark.job.description", prev[1])
            if detail is not None:
                span.update(detail(args, kwargs, res))
            return res

        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, fn))

    def install(self) -> None:
        from clin_variant_etl_spark.engine import apply as apply_mod
        from clin_variant_etl_spark.engine.consume import CdfConsumer
        from clin_variant_etl_spark.engine.matview import MaterializedAggregate
        from clin_variant_etl_spark.lake import maintenance
        from clin_variant_etl_spark.lake.table import LakeTable

        def apply_detail(a, kw, res):
            return {"result": {
                "wall_ms": res.wall_ms,
                "phase_ms": dict(res.phase_ms or {}),
                "events": res.event_count,
                "applied": res.applied_inserts + res.applied_updates + res.applied_deletes,
            }}

        def write_detail(a, kw, res):
            table = a[0]
            return {
                "files": len(res),
                "rows": sum(e["rows"] for e in res),
                "bytes": sum(os.path.getsize(os.path.join(table.path, e["path"])) for e in res),
                "buckets": len({tuple(sorted(e["partition"].items())) for e in res}),
            }

        def commit_detail(a, kw, res):
            table = a[0]
            parent = {m["path"] for m in table.snapshot(res.parent_id).manifests} if res.parent_id else set()
            return {"shards": sum(1 for m in res.manifests if m["path"] not in parent)}

        def read_detail(a, kw, res):
            return {"files_opened": len(res.inputFiles())}

        def refresh_detail(a, kw, res):
            return {"buckets": len(res.get("buckets") or [])}

        self._wrap(
            apply_mod.CdcPipeline, "apply_epoch", "engine.apply", "apply_epoch",
            epoch_arg=lambda a, kw: a[2] if len(a) > 2 else kw["epoch_id"],
            detail=apply_detail,
        )
        self._wrap(apply_mod.CdcPipeline, "lookup", "engine.apply", "lookup")
        # apply.py binds the dedup entry point by name at import time
        self._wrap(apply_mod, "latest_by_key_auto", "engine.dedup", "latest_by_key_auto")
        self._wrap(LakeTable, "write_data_files", "lake.table", "write_data_files", detail=write_detail)
        self._wrap(LakeTable, "commit", "lake.table", "commit", detail=commit_detail)
        self._wrap(LakeTable, "read", "lake.table", "read", detail=read_detail)
        self._wrap(maintenance, "compact", "lake.maintenance", "compact")
        self._wrap(CdfConsumer, "drain", "engine.consume", "drain")
        self._wrap(MaterializedAggregate, "refresh", "engine.matview", "refresh", detail=refresh_detail)
        self.recording = True

    def uninstall(self) -> None:
        self.recording = False
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


# --------------------------------------------------------------- event log
def read_event_log(path: str) -> dict:
    """Fold a Spark event log (uncompressed, non-rolling) into per-job
    records: group, span id, submission/completion ms, and per-task metrics."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                desc = props.get("spark.job.description") or ""
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "span": int(desc[5:]) if desc.startswith("span=") else None,
                    "start": ev["Submission Time"],
                    "end": None,
                    "tasks": [],
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics") or {}
                if jid is None or not m:
                    continue
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                jobs[jid]["tasks"].append({
                    "run_ms": m.get("Executor Run Time", 0),
                    "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
                    "input": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
                    "shuffle": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    + sw.get("Shuffle Bytes Written", 0),
                    "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                })
    return jobs


def _union_ms(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


class SpanIndex:
    """Spans joined with the event log's jobs."""

    def __init__(self, spans: list[dict], jobs: dict[int, dict]):
        self.spans = spans
        self.children: dict[int, list[dict]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s)
        self.jobs_of: dict[int, list[dict]] = {}
        for j in jobs.values():
            if j["span"] is not None and j["end"] is not None:
                self.jobs_of.setdefault(j["span"], []).append(j)

    def dur(self, s) -> float:
        return s["end"] - s["start"]

    def self_ms(self, s) -> float:
        kids = [(c["start"], c["end"]) for c in self.children.get(s["id"], [])]
        return self.dur(s) - _union_ms(kids)

    def subtree(self, s) -> list[dict]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children.get(x["id"], []))
        return out

    def jobs(self, s, deep: bool = True) -> list[dict]:
        spans = self.subtree(s) if deep else [s]
        return [j for x in spans for j in self.jobs_of.get(x["id"], [])]

    def driver_gap_ms(self, s) -> float:
        return self.dur(s) - _union_ms([(j["start"], j["end"]) for j in self.jobs(s)])


def layer_metrics(
    spans: list[dict],
    jobs: dict[int, dict],
    epoch_walls: dict[int, float],
    epoch_extra: dict[int, dict],
    streaming: bool,
) -> dict[str, float]:
    """Per-layer metrics of one traced run.

    ``epoch_walls``: benchmark-side wall ms of each measured write epoch (the
    closed-loop cycle).  ``epoch_extra``: per traced epoch, ``event_bytes``,
    ``live_files``, ``delta_files`` and ``feed_rows`` observed by the
    benchmark.  Write-side values are medians over traced epochs of
    per-epoch totals; read-side values (lookup, drain, refresh) and folds
    are medians per call; task times pool every task of the layer.
    """
    by_id = {s["id"]: s for s in spans}

    def maintenance_owned(s):
        p = s["parent"]
        while p is not None:
            if by_id[p]["layer"] == "lake.maintenance":
                return True
            p = by_id[p]["parent"]
        return False

    # set-up and warm-up spans are left out: only the measured epochs count.
    # The table writes and commits of a fold are the maintenance layer's work.
    spans = [
        dict(s, layer="lake.maintenance") if maintenance_owned(s) else s
        for s in spans if s["epoch"] in epoch_walls
    ]
    ix = SpanIndex(spans, jobs)
    write_epochs = sorted(e for e in epoch_walls if any(s["epoch"] == e for s in spans))
    by_epoch: dict[int, list[dict]] = {}
    for s in spans:
        by_epoch.setdefault(s["epoch"], []).append(s)

    def of(ss, layer=None, name=None):
        return [s for s in ss if (layer is None or s["layer"] == layer) and (name is None or s["name"] == name)]

    def per_write_epoch(fn):
        return _med([fn(by_epoch[e], e) for e in write_epochs])

    def per_layer_epoch(layer, fn):
        # epochs in which the layer ran at all
        return _med([fn(of(ss, layer)) for ss in by_epoch.values() if of(ss, layer)])

    def per_call(layer, name, fn):
        return _med([fn(s) for s in spans if s["layer"] == layer and s["name"] == name])

    out: dict[str, float] = {}
    applies = {e: of(by_epoch[e], "engine.apply", "apply_epoch") for e in write_epochs}

    def apply_stat(fn):
        return per_write_epoch(lambda ss, e: sum(fn(s) for s in applies[e]))

    # streaming: the batch cycle minus the apply_epoch call inside it
    overhead = _med([epoch_walls[e] - sum(ix.dur(s) for s in applies[e]) for e in write_epochs]) if streaming else 0.0
    out["streaming.stream.batch_overhead_ms"] = overhead
    out["streaming.stream.self_ms"] = overhead
    for layer in LAYERS[1:]:
        out[f"{layer}.self_ms"] = per_layer_epoch(layer, lambda ss: sum(ix.self_ms(s) for s in ss))

    def unattributed(ss, e):
        tops = [(s["start"], s["end"]) for s in ss if s["parent"] is None]
        return max(0.0, 1.0 - _union_ms(tops) / epoch_walls[e])

    out["trace.unattributed_share"] = per_write_epoch(unattributed)

    # engine.apply
    out["engine.apply.wall_ms"] = apply_stat(lambda s: s["result"]["wall_ms"])
    for ph in ("dedup", "write", "commit"):
        out[f"engine.apply.{ph}_ms"] = apply_stat(lambda s, ph=ph: s["result"]["phase_ms"].get(ph, 0))
    out["engine.apply.sidecar_ms"] = apply_stat(lambda s: ix.dur(s) - s["result"]["wall_ms"])
    out["engine.apply.jobs"] = apply_stat(lambda s: len(ix.jobs(s)))
    out["engine.apply.driver_gap_ms"] = apply_stat(ix.driver_gap_ms)

    def writes_in(s):
        return [w for w in ix.subtree(s) if w["name"] == "write_data_files"]

    def carry(ss, e):
        rows = sum(w["rows"] for s in applies[e] for w in writes_in(s))
        applied = sum(s["result"]["applied"] for s in applies[e])
        return (rows - applied) / rows if rows else 0.0

    out["engine.apply.carry_ratio"] = per_write_epoch(carry)
    out["engine.apply.buckets_touched"] = apply_stat(lambda s: sum(w["buckets"] for w in writes_in(s)))
    out["engine.apply.lookup_ms"] = per_call("engine.apply", "lookup", ix.dur)
    out["engine.apply.lookup_jobs"] = per_call("engine.apply", "lookup", lambda s: len(ix.jobs(s)))
    out["engine.apply.lookup_files_opened"] = per_call(
        "engine.apply", "lookup",
        lambda s: sum(r.get("files_opened", 0) for r in ix.subtree(s) if r["name"] == "read"),
    )

    # engine.dedup
    out["engine.dedup.call_ms"] = per_write_epoch(lambda ss, e: sum(ix.dur(s) for s in of(ss, "engine.dedup")))

    def scan_passes(ss, e):
        # event files are read by the apply's own jobs and the dedup's; the
        # table's files are read inside lake.table spans (the merge write)
        read = 0
        for s in applies[e]:
            spans_ = [s] + of(ix.subtree(s), "engine.dedup")
            read += sum(t["input"] for x in spans_ for j in ix.jobs_of.get(x["id"], []) for t in j["tasks"])
        return read / epoch_extra[e]["event_bytes"] if epoch_extra[e]["event_bytes"] else 0.0

    out["engine.dedup.scan_passes"] = per_write_epoch(scan_passes)
    out["engine.dedup.net_ratio"] = apply_stat(
        lambda s: s["result"]["applied"] / s["result"]["events"] if s["result"]["events"] else 0.0
    )

    # lake.table: the apply's data-file writes and commits, all read plans
    def table_stat(name, fn):
        return per_write_epoch(lambda ss, e: sum(fn(s) for s in of(ss, "lake.table", name)))

    out["lake.table.write_ms"] = table_stat("write_data_files", ix.dur)
    out["lake.table.bytes_written"] = table_stat("write_data_files", lambda s: s["bytes"])
    out["lake.table.files_written"] = table_stat("write_data_files", lambda s: s["files"])
    out["lake.table.rows_written"] = table_stat("write_data_files", lambda s: s["rows"])
    out["lake.table.commit_ms"] = table_stat("commit", ix.dur)
    out["lake.table.shards_written"] = table_stat("commit", lambda s: s["shards"])
    out["lake.table.commits"] = table_stat("commit", lambda s: 1)
    out["lake.table.read_plan_ms"] = per_call("lake.table", "read", ix.dur)
    for k in ("live_files", "delta_files"):
        out[f"lake.table.{k}"] = _med([epoch_extra[e][k] for e in write_epochs])

    # lake.maintenance: folds alternate with fold-free epochs, so the cost
    # is per fold and the count is the mean per write epoch
    n_folds = sum(len(of(by_epoch[e], "lake.maintenance", "compact")) for e in write_epochs)
    out["lake.maintenance.folds"] = n_folds / len(write_epochs) if write_epochs else 0.0
    out["lake.maintenance.fold_ms"] = per_call("lake.maintenance", "compact", ix.dur)
    out["lake.maintenance.bytes_rewritten"] = per_call(
        "lake.maintenance", "compact",
        lambda s: sum(w["bytes"] for w in ix.subtree(s) if w["name"] == "write_data_files"),
    )

    # engine.consume / engine.matview: per call
    out["engine.consume.drain_ms"] = per_call("engine.consume", "drain", ix.dur)
    out["engine.consume.feed_rows"] = _med([x["feed_rows"] for x in epoch_extra.values() if "feed_rows" in x])
    out["engine.matview.refresh_ms"] = per_call("engine.matview", "refresh", ix.dur)
    out["engine.matview.jobs"] = per_call("engine.matview", "refresh", lambda s: len(ix.jobs(s)))
    out["engine.matview.buckets_rewritten"] = per_call("engine.matview", "refresh", lambda s: s["buckets"])

    # event-log task metrics, each job attributed to the span that started it
    # (the streaming layer has no span of its own: see batch_overhead_ms)
    for layer in LAYERS[1:]:
        run_ms, max_ms, cpu_ms, inp, shf, spill = [], [], [], [], [], []
        for ss in by_epoch.values():
            tasks = [t for s in of(ss, layer) for j in ix.jobs_of.get(s["id"], []) for t in j["tasks"]]
            if not tasks:
                continue
            run_ms.extend(t["run_ms"] for t in tasks)
            max_ms.append(max(t["run_ms"] for t in tasks))
            cpu_ms.append(sum(t["cpu_ms"] for t in tasks))
            inp.append(sum(t["input"] for t in tasks))
            shf.append(sum(t["shuffle"] for t in tasks))
            spill.append(sum(t["spill"] for t in tasks))
        out[f"{layer}.task_ms_p50"] = _med(run_ms)
        out[f"{layer}.task_ms_max"] = _med(max_ms)
        out[f"{layer}.task_cpu_ms"] = _med(cpu_ms)
        out[f"{layer}.input_bytes"] = _med(inp)
        out[f"{layer}.shuffle_bytes"] = _med(shf)
        out[f"{layer}.spill_bytes"] = _med(spill)
    return out

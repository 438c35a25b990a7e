"""CDC lake benchmark: one command, three workloads (see perfbench/README.md).

    python3 perfbench/run.py --workload {bulk,tail,serve} --seed N --seconds S --trace {0,1}

Run from the repository root.  Generates (or reuses) the seeded inputs,
builds a ``local[<=4]`` session, runs the workload's closed loop for S
seconds, checks the final state against the pandas replay oracle, and prints
one JSON object as the last stdout line.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` is the separate traced run and reports the
per-layer metrics.  ``--check-inputs`` instead proves that regenerating the
workload's inputs from the seed gives identical bytes.

Everything the run writes stays under the repository root: ``.perfbench_cache``
(inputs), ``.perfbench_work`` (tables, Spark scratch; removed at exit) and
``.perfbench_out`` (spans and details of the last runs).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.proc import RssSampler, descendants  # noqa: E402

SHUFFLE_PARTITIONS = 8


def stop_spark(spark) -> None:
    """Stop the session, the JVM it launched, and wait for every process this
    run started to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while True:
        left = descendants(os.getpid())
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


# ----------------------------------------------------------- correctness
def verify(run, inputs: str):
    """Final state vs the replay oracle; lookups vs the oracle as of their
    epoch; the matview vs a recompute from read_state().  Returns the list
    of failures (empty = correct) and the final state as pandas."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clin_variant_etl_spark.engine.oracle import canonical_rows, replay_oracle

    cols = ["lsn", "op", "doc_id", "tokens", "n_tok", "source"]
    ev = pa.concat_tables(
        pq.read_table(f, columns=cols).append_column(
            "_batch", pa.array(np.full(pq.read_metadata(f).num_rows, b, dtype=np.int32))
        )
        for f, b in zip(run.delivered, run.batch_of_file)
    ).to_pandas()
    base = pq.read_table(os.path.join(inputs, "preload")).to_pandas()
    fails = []

    want = replay_oracle(ev.drop(columns="_batch"), base)
    got = run.pipe.read_state().toPandas()
    if canonical_rows(got) != canonical_rows(want):
        fails.append(f"state: {len(got)} rows vs oracle {len(want)}")

    keys = {k for _, k, _ in run.lookups}
    ev_k = ev[ev["doc_id"].isin(keys)].drop_duplicates(subset=["lsn"]).sort_values("lsn")
    base_k = base[base["doc_id"].isin(keys)].set_index("doc_id")
    payload = ["doc_id", "tokens", "n_tok", "source"]
    for upto, k, rows in run.lookups:
        hist = ev_k[(ev_k["doc_id"] == k) & (ev_k["_batch"] < upto)]
        if len(hist):
            last = hist.iloc[[-1]]
            exp = last[payload] if last["op"].iloc[0] != "D" else last[payload].iloc[:0]
        elif k in base_k.index:
            exp = base_k.loc[[k]].reset_index()[payload]
        else:
            exp = base.iloc[:0][payload]
        if canonical_rows(pd.DataFrame(rows, columns=payload)) != canonical_rows(exp):
            fails.append(f"lookup {k} after {upto} batches")

    if run.mv is not None:
        mv = run.mv.read().toPandas()
        rec = got.groupby("source").agg(n=("doc_id", "size"), tok=("n_tok", "sum")).reset_index()
        norm = lambda df: sorted((r.source, int(r.n), int(r.tok)) for r in df.itertuples())  # noqa: E731
        if norm(mv) != norm(rec):
            fails.append("matview differs from a recompute of read_state()")
    return fails, got


def space_amp(run, state) -> float:
    """Bytes of the live snapshot's files over the visible state's logical
    bytes (4 per token plus the strings)."""
    table = run.pipe.table
    live = sum(os.path.getsize(os.path.join(table.path, f["path"])) for f in table.current_snapshot().files)
    logical = 4 * int(state["n_tok"].sum()) + int(state["doc_id"].str.len().sum()) + int(state["source"].str.len().sum())
    return live / logical


# ----------------------------------------------------------------- main
def per_layer_unit(name: str) -> str:
    if "_ms" in name.rsplit(".", 1)[1]:
        return "ms"
    if name.endswith("_bytes") or ".bytes_" in name:
        return "bytes"
    if name.endswith(("_ratio", "_share", "scan_passes")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="perfbench/run.py")
    ap.add_argument("--workload", required=True, choices=["bulk", "tail", "serve"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--check-inputs", action="store_true")
    args = ap.parse_args(argv)

    # engine knobs from the environment would change what is measured
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    cache = os.path.join(ROOT, ".perfbench_cache")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for d in ("tmp", "spark-local", "eventlog"):
        os.makedirs(os.path.join(work, d))
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM started (the launcher's too) would write a perf-data file
    # under /tmp whatever java.io.tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    try:
        return _run(args, work, cache, out_dir)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, cache: str, out_dir: str) -> int:
    from perfbench.inputs import ensure_inputs, verify_regeneration
    from perfbench.workloads import SHAPES, WORKLOADS, Ctx

    shape = SHAPES[args.workload]["gen"]
    if args.check_inputs:
        same = verify_regeneration(cache, args.workload, args.seed, shape)
        print(json.dumps({"workload": args.workload, "seed": args.seed, "identical_bytes": same}))
        return 0 if same else 1

    from clin_variant_etl_spark.session import build_session
    from perfbench.spans import Tracer, layer_metrics, read_event_log

    inputs, gen_s = ensure_inputs(cache, args.workload, args.seed, shape)
    rss = RssSampler()
    rss.start()
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        # a fixed, pre-touched heap: the heap's resident size no longer
        # depends on when the collector chose to grow it
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xms1g -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if args.trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    cores = min(4, len(os.sched_getaffinity(0)))
    t0 = time.perf_counter()
    spark = build_session(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf
    )
    session_s = time.perf_counter() - t0
    tracer = Tracer(spark) if args.trace else None
    if tracer is not None:
        tracer.install()
    try:
        ctx = Ctx(spark, work, inputs, args.workload, args.seed, args.seconds, tracer)
        run = WORKLOADS[args.workload](ctx)
        if tracer is not None:
            tracer.uninstall()
        rss.stop()
        t_check = time.perf_counter()
        fails, state = verify(run, inputs)
        s_amp = space_amp(run, state)
        check_s = time.perf_counter() - t_check
    finally:
        stop_spark(spark)

    attempted = run.attempted + 1 + (run.mv is not None)  # + the state and matview checks
    failed = len(fails)
    details = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "gen_s": gen_s, "session_s": session_s, "table_setup_s": run.setup_s, "check_s": check_s,
        "epochs": len(run.epoch_s), "events": run.events, "window_s": run.window_s,
        "window_cpu_s": run.window_cpu_s, "steal_share": run.steal_share,
        "peak_mb_by_process": {k: v / 2**20 for k, v in rss.peak_parts.items()},
        # wall-clock figures: reported, not bounded (see README)
        "ingest_eps": {"value": run.events / run.window_s, "unit": "1/s"},
        "epoch_p50_s": {"value": statistics.median(run.epoch_s), "unit": "s"},
        "lookups": len(run.lookup_ms), "failures": fails, "phases_s": run.phases_s,
        "epoch_s": run.epoch_s,
    }
    if run.mv is not None:
        # serve's reads, split out of its epochs (see README: not gated)
        details["reads"] = {
            "lookup_p50_ms": {"value": statistics.median(run.lookup_ms), "unit": "ms", "n": len(run.lookup_ms)},
            "cdf_drain_p50_s": {"value": statistics.median(run.cdf_s), "unit": "s", "n": len(run.cdf_s)},
            "mv_refresh_p50_s": {"value": statistics.median(run.mv_s), "unit": "s", "n": len(run.mv_s)},
            "write_share": {"value": sum(run.write_s) / sum(run.epoch_s), "unit": "ratio"},
            "samples": {"lookup_ms": run.lookup_ms, "cdf_drain_s": run.cdf_s, "mv_refresh_s": run.mv_s},
        }
    if args.trace:
        log = [f for f in os.listdir(os.path.join(work, "eventlog")) if not f.endswith(".inprogress")]
        jobs = read_event_log(os.path.join(work, "eventlog", log[0]))
        walls = {e: s * 1000.0 for e, s in zip(run.epoch_ids, run.epoch_s)}
        values = layer_metrics(tracer.spans, jobs, walls, run.epoch_extra, streaming=args.workload == "tail")
        values["trace.epoch_p50_ms"] = statistics.median(walls.values())
        untraced = os.path.join(out_dir, f"{args.workload}-s{args.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                p50 = json.load(fh)["details"]["epoch_p50_s"]["value"]
            details["trace_overhead_ms"] = values["trace.epoch_p50_ms"] - 1000.0 * p50
        metrics = {k: {"value": v, "unit": per_layer_unit(k)} for k, v in sorted(values.items())}
        tracer.dump(os.path.join(out_dir, f"{args.workload}-s{args.seed}-spans.jsonl"))
    else:
        metrics = {
            "setup_s": {"value": session_s + run.setup_s, "unit": "s"},
            # CPU time charged to the tree grows with the host's steal share
            # (README: Steadiness); count only the unstolen part
            "cpu_us_per_event": {
                "value": 1e6 * run.window_cpu_s * (1.0 - run.steal_share) / run.events, "unit": "us",
            },
            "write_amp": {"value": run.bytes_written / run.logical_in, "unit": "ratio"},
            "space_amp": {"value": s_amp, "unit": "ratio"},
            "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
        }
    details["fail_rate"] = {"value": failed / attempted, "unit": "ratio"}
    with open(os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as fh:
        json.dump({"details": details, "metrics": metrics}, fh, indent=1)
    print(json.dumps({"details": details}))
    print(json.dumps({"correct": not fails, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if not fails else 1


if __name__ == "__main__":
    sys.exit(main())

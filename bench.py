"""Benchmark harness (driver contract: prints ONE JSON line).

Two phases:
1. **CDC apply throughput** — the BASELINE.json headline metric: generate a
   deterministic change-event log (testgen, seeded), apply it epoch-by-epoch
   through the full engine (keep-max-LSN dedup → LSN-guarded merge → atomic
   commit → lineage), and report pre-dedup events/sec over the apply wall-clock.
2. **Headline queries** — a representative slice of the operator-parity
   registry at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), each
   executed to a noop sink (full plan execution, no driver transfer).

NOTE: on startup this script RE-EXECS itself once with glibc/Arrow allocator
tunables in the environment (see ``reexec_with_malloc_tuning`` — the VM's
lazily-backed memory makes allocator page-trimming a dominant noise source).
Wrappers that don't survive an execve (coverage, profilers, signal handlers)
should set SPARK_GRAFT_NO_MALLOC_TUNE=1; the emitted JSON carries a
``malloc_tuned`` flag so result lines are self-describing either way.

Environment knobs:
  SPARK_GRAFT_SF_DIR   parquet dir for the query phase (default sf0.1)
  SPARK_GRAFT_CPUS     local[] parallelism (default 32)
  SPARK_GRAFT_BENCH_EVENTS  CDC event count (default 1_000_000)
  SPARK_GRAFT_BENCH_MODE    'all' (default) | 'cdc' | 'queries'
  SPARK_GRAFT_NO_MALLOC_TUNE=1  disable the allocator re-exec

Scaling-efficiency protocol (BASELINE.md): run `python bench.py` twice with
SPARK_GRAFT_CPUS=8 and =32 (SPARK_GRAFT_BENCH_MODE=cdc) on the same seed —
scripts/scaling_bench.py automates this and writes BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

MALLOC_TUNE_ENV = {
    "MALLOC_TRIM_THRESHOLD_": "-1",
    "MALLOC_MMAP_THRESHOLD_": "17179869184",
    "ARROW_DEFAULT_MEMORY_POOL": "system",
}


def reexec_with_malloc_tuning() -> None:
    """Allocator posture for the bench process (generator + Spark driver).

    glibc reads the MALLOC_* tunables once at startup, so they must be in
    the environment before Python boots — re-exec once if they are not.
    Why: this sandbox's VM memory is lazily backed (first-touch page faults
    measured ~400× slower than re-touched pages); an allocator that trims
    freed pages back to the OS re-pays that cost every epoch — bench noise,
    not engine time.  Python workers get the same posture via
    spark.executorEnv (session.py).  Opt out: SPARK_GRAFT_NO_MALLOC_TUNE=1.
    """
    if os.environ.get("_SPARK_GRAFT_MALLOC_TUNED") == "1":
        return
    if os.environ.get("SPARK_GRAFT_NO_MALLOC_TUNE") == "1":
        return
    env = dict(os.environ, _SPARK_GRAFT_MALLOC_TUNED="1", **MALLOC_TUNE_ENV)
    os.execve(sys.executable, [sys.executable] + sys.argv, env)


def gen_events(
    n_events: int, out_dir: str, files_per_epoch: int, n_epochs: int = 6, n_docs: int | None = None
) -> float:
    """Generate the deterministic CDC event log (seed 42) into out_dir."""
    from clin_variant_etl_spark.testgen import (
        EventGenConfig,
        generate_change_events,
        write_events_by_epoch,
    )

    cfg = EventGenConfig(
        n_docs=n_docs or max(1000, n_events // 20),
        n_events=n_events,
        n_epochs=n_epochs,
        dup_rate=0.05,
        late_rate=0.05,
        delete_rate=0.10,
        hot_key_skew=1.1,
        seed=42,
    )
    t_gen = time.monotonic()
    tbl = generate_change_events(cfg)
    write_events_by_epoch(tbl, out_dir, files_per_epoch=files_per_epoch)
    return time.monotonic() - t_gen


def bench_cdc(spark, n_events: int, n_cpus: int) -> dict:
    from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
    from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA

    tmp = tempfile.mkdtemp(prefix="bench_cdc_")
    try:
        # a pre-generated input (scaling protocol: IDENTICAL input at both
        # parallelism levels) can be injected via SPARK_GRAFT_BENCH_INPUT;
        # otherwise generation is cached by parameters (deterministic seed
        # 42 → identical bytes), so repeated bench runs skip the ~8 min
        # page-fault-bound generation
        pre = os.environ.get("SPARK_GRAFT_BENCH_INPUT")
        if pre and os.path.isdir(pre):
            ev_dir, gen_s = pre, 0.0
        else:
            # key-space / epoch-count knobs (write-amplification comparisons
            # need a table much larger than one epoch's delta)
            n_docs = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "0")) or None
            n_ep = int(os.environ.get("SPARK_GRAFT_BENCH_EPOCHS", "6"))
            # cache key carries the file layout version (rg32 = 32k-row row
            # groups, splittable) so layout changes invalidate old caches
            cache = (
                f"/tmp/spark_graft_bench_events_{n_events}_{n_cpus}_rg32"
                + (f"_d{n_docs}" if n_docs else "")
                + (f"_e{n_ep}" if n_ep != 6 else "")
            )
            done = os.path.join(cache, "_GEN_DONE")
            if os.path.exists(done):
                ev_dir, gen_s = cache, 0.0
            else:
                shutil.rmtree(cache, ignore_errors=True)
                gen_s = gen_events(
                    n_events, cache, files_per_epoch=n_cpus, n_epochs=n_ep, n_docs=n_docs
                )
                with open(done, "w") as fh:
                    fh.write("ok")
                ev_dir = cache
        n_epochs = len([d for d in os.listdir(ev_dir) if d.startswith("epoch=")])

        tpath = os.path.join(tmp, "table")
        # scaling protocol: table layout must be IDENTICAL at every
        # parallelism level (a layout that tracks cpu count would measure
        # layout, not scaling) — pin via env; default keeps the old sizing
        n_buckets = int(os.environ.get("SPARK_GRAFT_BENCH_BUCKETS", 2 * n_cpus))
        n_salts = int(os.environ.get("SPARK_GRAFT_BENCH_SALTS", n_cpus))
        create_cdc_table(tpath, BASE_DOCS_SCHEMA, n_buckets=n_buckets)
        pipe = CdcPipeline(
            spark,
            tpath,
            lineage_path=os.path.join(tmp, "lineage"),
            checkpoint_path=os.path.join(tmp, "ckpt"),
            n_salts=n_salts,
            # summary-only offset lineage: one fewer Spark job per epoch
            # (global offsets observed for free during the dedup pass)
            collect_part_stats=os.environ.get("SPARK_GRAFT_BENCH_PART_STATS", "0") == "1",
            # copy-on-write (default) vs merge-on-read delta apply
            apply_mode=os.environ.get("SPARK_GRAFT_BENCH_APPLY_MODE", "cow"),
        )
        # mor production posture: fold deltas into base every k epochs
        # (0 = never); the fold time lands INSIDE the measured window —
        # throughput numbers include the maintenance cost they depend on
        compact_every = int(os.environ.get("SPARK_GRAFT_BENCH_COMPACT_EVERY", "0"))
        # epoch 0 is JVM/codegen warmup — applied but excluded from the
        # measured window (identical treatment at every parallelism level).
        # SPARK_GRAFT_BENCH_EPOCH_GROUP=k merges k source epoch-dirs into one
        # applied epoch — bigger epochs amortize the fixed per-epoch job
        # latency (the Amdahl serial term in local mode).
        warmup = int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP_EPOCHS", "1"))
        group = int(os.environ.get("SPARK_GRAFT_BENCH_EPOCH_GROUP", "2"))
        groups = [list(range(i, min(i + group, n_epochs))) for i in range(0, n_epochs, group)]
        total_events = 0
        t0 = None
        per_epoch = []
        phase_log = []
        warm_events = 0
        show_phases = os.environ.get("SPARK_GRAFT_BENCH_PHASES", "0") == "1"
        for ep, g in enumerate(groups):
            df = spark.read.parquet(*[os.path.join(ev_dir, f"epoch={i}") for i in g])
            if ep == warmup:
                t0 = time.monotonic()
            res = pipe.apply_epoch(df, ep)
            if ep < warmup:
                warm_events += res.event_count
            else:
                total_events += res.event_count
            per_epoch.append(round(res.wall_ms / 1000.0, 3))
            if show_phases:
                phase_log.append({"epoch": ep, **(res.phase_ms or {})})
                sys.stderr.write(f"PHASES epoch={ep}: {res.phase_ms}\n")
            if compact_every and (ep + 1) % compact_every == 0:
                from clin_variant_etl_spark.lake.maintenance import compact
                from clin_variant_etl_spark.schemas import INTERNAL_LAST_LSN

                t_c = time.monotonic()
                compact(spark, pipe.table, resolve_keep_latest=("doc_id", INTERNAL_LAST_LSN))
                if show_phases:
                    sys.stderr.write(
                        f"COMPACT after epoch={ep}: {time.monotonic() - t_c:.2f}s\n"
                    )
        apply_s = time.monotonic() - (t0 or time.monotonic())
        return {
            "events": total_events,
            "warmup_events": warm_events,
            "apply_sec": round(apply_s, 3),
            "events_per_sec": round(total_events / apply_s, 1) if apply_s else 0.0,
            "gen_sec": round(gen_s, 3),
            # per-GROUP wall seconds for EVERY applied group, warmup groups
            # included — consumers must slice [warmup_epochs:] for steady
            # readings (scripts/scaling_bench.py does)
            "epoch_sec": per_epoch,
            "warmup_epochs": warmup,
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


HEADLINE = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "top2_orders_per_customer",
    "ship_latency_histogram",
    "cdc_latest_state",
    "cdc_latest_by_lsn_salted",
    "session_stats_per_user",
    "tumbling_hourly_activity",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "embed_cosine_pairs",
    "embed_cosine_pairs_lsh",
    "ann_topk_bruteforce",
    "ann_ivf_topk",
    "interval_overlap_best",
    "text_quality_stats",
    "multimodal_decode_features",
    # r4 mid-round additions: connected-components dedup clusters, as-of
    # join, TF-IDF — the new operator classes, benched from day one
    "dedup_clusters",
    "attribution_last_touch",
    "tfidf_top_terms",
    "text_repetition_stats",
]


def bench_queries(spark, sf_dir: str) -> dict[str, float]:
    from clin_variant_etl_spark.queries import all_queries

    # suite-only queries (e.g. the labeled all-pairs baseline) stay benchable
    reg = all_queries(include_suite_only=True)
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERY_SET")
    names = subset.split(",") if subset else HEADLINE
    # best-of-N damps the host's minute-scale throttle windows (identical
    # work measured 3.5-64s across a session — BENCH/BASELINE.md) and
    # reports warm-plan performance, which is what a resident service sees
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_QUERY_REPS", "2"))
    # SPARK_GRAFT_BENCH_QUERY_WARMUP=1: one untimed pass of the FULL set
    # first, so leg-level fixed costs (the persisted words-cache fill, JIT
    # of shared codepaths) are amortized across the leg instead of landing
    # in the first query's first rep — the scaling ladders pin this so both
    # parallelism levels time identical warm work
    if os.environ.get("SPARK_GRAFT_BENCH_QUERY_WARMUP") == "1":
        for name in names:
            reg[name].fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
    timings: dict[str, float] = {}
    for name in names:
        spec = reg[name]
        best = None
        for _ in range(reps):
            t0 = time.monotonic()
            spec.fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        timings[name] = round(best, 3)
    return timings


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from clin_variant_etl_spark.session import build_session

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_events = int(os.environ.get("SPARK_GRAFT_BENCH_EVENTS", "3000000"))
    mode = os.environ.get("SPARK_GRAFT_BENCH_MODE", "all")

    shuffle = int(os.environ.get("SPARK_GRAFT_BENCH_SHUFFLE", max(n_cpus, 8)))
    spark = build_session("bench", master=f"local[{n_cpus}]", shuffle_partitions=shuffle)
    try:
        cdc = bench_cdc(spark, n_events, n_cpus) if mode in ("all", "cdc") else None
        queries = bench_queries(spark, sf_dir) if mode in ("all", "queries") else {}
    finally:
        spark.stop()

    sf = sf_dir.rstrip("/").split("sf")[-1] if "sf" in sf_dir else sf_dir
    out = {
        "metric": "cdc_apply_throughput",
        "value": cdc["events_per_sec"] if cdc else sum(queries.values()),
        "unit": "events/sec" if cdc else "sec",
        "queries": queries,
        "sf": sf,
        "cpus": n_cpus,
        "cdc": cdc,
        # allocator posture (module docstring): tuned runs and
        # SPARK_GRAFT_NO_MALLOC_TUNE=1 runs are distinguishable in logs
        "malloc_tuned": os.environ.get("_SPARK_GRAFT_MALLOC_TUNED") == "1",
    }
    print(json.dumps(out))


if __name__ == "__main__":
    reexec_with_malloc_tuning()
    main()

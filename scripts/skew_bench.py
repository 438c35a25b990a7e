"""Hot-BUCKET skew leg: adversarial keys vs uniform keys at the same width.

The bench input's Zipf keys hash to a near-uniform BUCKET histogram, so the
r1-r3 ladders never exercised bucket-level skew.  This leg builds two event
logs of identical size/shape on a deliberately low-bucket table
(n_buckets=4):

- **uniform**: POOL distinct keys balanced over the 4 buckets;
- **hot**: the SAME number of distinct keys (identical table size), but
  62.5% of them hash (pmod(murmur3, 4)) into bucket 0 — the adversarial
  case where one bucket carries 2.5x its uniform share of table AND events.

Skew immunity is layered:
- the dedup phase never shuffles the payload (adaptive winner broadcast,
  engine/dedup.py) — immune to any key/bucket distribution by construction;
- the merge+write phase spreads a hot bucket over k tasks, where the
  measured-skew guard (engine/apply.py _aligned_partition_count) widens k
  from the per-epoch bucket histogram.

Usage:
  python scripts/skew_bench.py [n_events] [cpus] [n_epochs]
Writes BENCH/SKEW_LEG.json (one JSON line per leg) and prints a summary.

Acceptance (VERDICT r3 task 8): hot leg steady-epoch within ~15% of the
uniform leg at the same width.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pyarrow as pa

N_BUCKETS = int(os.environ.get("SPARK_GRAFT_SKEW_BUCKETS", "4"))
# distinct keys per leg — sized so the CoW rewrite of the filled table is a
# real fraction of the epoch (a tiny table hides write skew entirely)
POOL = int(os.environ.get("SPARK_GRAFT_SKEW_POOL", "400000"))


def build_events(doc_pool: np.ndarray, n_events: int, n_epochs: int, seed: int) -> pa.Table:
    """Same shape as testgen's log (splittable layout via write_events_by_epoch)."""
    from clin_variant_etl_spark.testgen import _tokens_list_array

    rng = np.random.default_rng(seed)
    lsn = rng.permutation(n_events).astype(np.int64) + 1  # out-of-order delivery
    docs = doc_pool[rng.integers(0, len(doc_pool), size=n_events)]
    r = rng.random(n_events)
    op = np.where(r < 0.10, "D", np.where(r < 0.40, "I", "U"))
    lengths = rng.integers(8, 64, size=n_events)
    lengths[op == "D"] = 0
    tokens = _tokens_list_array(lsn, lengths)
    n_tok = np.where(op == "D", None, lengths.astype(np.int32))
    epoch = (np.arange(n_events) * n_epochs // n_events).astype(np.int32)
    return pa.table(
        {
            "lsn": pa.array(lsn),
            "op": pa.array(op),
            "doc_id": pa.array(docs),
            "tokens": tokens,
            "n_tok": pa.array(n_tok, type=pa.int32()),
            "source": pa.array(np.where(op == "D", None, "web")),
            "epoch_hint": pa.array(epoch),
        }
    )


HOT_SHARE = float(os.environ.get("SPARK_GRAFT_SKEW_HOT_SHARE", "0.625"))


def key_pools(spark) -> tuple[np.ndarray, np.ndarray]:
    """(uniform_pool, hot_pool): BOTH exactly POOL distinct keys (identical
    table size — only the bucket histogram differs); the hot pool puts
    HOT_SHARE of its keys in bucket 0 vs the uniform pool's 1/N_BUCKETS
    per bucket.  Buckets come from the ENGINE's own partition expression
    (pmod(murmur3)) evaluated by Spark — no reimplementation to drift."""
    from pyspark.sql import functions as F

    cand = spark.range(POOL * 2 * N_BUCKETS).select(
        F.concat(F.lit("doc_"), F.lpad(F.col("id").cast("string"), 8, "0")).alias("doc_id")
    )
    pdf = cand.select(
        "doc_id", F.pmod(F.hash(F.col("doc_id")), F.lit(N_BUCKETS)).alias("b")
    ).toPandas()
    by_bucket = [pdf[pdf.b == k]["doc_id"].to_numpy() for k in range(N_BUCKETS)]
    per_b = POOL // N_BUCKETS
    uni = np.concatenate([ids[:per_b] for ids in by_bucket])
    n_hot = int(POOL * HOT_SHARE)
    n_rest = (POOL - n_hot) // (N_BUCKETS - 1)
    hot = np.concatenate(
        [by_bucket[0][:n_hot]] + ([ids[:n_rest] for ids in by_bucket[1:]] if n_rest else [])
    )
    assert len(uni) == N_BUCKETS * per_b and len(hot) == n_hot + n_rest * (N_BUCKETS - 1)
    assert abs(len(hot) - len(uni)) <= N_BUCKETS  # identical up to rounding
    return uni, hot


def run_leg(spark, name: str, events_dir: str, n_epochs: int) -> dict:
    from pyspark.sql import functions as F

    from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
    from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA

    tmp = tempfile.mkdtemp(prefix=f"skewleg_{name}_")
    try:
        create_cdc_table(os.path.join(tmp, "t"), BASE_DOCS_SCHEMA, n_buckets=N_BUCKETS)
        pipe = CdcPipeline(spark, os.path.join(tmp, "t"), n_salts=8)
        epoch_sec, events = [], 0
        for ep in range(n_epochs):
            df = spark.read.parquet(os.path.join(events_dir, f"epoch={ep}"))
            t0 = time.monotonic()
            res = pipe.apply_epoch(df, ep)
            epoch_sec.append(round(time.monotonic() - t0, 3))
            if ep > 0:  # epoch 0 = JVM warmup
                events += res.event_count
        # sanity: the hot leg really is hot — bucket 0 holds ~50%+ of rows
        per_bucket = {
            r["b"]: r["n"]
            for r in pipe.read_state()
            .select(F.pmod(F.hash("doc_id"), F.lit(N_BUCKETS)).alias("b"))
            .groupBy("b")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        }
        steady = min(epoch_sec[1:])
        ev_per_epoch = events / max(1, n_epochs - 1)
        return {
            "leg": name,
            "epoch_sec": epoch_sec,
            "steady_epoch_sec": steady,
            "steady_events_per_sec": round(ev_per_epoch / steady, 1),
            "bucket0_share": round(
                per_bucket.get(0, 0) / max(1, sum(per_bucket.values())), 3
            ),
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    n_epochs = int(sys.argv[3]) if len(sys.argv) > 3 else 6

    from clin_variant_etl_spark.session import build_session
    from clin_variant_etl_spark.testgen import write_events_by_epoch

    spark = build_session(
        app_name="skew_bench", master=f"local[{cpus}]", shuffle_partitions=cpus * 2
    )
    uni_pool, hot_mix = key_pools(spark)

    rounds = int(os.environ.get("SPARK_GRAFT_SKEW_ROUNDS", "2"))
    root = tempfile.mkdtemp(prefix="skew_input_")
    runs: list[dict] = []
    try:
        dirs = {}
        for name, pool in (("uniform", uni_pool), ("hot_bucket", hot_mix)):
            d = os.path.join(root, name)
            write_events_by_epoch(build_events(pool, n_events, n_epochs, seed=42), d, cpus)
            dirs[name] = d
        # interleave rounds so warmup / host-throttle windows don't bias a leg
        for _ in range(rounds):
            for name in ("uniform", "hot_bucket"):
                runs.append(run_leg(spark, name, dirs[name], n_epochs))
                print(json.dumps(runs[-1]))
    finally:
        shutil.rmtree(root, ignore_errors=True)

    leg_names = sorted({r["leg"] for r in runs})
    best = {
        name: min((r for r in runs if r["leg"] == name), key=lambda r: r["steady_epoch_sec"])
        for name in leg_names
    }
    ratio = best["hot_bucket"]["steady_epoch_sec"] / best["uniform"]["steady_epoch_sec"]
    summary = {
        "cpus": cpus,
        "n_events": n_events,
        "n_buckets": N_BUCKETS,
        "hot_over_uniform_steady_epoch": round(ratio, 3),
        "legs": list(best.values()),
        "all_runs": runs,
    }
    print(json.dumps(summary))
    os.makedirs("BENCH", exist_ok=True)
    mode = "a" if os.environ.get("SPARK_GRAFT_SKEW_APPEND") == "1" else "w"
    with open("BENCH/SKEW_LEG.json", mode) as fh:
        fh.write(json.dumps(summary) + "\n")


if __name__ == "__main__":
    main()

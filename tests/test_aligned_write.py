"""The bucket_m3 aligned-write fast path (engine/apply.py, lake/table.py).

The optimization rests on ONE Spark contract: ``repartition(n, col)`` places
each row in partition ``pmod(murmur3_hash(col), n)`` — the same value
``PartitionField("...", col, "bucket_m3", n).expr()`` computes.  If a Spark
upgrade ever changed HashPartitioning, correctness would NOT break (the
write's partitionBy routes by value), but the skipped exchange would silently
start producing many files per bucket — this test makes that loud.
"""

from __future__ import annotations

import os
import tempfile

import numpy as np
import pyarrow as pa
from pyspark.sql import functions as F


def test_repartition_matches_bucket_m3_expr(spark):
    from clin_variant_etl_spark.lake.table import PartitionField

    n = 8
    df = spark.range(5000).select(
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("doc_id")
    )
    pf = PartitionField("bucket", "doc_id", "bucket_m3", n)
    got = (
        df.repartition(n, "doc_id")
        .select(
            F.spark_partition_id().alias("pid"),
            pf.expr().cast("int").alias("bucket"),
        )
        .where(F.col("pid") != F.col("bucket"))
        .count()
    )
    assert got == 0


def test_aligned_replay_matches_oracle_mismatched_shuffle(spark):
    """Full replay through the aligned path with n_buckets deliberately
    different from spark.sql.shuffle.partitions (the alignment must come
    from the explicit repartition(n_buckets, key), not from the session
    conf), asserting exact final-state equality and one file per affected
    bucket per merge commit."""
    from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
    from clin_variant_etl_spark.engine.oracle import assert_state_equals, replay_oracle
    from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA
    from clin_variant_etl_spark.testgen import (
        EventGenConfig,
        generate_change_events,
        write_events_by_epoch,
    )

    assert int(spark.conf.get("spark.sql.shuffle.partitions")) != 6
    root = tempfile.mkdtemp(prefix="aligned_")
    cfg = EventGenConfig(n_docs=300, n_events=4000, n_epochs=4, seed=7)
    tbl = generate_change_events(cfg)
    ev_dir = os.path.join(root, "events")
    write_events_by_epoch(tbl, ev_dir, 1)
    tpath = os.path.join(root, "table")
    t = create_cdc_table(tpath, BASE_DOCS_SCHEMA, n_buckets=6)
    assert t.partition_spec[0].transform == "bucket_m3"
    pipe = CdcPipeline(spark, tpath, n_salts=2)
    for ep in range(cfg.n_epochs):
        df = spark.read.parquet(os.path.join(ev_dir, f"epoch={ep}"))
        pipe.apply_epoch(df, ep)
        snap = pipe.table.current_snapshot()
        per_bucket: dict[str, int] = {}
        for f in snap.files:
            b = f["partition"]["bucket"]
            per_bucket[b] = per_bucket.get(b, 0) + 1
        # every live bucket holds exactly ONE file: the aligned write puts
        # each bucket's rows in exactly one task, and each merge replaces
        # the affected buckets' previous files
        assert set(per_bucket.values()) == {1}, per_bucket

    assert_state_equals(pipe.read_state(), replay_oracle(tbl.to_pandas()))


def test_pmod_multiple_keeps_alignment(spark):
    """The parallelism guard repartitions into k·n_buckets when the table has
    fewer buckets than cores; pid = pmod(h, k·n) still implies
    pid mod n = pmod(h, n), so each task holds exactly one bucket value."""
    from clin_variant_etl_spark.lake.table import PartitionField

    n, k = 3, 2
    df = spark.range(5000).select(
        F.concat(F.lit("doc-"), F.col("id").cast("string")).alias("doc_id")
    )
    pf = PartitionField("bucket", "doc_id", "bucket_m3", n)
    bad = (
        df.repartition(n * k, "doc_id")
        .select(
            (F.spark_partition_id() % n).alias("pid_mod"),
            pf.expr().cast("int").alias("bucket"),
        )
        .where(F.col("pid_mod") != F.col("bucket"))
        .count()
    )
    assert bad == 0


def test_aligned_replay_few_buckets_wide_cluster(spark):
    """n_buckets below cluster parallelism: the guard widens the merge to
    k·n_buckets tasks; alignment (≤k files per bucket, each file one bucket)
    and exact state both hold."""
    from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
    from clin_variant_etl_spark.engine.oracle import assert_state_equals, replay_oracle
    from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA
    from clin_variant_etl_spark.testgen import (
        EventGenConfig,
        generate_change_events,
        write_events_by_epoch,
    )

    par = spark.sparkContext.defaultParallelism
    n_b = 2
    assert n_b < par
    k = -(-par // n_b)
    root = tempfile.mkdtemp(prefix="aligned_few_")
    cfg = EventGenConfig(n_docs=200, n_events=2500, n_epochs=3, seed=11)
    tbl = generate_change_events(cfg)
    ev_dir = os.path.join(root, "events")
    write_events_by_epoch(tbl, ev_dir, 1)
    tpath = os.path.join(root, "table")
    create_cdc_table(tpath, BASE_DOCS_SCHEMA, n_buckets=n_b)
    pipe = CdcPipeline(spark, tpath, n_salts=2)
    for ep in range(cfg.n_epochs):
        df = spark.read.parquet(os.path.join(ev_dir, f"epoch={ep}"))
        pipe.apply_epoch(df, ep)
    per_bucket: dict[str, int] = {}
    for f in pipe.table.current_snapshot().files:
        b = f["partition"]["bucket"]
        per_bucket[b] = per_bucket.get(b, 0) + 1
    assert per_bucket and all(1 <= c <= k for c in per_bucket.values()), per_bucket
    assert_state_equals(pipe.read_state(), replay_oracle(tbl.to_pandas()))


def test_aligned_partition_count_skew_guard():
    """k widens with the measured hot-bucket share, never narrows, caps at
    parallelism, and leaves near-uniform histograms at the minimal k."""
    from clin_variant_etl_spark.engine.apply import _aligned_partition_count

    # uniform over 32 buckets at par=8: parallelism guard only (k=1)
    assert _aligned_partition_count(32, 8, [100] * 32, 3200) == 32
    # few-bucket table: k = ceil(par / n_buckets)
    assert _aligned_partition_count(2, 8, [500, 500], 1000) == 2 * 4
    # moderate imbalance below 1.5x uniform share: guard stays disarmed
    assert _aligned_partition_count(8, 8, [140] + [123] * 7, 1001) == 8
    # hot bucket with 50% of keys at n=8 (uniform would be 12.5%):
    # k = ceil(8 * 0.5) = 4 so the hot bucket spreads to ~1/par per task
    assert _aligned_partition_count(8, 8, [500] + [72] * 7, 1004) == 8 * 4
    # fully adversarial (everything in one bucket): k caps at parallelism
    assert _aligned_partition_count(8, 8, [1000] + [0] * 7, 1000) == 8 * 8
    # empty epoch: falls back to the parallelism guard
    assert _aligned_partition_count(8, 8, [], 0) == 8


def test_aligned_replay_shuffle_partitions_above_buckets(spark):
    """With ``spark.sql.shuffle.partitions`` above k·n_buckets, Spark would
    re-shuffle the merge join to the session count and each bucket would get
    one file per task.  k is floored at ceil(shuffle_partitions / n_buckets),
    so every epoch still writes exactly k files per touched bucket."""
    from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
    from clin_variant_etl_spark.engine.oracle import assert_state_equals, replay_oracle
    from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA
    from clin_variant_etl_spark.testgen import (
        EventGenConfig,
        generate_change_events,
        write_events_by_epoch,
    )

    n_b, shuffle = 6, 16
    par = spark.sparkContext.defaultParallelism
    k = -(-max(par, shuffle) // n_b)
    root = tempfile.mkdtemp(prefix="aligned_shuffle_")
    cfg = EventGenConfig(n_docs=300, n_events=4000, n_epochs=3, seed=7)
    tbl = generate_change_events(cfg)
    ev_dir = os.path.join(root, "events")
    write_events_by_epoch(tbl, ev_dir, 1)
    tpath = os.path.join(root, "table")
    create_cdc_table(tpath, BASE_DOCS_SCHEMA, n_buckets=n_b)
    pipe = CdcPipeline(spark, tpath, n_salts=2)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle))
    try:
        for ep in range(cfg.n_epochs):
            res = pipe.apply_epoch(spark.read.parquet(os.path.join(ev_dir, f"epoch={ep}")), ep)
            snap = pipe.table.snapshot(res.snapshot_id)
            per_bucket: dict[str, int] = {}
            for f in pipe.table.added_files(snap.snapshot_id, since=snap.parent_id):
                b = f["partition"]["bucket"]
                per_bucket[b] = per_bucket.get(b, 0) + 1
            assert per_bucket and set(per_bucket.values()) == {k}, (ep, per_bucket)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert_state_equals(pipe.read_state(), replay_oracle(tbl.to_pandas()))


def test_skew_guard_spreads_hot_bucket_end_to_end(spark):
    """About 60% of the keys hash into one bucket of a 4-bucket table: the
    measured-skew guard widens the merge to k files for the hot bucket, where
    uniform keys would give k=1, in both apply modes, and the state stays
    exact."""
    from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
    from clin_variant_etl_spark.engine.apply import _aligned_partition_count
    from clin_variant_etl_spark.engine.oracle import assert_state_equals, replay_oracle
    from clin_variant_etl_spark.lake.table import PartitionField
    from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA
    from clin_variant_etl_spark.testgen import (
        EventGenConfig,
        generate_change_events,
        write_events_by_epoch,
    )

    n_b, n_hot, n_cold = 4, 240, 160
    pf = PartitionField("bucket", "doc_id", "bucket_m3", n_b)
    cand = (
        spark.range(4 * (n_hot + n_cold))
        .select(F.concat(F.lit("key_"), F.col("id").cast("string")).alias("doc_id"))
        .select("doc_id", pf.expr().alias("bucket"))
        .toPandas()
    )
    hot = cand[cand.bucket == "0"].doc_id[:n_hot]
    cold = cand[cand.bucket != "0"].doc_id[:n_cold]
    pool = np.concatenate([hot.to_numpy(), cold.to_numpy()])
    bucket_of = dict(zip(cand.doc_id, cand.bucket))

    cfg = EventGenConfig(n_docs=len(pool), n_events=3000, n_epochs=3, hot_key_skew=0, seed=5)
    tbl = generate_change_events(cfg)
    # testgen names key i "doc_<i>": map it onto the i-th key of the pool
    doc_idx = [int(d.removeprefix("doc_")) for d in tbl.column("doc_id").to_pylist()]
    tbl = tbl.set_column(tbl.schema.get_field_index("doc_id"), "doc_id", pa.array(pool[doc_idx]))
    events = tbl.to_pandas()
    par = spark.sparkContext.defaultParallelism
    shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert _aligned_partition_count(n_b, par, [100] * n_b, 100 * n_b, shuffle) == n_b

    root = tempfile.mkdtemp(prefix="aligned_skew_")
    ev_dir = os.path.join(root, "events")
    write_events_by_epoch(tbl, ev_dir, 1)
    for mode in ("cow", "mor"):
        tpath = os.path.join(root, mode)
        create_cdc_table(tpath, BASE_DOCS_SCHEMA, n_buckets=n_b)
        pipe = CdcPipeline(spark, tpath, n_salts=2, apply_mode=mode)
        for ep in range(cfg.n_epochs):
            df = spark.read.parquet(os.path.join(ev_dir, f"epoch={ep}"))
            keys = set(df.select("doc_id").distinct().toPandas().doc_id)
            hist = [sum(bucket_of[d] == str(b) for d in keys) for b in range(n_b)]
            assert hist[0] / len(keys) > 0.55, hist
            k = _aligned_partition_count(n_b, par, hist, len(keys), shuffle) // n_b
            assert k == 3, (mode, ep, hist)
            res = pipe.apply_epoch(df, ep)
            snap = pipe.table.snapshot(res.snapshot_id)
            per_bucket: dict[str, int] = {}
            for f in pipe.table.added_files(snap.snapshot_id, since=snap.parent_id):
                b = f["partition"]["bucket"]
                per_bucket[b] = per_bucket.get(b, 0) + 1
            assert per_bucket["0"] == k, (mode, ep, per_bucket)
            assert max(per_bucket.values()) <= k, (mode, ep, per_bucket)
        assert_state_equals(pipe.read_state(), replay_oracle(events))


def _node_col(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-"))


def _subtree(lines: list[str], i: int) -> list[str]:
    """Line ``i`` of a plan tree string and every line beneath it."""
    col = _node_col(lines[i])
    end = next((j for j in range(i + 1, len(lines)) if _node_col(lines[j]) <= col), len(lines))
    return lines[i:end]


def _children(lines: list[str]) -> list[list[str]]:
    """The subtrees of the root of ``lines``."""
    first = _node_col(lines[1])
    return [_subtree(lines, j) for j in range(1, len(lines)) if _node_col(lines[j]) == first]


def test_mor_epoch_shuffles_each_join_side_once(spark, monkeypatch):
    """At 16 buckets / 8 shuffle partitions (the aligned merge then runs at
    16 partitions, not the session's 8), a mor epoch's write plan shuffles
    each side of the merge join once: the prior-state probe is hash-
    partitioned into the aligned count BEFORE the keep-max-LSN window,
    which reuses that exchange, and the payload is partitioned the same way
    before its per-key ``dropDuplicates``, which with the merge join reuses
    it too.  (The event-side dedup probe is cached; it ran as the epoch's
    first action.)"""
    from clin_variant_etl_spark.engine import CdcPipeline, create_cdc_table
    from clin_variant_etl_spark.engine.oracle import assert_state_equals, replay_oracle
    from clin_variant_etl_spark.lake.table import LakeTable
    from clin_variant_etl_spark.schemas import BASE_DOCS_SCHEMA
    from clin_variant_etl_spark.testgen import (
        EventGenConfig,
        generate_change_events,
        write_events_by_epoch,
    )

    root = tempfile.mkdtemp(prefix="aligned_mor_")
    cfg = EventGenConfig(n_docs=300, n_events=3000, n_epochs=2, seed=7)
    tbl = generate_change_events(cfg)
    write_events_by_epoch(tbl, os.path.join(root, "events"), 1)
    tpath = os.path.join(root, "table")
    create_cdc_table(tpath, BASE_DOCS_SCHEMA, n_buckets=16)
    pipe = CdcPipeline(spark, tpath, n_salts=2, apply_mode="mor")

    plans: list[str] = []
    real = LakeTable.write_data_files

    def spy(self, df, *a, **kw):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(self, df, *a, **kw)

    monkeypatch.setattr(LakeTable, "write_data_files", spy)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        for ep in range(cfg.n_epochs):
            pipe.apply_epoch(spark.read.parquet(os.path.join(root, "events", f"epoch={ep}")), ep)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert_state_equals(pipe.read_state(), replay_oracle(tbl.to_pandas()))

    # epoch 1 is the first with a prior state to resolve
    lines = plans[1].splitlines()
    data = os.path.join(tpath, "data")
    merge = next(
        i for i, ln in enumerate(lines)
        if "Join" in ln and any(data in x for x in _subtree(lines, i))
    )
    sides = _children(_subtree(lines, merge))
    prior = next(s for s in sides if any(data in x for x in s))
    payload = next(s for s in sides if s is not prior)
    cached = next(i for i, ln in enumerate(payload) if "InMemoryRelation" in ln)
    payload = [x for x in payload if x not in _subtree(payload, cached)]

    def shuffles(side):
        return [x.strip(" :+-") for x in side if "Exchange hashpartitioning" in x]

    assert len(shuffles(prior)) == 1, shuffles(prior)
    assert "hashpartitioning(doc_id" in shuffles(prior)[0] and ", 16)" in shuffles(prior)[0]
    assert len(shuffles(payload)) == 1, shuffles(payload)

"""Dedup keep-latest-within-key — the E1 pattern.

The reference's CDC dedup (`KeepFirstWithinPartition(Seq("id"), desc(ingested_on))`,
etl/fhir/FhirRawToNormalizedMappings.scala:14-17) keeps the newest version of
each resource id.  Our key is ``doc_id`` and the order column is ``lsn``.

``latest_by_key_auto`` is the engine's one dedup strategy (``CdcPipeline``
always calls it).  Per epoch it picks one of two order-insensitive,
deterministic plans (SURVEY.md §7.4 rules out the reference's order-unstable
orderBy+dropDuplicates E5 pattern) from the MEASURED winner count:

- ``latest_by_key_join`` — numeric-only winner aggregation + payload join
  with a broadcast winner set: while the winners fit a broadcast the
  payload never shuffles;
- ``latest_by_key_salted`` — two-phase max_by: pre-reduce per (key, salt)
  so a hot key's rows are first reduced in S parallel tasks, then the S
  survivors reduce per key.  One pass over the payload, skew-proof; the
  merge-on-read resolve (``CdcPipeline.read_state``) uses it directly.

See ``latest_by_key_auto``'s docstring for the cost model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def latest_by_key_salted(
    df: DataFrame,
    key: str,
    order_col: str,
    n_salts: int = 8,
    count_col: str | None = None,
    distinct_col: str | None = None,
) -> DataFrame:
    """Two-phase skew-proof keep-max-(order_col) per key.

    Returns one row per key with the winning row's columns.  Optional lineage
    outputs: ``count_col`` = input rows folded into the key (incl. exact
    duplicates), ``distinct_col`` = distinct ``order_col`` values folded
    (so duplicates = count - distinct, superseded = distinct - 1).

    Salting on ``order_col`` keeps the distinct-count exact: equal order
    values always land in the same salt group, so per-salt distinct counts
    sum to the per-key distinct count.
    """
    payload = [c for c in df.columns if c != key]
    salted = df.withColumn("_salt", F.pmod(F.hash(F.col(order_col)), F.lit(n_salts)))
    phase1 = salted.groupBy(key, "_salt").agg(
        F.max_by(F.struct(*payload), F.col(order_col)).alias("_w"),
        F.count(F.lit(1)).alias("_cnt"),
        F.countDistinct(order_col).alias("_dst"),
    )
    phase2 = phase1.groupBy(key).agg(
        F.max_by(F.col("_w"), F.col(f"_w.{order_col}")).alias("_w"),
        F.sum("_cnt").alias("_cnt"),
        F.sum("_dst").alias("_dst"),
    )
    cols = [F.col(key)] + [F.col(f"_w.{c}").alias(c) for c in payload]
    if count_col:
        cols.append(F.col("_cnt").alias(count_col))
    if distinct_col:
        cols.append(F.col("_dst").alias(distinct_col))
    return phase2.select(*cols)


def assert_payload_consistency(df: DataFrame, key: str, order_col: str) -> None:
    """Debug check of the redelivery contract ``same (key, order_col) ⇒
    identical payload`` that makes ``latest_by_key_join``'s final
    ``dropDuplicates([key])`` deterministic: surfaces a corrupt producer
    (same LSN, different bytes) loudly instead of silently picking a winner.
    One extra aggregation job — wire it behind a debug flag, never in the
    hot path."""
    payload = [c for c in df.columns if c not in (key, order_col)]
    bad = (
        df.groupBy(key, order_col)
        .agg(F.countDistinct(F.struct(*payload)).alias("_variants"))
        .where(F.col("_variants") > 1)
        .limit(5)
        .collect()
    )
    if bad:
        examples = [(r[key], r[order_col], r["_variants"]) for r in bad]
        raise ValueError(
            "payload-consistency violation: same (key, lsn) delivered with "
            f"differing payloads (corrupt producer?): {examples}"
        )


def latest_by_key_join(
    df: DataFrame,
    key: str,
    order_col: str,
    count_col: str | None = None,
    distinct_col: str | None = None,
    stats_df: DataFrame | None = None,
    check_payload_consistency: bool = False,
    broadcast_max_rows: int | None = 4_000_000,
    cleanup: list | None = None,
) -> DataFrame:
    """Winner-lsn join variant: same contract as ``latest_by_key_salted``
    but the heavy aggregation never touches the payload.

    Why: ``max_by(struct(payload…))`` carries a variable-width buffer, so
    Catalyst falls back to SortAggregate at every stage — the whole event
    batch gets sorted twice.  Here the winner is found with NUMERIC-only
    aggregates (HashAggregate; the single countDistinct rewrites into a
    (key, lsn) pre-aggregation, so a hot key's rows spread over its distinct
    lsns — skew-safe without explicit salting), and the payload rides ONE
    equi-join on (key, lsn) — also spread by lsn, also skew-safe.  The join
    side scans only the two join columns until the winners match (column
    pruning), so the extra pass is a slim scan, not a second full decode.
    Exact duplicates of the winning event survive the join; the final
    ``dropDuplicates([key])`` is deterministic in content because same
    (key, lsn) implies an identical redelivered payload.

    **Adaptive broadcast** (``broadcast_max_rows``): the winner frame is 4
    narrow columns — when its MEASURED row count (one count job over the
    persisted slim aggregate, pennies next to the payload pass) is at or
    under the threshold, it is broadcast, and the payload side never
    shuffles at all in the dedup: events are hash-probe filtered map-side
    in their source partitioning, so the only payload movement of the whole
    dedup is the ≤1-row-per-key winner set — immune to hot-key skew by
    construction (no shuffle, no hot partition).  Above the threshold
    (10^8-key production epochs, where a broadcast would not fit) the plan
    falls back to the (key, lsn)-spread shuffle join unchanged.  Pass
    ``None`` to disable the count probe entirely.

    ``stats_df``: optionally a different (e.g. ``observe``-instrumented)
    frame for the aggregate branch, so attached observations fire exactly
    once even though the input appears twice in the plan.
    ``cleanup``: when the broadcast probe persists the winner frame, the
    persisted handle is appended here so the caller can unpersist after the
    downstream consumer has materialized.
    """
    if check_payload_consistency:
        assert_payload_consistency(df, key, order_col)
    win = _winner_frame(df, key, order_col, stats_df)
    if broadcast_max_rows is not None:
        win = win.persist()
        if cleanup is not None:
            cleanup.append(win)
        if win.count() <= broadcast_max_rows:
            win = F.broadcast(win)
    return _winner_join_tail(df, win, key, order_col, count_col, distinct_col)


def _winner_frame(df: DataFrame, key: str, order_col: str, stats_df: DataFrame | None):
    """Slim numeric winner aggregate: (key, winning order value, fold count,
    distinct count) — 4 narrow columns, HashAggregate all the way."""
    src = stats_df if stats_df is not None else df
    w = src.groupBy(key).agg(
        F.max(order_col).alias("_win"),
        F.count(F.lit(1)).alias("_cnt"),
        F.countDistinct(order_col).alias("_dst"),
    )
    return w.select(F.col(key), F.col("_win").alias(order_col), "_cnt", "_dst")


def _winner_join_tail(
    df: DataFrame,
    win,
    key: str,
    order_col: str,
    count_col: str | None,
    distinct_col: str | None,
) -> DataFrame:
    out = df.join(win, [key, order_col]).dropDuplicates([key])
    keep = [c for c in df.columns]
    if count_col:
        out = out.withColumn(count_col, F.col("_cnt"))
        keep.append(count_col)
    if distinct_col:
        out = out.withColumn(distinct_col, F.col("_dst"))
        keep.append(distinct_col)
    return out.select(*keep)


def latest_by_key_auto(
    df: DataFrame,
    key: str,
    order_col: str,
    *,
    n_salts: int = 8,
    count_col: str | None = None,
    distinct_col: str | None = None,
    stats_df: DataFrame | None = None,
    check_payload_consistency: bool = False,
    broadcast_max_rows: int | None = 4_000_000,
    cleanup: list | None = None,
    estimate: int | None = None,
    chosen: dict | None = None,
) -> DataFrame:
    """Cost-model selection between the join and salted variants.

    The join variant's advantage is structural ONLY while the winner set
    fits a broadcast: then the payload never shuffles at all (map-side hash
    probe in source partitioning).  Once winners exceed the broadcast
    threshold the join plan degrades to TWO passes over the event batch
    (slim aggregate branch + payload join branch) plus a shuffle of a huge
    winner frame — while the salted two-phase ``max_by`` does ONE pass and
    ONE shuffle.  So the policy pivots on the measured winner count, not on
    configuration:

    1. ``estimate`` (the previous epoch's net-change count, free from
       lineage) > 2× threshold → go salted immediately, skipping the probe
       aggregate entirely (hysteresis factor 2 absorbs epoch-to-epoch
       drift; a shrinking stream re-probes once the estimate halves).
    2. otherwise run the slim winner aggregate and COUNT it (the same probe
       the join variant needs for its broadcast decision anyway):
       winners ≤ threshold → broadcast join (payload unshuffled),
       winners > threshold → salted single-pass over the payload (the probe
       cost is one numeric HashAggregate — pennies next to the payload pass
       it avoids repeating).

    ``chosen`` (optional dict) reports ``variant`` ("join" | "salted"),
    ``probed`` and ``n_winners`` for observability/tests.
    """
    report = chosen if chosen is not None else {}
    if check_payload_consistency:
        assert_payload_consistency(df, key, order_col)
    if (
        estimate is not None
        and broadcast_max_rows is not None
        and estimate > 2 * broadcast_max_rows
    ):
        # history says winners cannot fit a broadcast: single payload pass,
        # stats ride the salted aggregation (no probe job at all)
        report.update({"variant": "salted", "probed": False, "n_winners": None})
        return latest_by_key_salted(
            stats_df if stats_df is not None else df,
            key,
            order_col,
            n_salts,
            count_col=count_col,
            distinct_col=distinct_col,
        )
    if broadcast_max_rows is None:
        # probe disabled: shuffle join, same as latest_by_key_join(None)
        report.update({"variant": "join", "probed": False, "n_winners": None})
        win = _winner_frame(df, key, order_col, stats_df)
        return _winner_join_tail(df, win, key, order_col, count_col, distinct_col)
    win = _winner_frame(df, key, order_col, stats_df).persist()
    if cleanup is not None:
        cleanup.append(win)
    n_winners = win.count()
    if n_winners <= broadcast_max_rows:
        report.update({"variant": "join", "probed": True, "n_winners": n_winners})
        return _winner_join_tail(
            df, F.broadcast(win), key, order_col, count_col, distinct_col
        )
    # winners won't fit a broadcast — salted single pass over the payload.
    # The probe job already fired any observation attached to ``stats_df``,
    # so the salted pass runs over the raw frame (metrics are not re-billed).
    report.update({"variant": "salted", "probed": True, "n_winners": n_winners})
    return latest_by_key_salted(
        df, key, order_col, n_salts, count_col=count_col, distinct_col=distinct_col
    )

"""Dedup keep-latest-within-key — the E1 pattern.

The reference's CDC dedup (`KeepFirstWithinPartition(Seq("id"), desc(ingested_on))`,
etl/fhir/FhirRawToNormalizedMappings.scala:14-17) keeps the newest version of
each resource id.  Our key is ``doc_id`` and the order column is ``lsn``.

``latest_by_key_auto`` is the engine's one dedup strategy (``CdcPipeline``
always calls it).  Its one Spark action is the PROBE: the slim numeric winner
aggregate (``_winner_frame``: key, winning lsn, distinct-lsn count — the one
countDistinct pre-aggregates on (key, lsn), so a hot key's rows spread over
its distinct lsns) is persisted and grouped by the caller's bucket
expression in a single ``collect``.  That histogram is everything the apply
needs before it writes: the winner count that picks the payload plan, the
affected buckets and their key counts, Σ distinct (key, lsn) for the lineage
arithmetic, and (via ``observe``) the source stats.

The payload pass is built afterwards (``WinnerProbe.payload``), once the
caller knows its partition count, and runs inside the caller's write — one
of two order-insensitive, deterministic plans (SURVEY.md §7.4 rules out the
reference's order-unstable orderBy+dropDuplicates E5 pattern):

- the broadcast join — while the measured winner set fits
  ``broadcast_max_rows``, the payload rides ONE map-side equi-join on
  (key, lsn) against the broadcast winners (skew-immune, no shuffle of the
  events), then ``dropDuplicates([key])`` drops exact redeliveries of the
  winner.  ``max_by(struct(payload…))`` instead would fall back to
  SortAggregate and sort the whole batch;
- ``latest_by_key_salted`` — two-phase max_by: pre-reduce per (key, salt)
  so a hot key's rows are first reduced in S parallel tasks, then the S
  survivors reduce per key.  One pass over the payload, skew-proof.  Event
  dedup needs the salt (a hot key may repeat many times in one batch);
  table reads do not, and resolve with ``lake.table.keep_latest``.

Either plan hash-partitions on the key into the caller's ``n_parts`` BEFORE
its per-key reduction, so a bucket-aligned merge join reuses that exchange:
the payload shuffles once per epoch.  See ``latest_by_key_auto``'s docstring
for the cost model.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def latest_by_key_salted(
    df: DataFrame,
    key: str,
    order_col: str,
    n_salts: int = 8,
    n_parts: int | None = None,
) -> DataFrame:
    """Two-phase skew-proof keep-max-(order_col) per key: one row per key
    with the winning row's columns.

    Salting on ``order_col`` keeps equal order values (exact redeliveries)
    in the same salt group.  ``n_parts``: hash-partition the per-(key, salt)
    survivors on the key into that many partitions before the per-key
    reduction, so a consumer partitioned the same way (the aligned merge
    join) needs no exchange of its own.
    """
    payload = [c for c in df.columns if c != key]
    salted = df.withColumn("_salt", F.pmod(F.hash(F.col(order_col)), F.lit(n_salts)))
    phase1 = salted.groupBy(key, "_salt").agg(
        F.max_by(F.struct(*payload), F.col(order_col)).alias("_w")
    )
    if n_parts:
        phase1 = phase1.repartition(n_parts, key)
    phase2 = phase1.groupBy(key).agg(F.max_by(F.col("_w"), F.col(f"_w.{order_col}")).alias("_w"))
    return phase2.select(F.col(key), *[F.col(f"_w.{c}").alias(c) for c in payload])


def assert_payload_consistency(df: DataFrame, key: str, order_col: str) -> None:
    """Debug check of the redelivery contract ``same (key, order_col) ⇒
    identical payload`` that makes the join plan's final
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


def _winner_frame(src: DataFrame, key: str, order_col: str) -> DataFrame:
    """Slim numeric winner aggregate: (key, winning order value, distinct
    order values folded) — HashAggregate all the way."""
    return src.groupBy(key).agg(
        F.max(order_col).alias(order_col), F.countDistinct(order_col).alias("_dst")
    )


class WinnerProbe:
    """What ``latest_by_key_auto``'s one action measured, and the builder of
    the payload pass it chose.

    - ``buckets``: bucket value → winner (net key) count;
    - ``n_winners``: keys in the batch (one winner each);
    - ``n_pairs``: Σ distinct (key, lsn) — events minus this are exact
      redeliveries, this minus ``n_winners`` are superseded in-batch;
    - ``variant``: ``"join"`` (broadcast winners) or ``"salted"``.

    The winner frame stays persisted until ``unpersist()``; call it after
    the payload's consumer has run.
    """

    def __init__(self, df, win, key, order_col, n_salts, variant, buckets, n_winners, n_pairs):
        self._df, self._win = df, win
        self._key, self._order, self._n_salts = key, order_col, n_salts
        self.variant = variant
        self.buckets = buckets
        self.n_winners = n_winners
        self.n_pairs = n_pairs

    def payload(self, n_parts: int | None = None) -> DataFrame:
        """One row per key: the winning event, with ``df``'s columns.
        ``n_parts``: hash-partition on the key into that many partitions
        before the per-key reduction (see ``latest_by_key_salted``)."""
        df, key = self._df, self._key
        if self.variant == "salted":
            return latest_by_key_salted(df, key, self._order, self._n_salts, n_parts=n_parts)
        out = df.join(F.broadcast(self._win.select(key, self._order)), [key, self._order])
        if n_parts:
            out = out.repartition(n_parts, key)
        # exact redeliveries of the winner survive the join; same (key, lsn)
        # implies an identical payload, so the pick is deterministic
        return out.dropDuplicates([key]).select(*df.columns)

    def unpersist(self) -> None:
        self._win.unpersist()


def latest_by_key_auto(
    df: DataFrame,
    key: str,
    order_col: str,
    *,
    bucket_expr=None,
    n_salts: int = 8,
    stats_df: DataFrame | None = None,
    check_payload_consistency: bool = False,
    broadcast_max_rows: int = 4_000_000,
) -> WinnerProbe:
    """Run the dedup probe (ONE Spark action) and pick the payload plan.

    The probe always runs — it is the caller's bucket histogram — and the
    plan follows THIS batch's measured winner count:

    - winners ≤ ``broadcast_max_rows`` → broadcast join: the payload is
      read once more and never shuffles before the caller's own partitioning;
    - winners > ``broadcast_max_rows`` → salted single pass over the
      payload; a broadcast of that many winners would not fit, and a
      shuffle join would shuffle the events AND a huge winner frame.  This
      path scans the events twice (probe, then payload), where a salted-only
      pass would scan them once; it is the price of the histogram and has
      not been measured at a winner count above the default threshold.

    ``bucket_expr``: the histogram's grouping expression, a function of
    the key (the winner frame holds key and ``order_col``); ``None`` = one
    bucket.  ``stats_df``: the same rows as ``df``, optionally
    ``observe``-instrumented: the probe aggregates it, so attached
    observations fire exactly once, on the probe; the payload pass reads
    ``df``.
    """
    if check_payload_consistency:
        assert_payload_consistency(df, key, order_col)
    src = stats_df if stats_df is not None else df
    win = _winner_frame(src, key, order_col).persist()
    b = bucket_expr if bucket_expr is not None else F.lit("0")
    try:
        rows = (
            win.groupBy(b.alias("_b"))
            .agg(F.count(F.lit(1)).alias("_n"), F.sum("_dst").alias("_d"))
            .collect()
        )
    except BaseException:
        win.unpersist()
        raise
    buckets = {r["_b"]: r["_n"] for r in rows}
    n_winners = sum(buckets.values())
    return WinnerProbe(
        df, win, key, order_col, n_salts,
        "join" if n_winners <= broadcast_max_rows else "salted",
        buckets, n_winners, sum(r["_d"] for r in rows),
    )

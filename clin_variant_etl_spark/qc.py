"""Post-deploy QC runner — standalone invariant checks against live tables.

Reference: the qc suite's helper API ``shouldBeEmpty`` / ``shouldNotContainNull``
/ ``handleErrors`` (here ``should_not_contain_null``,
``should_not_contain_duplicates`` and ``handle_errors``; ``shouldBeEmpty`` is
the contract every check returns) and its one-invariant-per-app structure
(etl/qc/TestingApp.scala:116-199; non-duplication:
etl/qc/variantlist/NonDuplicationSNV.scala:10-16; exact frequency
recomputation: etl/qc/frequency/RQDMTotal.scala:11-30).

Each check returns an *offending-rows* DataFrame that must be empty.  The
runner collects at most ``max_examples+1`` offenders per check (a LIMIT, so
a clean check does one bounded scan and moves on; the exact offender count
is only computed once a check is already known to fail), runs EVERY check
rather than short-circuiting, and ``handle_errors`` raises one aggregate
``QCError`` listing all broken invariants with example rows.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F


class QCError(AssertionError):
    """One or more QC invariants failed."""


@dataclass
class CheckResult:
    name: str
    passed: bool
    n_offending: int
    examples: list[dict] = field(default_factory=list)


def should_not_contain_null(df: DataFrame, *cols: str) -> DataFrame:
    cond = None
    for c in cols:
        x = F.col(c).isNull()
        cond = x if cond is None else (cond | x)
    return df.where(cond)


def sample_rows(df: DataFrame, fraction: float, seed: int = 42) -> DataFrame:
    """Seeded row sampling for expensive per-row QC over huge tables
    (reference: rand()-based QC sampling, etl/qc/TestingApp.scala:40)."""
    return df.where(F.rand(seed) < fraction)


def should_not_contain_duplicates(df: DataFrame, *keys: str) -> DataFrame:
    """Rows whose key occurs more than once (the non-duplication invariant,
    NonDuplicationSNV.scala:10-16)."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("n_copies"))
        .where(F.col("n_copies") > 1)
    )


def run_checks(
    checks: dict[str, Callable[[], DataFrame]], max_examples: int = 5
) -> list[CheckResult]:
    """Execute every check; never short-circuits (a QC run reports ALL
    broken invariants, TestingApp.handleErrors semantics)."""
    results = []
    for name, mk in checks.items():
        offending = mk()
        rows = offending.limit(max_examples + 1).collect()
        n = len(rows)
        if n > max_examples:
            # only count precisely when something is wrong
            n = offending.count()
        results.append(
            CheckResult(
                name=name,
                passed=n == 0,
                n_offending=n,
                examples=[r.asDict(recursive=True) for r in rows[:max_examples]],
            )
        )
    return results


def handle_errors(results: list[CheckResult]) -> None:
    bad = [r for r in results if not r.passed]
    if bad:
        lines = [f"{r.name}: {r.n_offending} offending rows, e.g. {r.examples[:2]}" for r in bad]
        raise QCError("QC failed:\n" + "\n".join(lines))


def cdc_table_checks(spark: SparkSession, pipeline) -> dict[str, Callable[[], DataFrame]]:
    """The standard invariant suite for a CDC target table + its epoch log."""
    state = pipeline.read_state

    def no_dup_keys():
        return should_not_contain_duplicates(state(), pipeline.key_col)

    def no_null_keys():
        return should_not_contain_null(state(), pipeline.key_col)

    def token_count_consistent():
        df = state()
        if "tokens" not in df.columns or "n_tok" not in df.columns:
            return df.limit(0)
        return df.where(
            F.col("tokens").isNotNull() & (F.size("tokens") != F.col("n_tok"))
        )

    # the epoch log is driver-side (one summary per retained snapshot), so
    # these two checks build their offending rows locally
    def lineage_conserves_events():
        """applied + dropped == events_in per epoch (snapshot summaries)."""
        parts = ("applied_inserts", "applied_updates", "applied_deletes",
                 "dropped_duplicates", "dropped_stale")
        totals = [
            (e["epoch_id"], e["event_count"], sum(e[k] for k in parts))
            for e in pipeline.epoch_log()
        ]
        return spark.createDataFrame(
            [t for t in totals if t[1] != t[2]],
            "epoch_id long, event_count long, applied_plus_dropped long",
        )

    def checkpoint_epochs_contiguous():
        """Each retained epoch record follows its predecessor's epoch id."""
        ids = [e["epoch_id"] for e in pipeline.epoch_log()]
        return spark.createDataFrame(
            [(cur, prev) for prev, cur in zip(ids, ids[1:]) if cur != prev + 1],
            "epoch_id long, prev_epoch_id long",
        )

    return {
        "non_duplication_by_key": no_dup_keys,
        "no_null_keys": no_null_keys,
        "token_count_consistent": token_count_consistent,
        "lineage_conserves_events": lineage_conserves_events,
        "checkpoint_epochs_contiguous": checkpoint_epochs_contiguous,
    }


def run_cdc_qc(spark: SparkSession, pipeline, raise_on_failure: bool = True) -> list[CheckResult]:
    results = run_checks(cdc_table_checks(spark, pipeline))
    if raise_on_failure:
        handle_errors(results)
    return results

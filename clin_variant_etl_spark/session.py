"""SparkSession factory with the engine's canonical configuration.

Mirrors the intent of the reference's global spark conf
(reference: etl/conf/EtlConfiguration.scala:43-54):

- explicit broadcast policy: the reference disables auto-broadcast
  (autoBroadcastJoinThreshold=-1) because its rows are huge nested structs and
  every broadcast is a deliberate `broadcast(df)` call.  Our rows (token arrays)
  are bounded, so we keep auto-broadcast ON but still broadcast dimensions
  explicitly in operators; AQE converts to broadcast at runtime when sizes allow.
- merge pre-shuffle: the reference sets delta.merge.repartitionBeforeWrite=true;
  our MERGE repartitions by bucket explicitly (lake/table.py).
- corrected time parsing, UTC session TZ (duckdb-oracle comparability).
- Arrow on for all pandas-UDF paths (zero per-row Python, north_star rule).
- AQE on, incl. skew-join handling, on top of our explicit salting.
- file split sizing (maxPartitionBytes / openCostInBytes) stays at Spark's
  defaults; set it per session through ``extra_conf`` when needed.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def parse_extra_conf(raw: str) -> dict[str, str]:
    """Parse the ``SPARK_GRAFT_EXTRA_CONF`` env format: ``k=v;k2=v2``.

    Whitespace around keys/values is stripped; empty segments (trailing
    ``;``) are ignored; a segment without ``=`` maps the key to ``""``
    (flag-style confs); the LAST occurrence of a repeated key wins (same
    rule as repeated ``--conf`` on spark-submit)."""
    out: dict[str, str] = {}
    for pair in filter(None, (p.strip() for p in raw.split(";"))):
        k, _, v = pair.partition("=")
        out[k.strip()] = v.strip()
    return out


def build_session(
    app_name: str = "clin_variant_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the canonical SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env) or ``local[*]``.
    On a real cluster this would come from spark-submit; all other settings
    are cluster-size independent.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime row-level bloom pushdown stays at Spark's default (off):
        # measured at the bench contract it costs 15-25% on the hot joins
        # (dedup_simhash 1.38->1.66 s, embed_cosine_pairs_lsh 1.34->1.66 s
        # warm, same window A/B) because this engine's joins already shrink
        # their probe sides explicitly (band/bucket caps, semi-joins,
        # broadcast winners) — the injected bloom re-filters rows those
        # shapes have already bounded.  The CDC apply leg is a wash under it
        # (249.5k ev/s off vs 241.2k on, same-window A/B — the LSN-guarded
        # full-outer merge keeps both sides, so a semi-filter cannot help).
        # On a cluster with genuinely unbounded probe sides enable it
        # per-session via extra_conf / SPARK_GRAFT_EXTRA_CONF.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # reference parity: map duplicate keys keep-last
        # (etl/conf/EtlConfiguration.scala:50)
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # reference parity: corrected (proleptic-Gregorian) time handling
        # (etl/conf/EtlConfiguration.scala:48-49)
        .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
        .config("spark.sql.parquet.datetimeRebaseModeInWrite", "CORRECTED")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
        # Python-worker allocator posture: keep freed arena pages RESIDENT
        # (no trim, no mmap for big buffers) and route Arrow through the
        # system allocator so the same policy applies.  On lazily-backed VM
        # memory (userfaultfd/ballooned guests — this sandbox measured
        # first-touch page faults at ~5 MB/s vs GB/s for re-touched pages, a
        # 400× swing) an allocator that returns pages to the OS re-pays the
        # first-touch cost on EVERY batch; pooled pages pay it once.  On
        # normally-backed hosts these are harmless — the workers simply keep
        # their high-water arena, which steady-state executors do anyway.
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "-1")
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "17179869184")
        .config("spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL", "system")
    )
    # deployment/bench escape hatch: SPARK_GRAFT_EXTRA_CONF="k=v;k2=v2"
    # applies arbitrary confs without a code change (spark-submit --conf
    # analogue for the in-process entry points); explicit extra_conf wins.
    # NOTE: like every conf here, only effective on the session that
    # actually creates the JVM — getOrCreate ignores confs on reuse.
    for k, v in parse_extra_conf(os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")).items():
        builder = builder.config(k, v)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark

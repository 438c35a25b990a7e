"""Similarity search over the ``embeddings`` table (``array<float>``).

Exactness strategy: both Spark and the DuckDB oracle compute dot products as
the SAME sequential left fold over doubles (Spark ``F.aggregate`` ≡ DuckDB
``list_reduce``), so scores are bitwise identical — thresholds and rank
orderings need no tolerance.

Scale story (100 TB / 10^9 vectors):
- brute-force top-k is the correctness baseline: a broadcast of the (small)
  query set against a full scan of the corpus — one shuffle for the per-query
  top-k aggregation;
- the LSH path buckets vectors by random-hyperplane signs; candidate
  generation becomes an equi-join on (bucket), i.e. shuffle ∝ bucket size,
  not corpus², with skewed buckets handled by the same salting machinery as
  the CDC merge (engine/dedup.py).
Hyperplanes use small-integer weights (a deterministic, platform-portable
stand-in for Gaussian planes): plane p, dim i → ((i+1)*31 + p*17) % 7 - 3.
"""

import numpy as np
import pandas as pd
from pyspark.sql import Window as W, functions as F

from .caps import cap_buckets_fused
from .registry import load, query

N_PLANES = 8
N_QUERIES = 20
TOP_K = 3
COSINE_THRESHOLD = 0.4


def _dot_fold_sql(a: str, b: str, n: int = 64) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, {n}), "
        f"i -> {a}[i] * {b}[i])), (x, y) -> x + y)"
    )


def _norm(a):
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot_pandas_udf():
    """Arrow-vectorized dot product with the SAME left-fold order as the
    Catalyst `F.aggregate` fold and DuckDB `list_reduce` — the accumulation
    loops over DIMENSIONS (64 iterations of whole-column numpy ops), so each
    row computes ((0 + x₁y₁) + x₂y₂)… in IEEE doubles, bitwise identical to
    the oracle, at numpy speed instead of interpreted-HOF speed (~50×).

    Defined as a factory returning a locally-created UDF so cloudpickle
    serializes it by value — executors don't need this repo on sys.path
    (numpy/pandas are imported inside the UDF body on the worker).
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def dot(a: pd.Series, b: pd.Series) -> pd.Series:
        if len(a) == 0:
            return pd.Series([], dtype="float64")
        A = np.stack(a.to_numpy())
        B = np.stack(b.to_numpy())
        acc = np.zeros(A.shape[0], dtype=np.float64)
        for i in range(A.shape[1]):
            acc = acc + A[:, i] * B[:, i]
        return pd.Series(acc)

    return dot


# =========================================================================
# Near-duplicate pairs by embedding cosine ≥ threshold (brute force at sf
# scale; the LSH bucket query below is the 100 TB candidate-generation path).
# =========================================================================
@query(
    "embed_cosine_pairs",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
     n AS (SELECT vec_id, v,
                  sqrt({_dot_fold_sql("v", "v")}) AS nrm
           FROM e)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_dot_fold_sql("a.v", "b.v")} / (a.nrm * b.nrm) AS cosine
FROM n a JOIN n b ON a.vec_id < b.vec_id
WHERE {_dot_fold_sql("a.v", "b.v")} / (a.nrm * b.nrm) >= {COSINE_THRESHOLD}
""",
    survey="sim-cosine-dup,C2,H-array,I3",
    # labeled all-pairs correctness baseline — the gated scale path is
    # embed_cosine_pairs_lsh; suite-only keeps a driver slot free
    gate=False,
)
def embed_cosine_pairs(spark, sf_dir):
    dot = _dot_pandas_udf()
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # norms once per vector (500-5000 rows), pairs via the vectorized UDF
    n = e.select("vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"))
    a, b = n.alias("a"), n.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cosine"),
        )
        .where(F.col("cosine") >= COSINE_THRESHOLD)
    )


# =========================================================================
# Brute-force cosine top-k ANN baseline: query set (vec_id < N_QUERIES)
# broadcast against the corpus; deterministic rank (score desc, id asc).
# =========================================================================
@query(
    "ann_topk_bruteforce",
    oracle=f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
     n AS (SELECT vec_id, v, sqrt({_dot_fold_sql("v", "v")}) AS nrm FROM e),
     q AS (SELECT * FROM n WHERE vec_id < {N_QUERIES}),
     scored AS (
       SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
              {_dot_fold_sql("q.v", "c.v")} / (q.nrm * c.nrm) AS cosine
       FROM q JOIN n c ON c.vec_id <> q.vec_id
     )
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rk
FROM scored
QUALIFY rk <= {TOP_K}
""",
    survey="sim-ann-topk,C1,E2,D6",
    gate=False,  # rotated out r5: driver rows green r1-r4; codes stay gate-covered
)
def ann_topk_bruteforce(spark, sf_dir):
    dot = _dot_pandas_udf()
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    n = e.select("vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"))
    q = n.where(F.col("vec_id") < N_QUERIES)
    scored = (
        F.broadcast(
            q.select(
                F.col("vec_id").alias("query_id"),
                F.col("v").alias("qv"),
                F.col("nrm").alias("qn"),
            )
        )
        .join(n.alias("c"), F.col("c.vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("c.vec_id").alias("neighbor_id"),
            (dot(F.col("qv"), F.col("c.v")) / (F.col("qn") * F.col("c.nrm"))).alias("cosine"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= TOP_K)
    )


# =========================================================================
# LSH bucketing (random-hyperplane signs): the scale path for candidate
# generation — join on bucket instead of corpus².  Planes are deterministic
# integer weights; sign bit = fold(dot) > 0 (bitwise-identical both sides).
# =========================================================================
def _plane_dot_sql(p: int) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64), "
        f"i -> v[i] * CAST((((i) * 31 + {p} * 17) % 7) - 3 AS DOUBLE))), (x, y) -> x + y)"
    )


_bucket_sql = " + ".join(
    f"CASE WHEN {_plane_dot_sql(p)} > 0 THEN {1 << p} ELSE 0 END" for p in range(N_PLANES)
)

_LSH_ORACLE = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
     bucketed AS (
       SELECT vec_id, CAST({_bucket_sql} AS BIGINT) AS bucket FROM e
     )
SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(MIN(vec_id) AS BIGINT) AS min_vec_id,
       CAST(COUNT(*) * (COUNT(*) - 1) / 2 AS BIGINT) AS n_candidate_pairs
FROM bucketed
GROUP BY bucket
"""


def _bucket_pandas_udf():
    """Arrow-vectorized hyperplane bucket: for each plane the dot product is
    the SAME left fold over dimensions as the oracle's ``list_reduce`` (acc
    starts at 0.0, adds v[i]*w[i] in dimension order, IEEE doubles), so the
    sign bits — and the bucket — are bitwise identical to the JVM-HOF fold
    and the DuckDB oracle.  ~50× the interpreted-HOF evaluation speed, which
    matters because the bucketed frame feeds several plan branches (count
    cap + both pair-join sides)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def bucket(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="int64")
        V = np.stack(v.to_numpy())
        n_dims = V.shape[1]
        out = np.zeros(V.shape[0], dtype=np.int64)
        for p in range(N_PLANES):
            # weight(i) = ((i*31 + p*17) % 7) - 3 for 1-indexed dimension i
            w = ((np.arange(1, n_dims + 1) * 31 + p * 17) % 7 - 3).astype(np.float64)
            acc = np.zeros(V.shape[0], dtype=np.float64)
            for i in range(n_dims):
                acc = acc + V[:, i] * w[i]
            out |= (acc > 0).astype(np.int64) << p
        return pd.Series(out)

    return bucket


def _bucketed(spark, sf_dir):
    """vec_id, v, bucket — hyperplane-sign LSH bucket per vector (shared by
    the bucket-stats query and the candidate-pair rescoring query)."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    bucket = _bucket_pandas_udf()
    return e.select("vec_id", "v", bucket(F.col("v")).alias("bucket"))


@query(
    "ann_lsh_buckets",
    oracle=_LSH_ORACLE,
    survey="sim-ann-lsh,D1,H-array,I3",
    # rotated out mid-r4 (driver rows green r01-r03; sim-LSH family stays
    # gated via embed_cosine_pairs_lsh, H-array/I3 via embedding_array_stats)
    # to free a slot for dedup_clusters — see __spark_entry__.py rotation table
    gate=False,
)
def ann_lsh_buckets(spark, sf_dir):
    bucketed = _bucketed(spark, sf_dir).select("vec_id", "bucket")
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.min("vec_id").cast("long").alias("min_vec_id"),
        F.floor(F.count(F.lit(1)) * (F.count(F.lit(1)) - 1) / 2).cast("long").alias(
            "n_candidate_pairs"
        ),
    )


# =========================================================================
# Banded LSH candidates → exact cosine rescore: the END-TO-END scale path
# for near-dup pair mining.  A single 8-plane bucket misses any near pair
# differing in one sign bit, so the query unions N_BANDS independent plane
# sets (the minhash banding shape, textops.py): a pair is a candidate if it
# collides in ANY band.  Candidate generation is an equi-join on
# (band, bucket) — shuffle ∝ Σ_band Σ bucket², never corpus²; each candidate
# is rescored with the exact vectorized dot product, thresholded, and
# de-duplicated across bands (the cosine is deterministic per pair, so
# DISTINCT is exact on both sides).  This demotes `embed_cosine_pairs`
# (all-pairs theta-join) to a labeled correctness baseline — at 10^9
# vectors only this query is runnable.  Band 0 is the round-3 single-band
# signature; bands 1+ are recall probes (tests/test_banded_lsh.py measures
# recall vs the all-pairs baseline).
# =========================================================================
N_BANDS = 4
# per-band dimension multiplier (band 0 = the round-3 single-band signature).
# The weight family ((i*A + p*17) % 7) - 3 is periodic in i with period 7, so
# a mere additive band offset would PERMUTE the same 7 plane vectors across
# bit positions — identical bucket partitions, zero extra recall.  Distinct
# multipliers (mod 7: 3, 1, 2, 5) regroup the dimensions into different
# residue classes, i.e. genuinely different hyperplanes per band.
_BAND_MULTS = (31, 29, 23, 19)


def _band_plane_dot_sql(p: int, b: int) -> str:
    return (
        f"list_reduce(list_prepend(0.0, list_transform(generate_series(1, 64), "
        f"i -> v[i] * CAST((((i) * {_BAND_MULTS[b]} + {p} * 17) % 7) - 3 AS DOUBLE))), "
        f"(x, y) -> x + y)"
    )


def _band_bucket_sql(b: int) -> str:
    return " + ".join(
        f"CASE WHEN {_band_plane_dot_sql(p, b)} > 0 THEN {1 << p} ELSE 0 END"
        for p in range(N_PLANES)
    )


def _banded_lsh_oracle() -> str:
    bands_union = "\n       UNION ALL ".join(
        f"SELECT vec_id, v, nrm, {b} AS band, CAST({_band_bucket_sql(b)} AS BIGINT) AS bucket FROM n"
        for b in range(N_BANDS)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
     n AS (SELECT vec_id, v, sqrt({_dot_fold_sql("v", "v")}) AS nrm FROM e),
     bands AS (
       {bands_union}
     )
SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_dot_fold_sql("a.v", "b.v")} / (a.nrm * b.nrm) AS cosine
FROM bands a JOIN bands b
  ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {_dot_fold_sql("a.v", "b.v")} / (a.nrm * b.nrm) >= {COSINE_THRESHOLD}
"""


def _band_buckets_pandas_udf():
    """Arrow-vectorized banded hyperplane signatures: ``array<long>`` of
    N_BANDS buckets per vector.  Each plane's dot product is the SAME left
    fold over dimensions as the oracle's ``list_reduce`` (acc starts at 0.0,
    adds v[i]*w[i] in dimension order, IEEE doubles), so all sign bits — and
    every band bucket — are bitwise identical to the DuckDB oracle.  The 8
    planes of a band fold together (one 64-iteration loop over dimensions
    updating an (n_rows, 8) accumulator)."""
    from pyspark.sql.functions import pandas_udf

    mults = tuple(_BAND_MULTS)  # closure-captured by value (cloudpickle)
    n_bands, n_planes = N_BANDS, N_PLANES

    @pandas_udf("array<long>")
    def band_buckets(v: pd.Series) -> pd.Series:
        if len(v) == 0:
            return pd.Series([], dtype="object")
        V = np.stack(v.to_numpy())
        n_rows, n_dims = V.shape
        out = np.zeros((n_rows, n_bands), dtype=np.int64)
        dims = np.arange(1, n_dims + 1)
        powers = (1 << np.arange(n_planes)).astype(np.int64)
        for b in range(n_bands):
            # W[i, p] = ((i*MULT_b + p*17) % 7) - 3 for 1-indexed dim i
            W = ((dims[:, None] * mults[b] + np.arange(n_planes)[None, :] * 17) % 7 - 3).astype(
                np.float64
            )
            acc = np.zeros((n_rows, N_PLANES), dtype=np.float64)
            for i in range(n_dims):
                acc = acc + V[:, i : i + 1] * W[i]
            out[:, b] = ((acc > 0) * powers).sum(axis=1)
        return pd.Series(list(out))

    return band_buckets


@query(
    "embed_cosine_pairs_lsh",
    oracle=_banded_lsh_oracle(),
    survey="sim-cosine-dup,sim-ann-lsh,C2,I3",
    gate=False,  # rotated out r5: driver rows green r1-r4; codes stay gate-covered
)
def embed_cosine_pairs_lsh(spark, sf_dir):
    dot = _dot_pandas_udf()
    bb = _band_buckets_pandas_udf()
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # signatures + norms materialized ONCE (localCheckpoint — blocks are
    # reclaimed by the context cleaner); the cap count and both pair-join
    # sides re-derive the exploded (band, bucket) rows from these blocks
    # without re-running either UDF (the r3 lesson from dedup_minhash_lsh).
    n = e.select(
        "vec_id",
        "v",
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"),
        bb(F.col("v")).alias("_bands"),
    ).localCheckpoint(eager=True)
    # candidate generation is SLIM: only (vec_id, band, bucket) rides the
    # band exchange — the 64-double payload never shuffles with the explode
    # (4 bands would otherwise ship every vector 4×).  Pairs are then
    # DISTINCT'd across bands BEFORE rescoring, so a pair colliding in k
    # bands pays the exact dot product once, not k times; the payload is
    # re-attached per side by a vec_id equi-join against the checkpointed
    # signature blocks (ONE corpus-sized shuffle per side — or a broadcast
    # when the corpus fits — instead of 4× through the band join).
    ex = n.select("vec_id", F.posexplode("_bands").alias("band", "bucket"))
    # bound pair fan-out: over-cap (band, bucket) groups are dropped pre-join —
    # window-fused: the pair join must shuffle these rows on (band, bucket)
    # anyway, so the cap rides that exchange instead of adding a count job
    ex = cap_buckets_fused(ex, ["band", "bucket"])
    a, c = ex.alias("a"), ex.alias("b")
    pairs = (
        a.join(
            c,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    va = n.select(
        F.col("vec_id").alias("vec_a"), F.col("v").alias("_va"), F.col("nrm").alias("_na")
    )
    vb = n.select(
        F.col("vec_id").alias("vec_b"), F.col("v").alias("_vb"), F.col("nrm").alias("_nb")
    )
    cos = dot(F.col("_va"), F.col("_vb")) / (F.col("_na") * F.col("_nb"))
    return (
        pairs.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .where(F.col("cosine") >= COSINE_THRESHOLD)
    )


# =========================================================================
# IVF-flat ANN: the inverted-file scale path (coarse quantizer → probe the
# nprobe nearest lists → exact rescore inside them).  The quantizer is a
# deterministic seed-sample (centroids = the first IVF_K corpus vectors —
# the k-means++ bootstrap step, kept un-iterated so the DuckDB oracle is
# exact).  Plan shape at 10^9 vectors:
# - assignment: ONE corpus scan against 16 broadcast centroids, reduced by
#   groupBy(vec)+max_by — HashAggregate, no sort window, no shuffle of v
#   beyond the assignment reduce;
# - search: the (queries × nprobe) probe table is broadcast; candidates are
#   the probed lists only (~nprobe/K of the corpus per query), rescored
#   exactly and top-k'd — candidate volume ∝ nprobe/K, never corpus².
# Complements ann_lsh_buckets: IVF partitions by global geometry (good for
# clustered corpora), LSH by random projections (good for uniform ones).
# =========================================================================
IVF_K = 16
IVF_NPROBE = 4


def _ivf_oracle() -> str:
    dot_nc = _dot_fold_sql("n.v", "c.cv")
    dot_qc = _dot_fold_sql("q.qv", "c.cv")
    dot_pa = _dot_fold_sql("p.qv", "a.v")
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
     n AS (SELECT vec_id, v, sqrt({_dot_fold_sql("v", "v")}) AS nrm FROM e),
     c AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n WHERE vec_id < {IVF_K}),
     ascore AS (SELECT n.vec_id, n.v, n.nrm, c.cid,
                       {dot_nc} / (n.nrm * c.cn) AS cs
                FROM n CROSS JOIN c),
     assign AS (SELECT vec_id, v, nrm, cid FROM (
                  SELECT *, row_number() OVER (PARTITION BY vec_id
                            ORDER BY cs DESC, cid ASC) AS crn FROM ascore)
                WHERE crn = 1),
     q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
           WHERE vec_id < {N_QUERIES}),
     pscore AS (SELECT q.query_id, q.qv, q.qn, c.cid,
                       {dot_qc} / (q.qn * c.cn) AS cs
                FROM q CROSS JOIN c),
     probe AS (SELECT query_id, qv, qn, cid FROM (
                 SELECT *, row_number() OVER (PARTITION BY query_id
                           ORDER BY cs DESC, cid ASC) AS prn FROM pscore)
               WHERE prn <= {IVF_NPROBE}),
     cand AS (SELECT p.query_id, a.vec_id AS neighbor_id,
                     {dot_pa} / (p.qn * a.nrm) AS cosine
              FROM probe p JOIN assign a
                ON a.cid = p.cid AND a.vec_id <> p.query_id)
SELECT query_id, neighbor_id, cosine,
       CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id ASC) AS BIGINT) AS rk
FROM cand
QUALIFY rk <= {TOP_K}
"""


@query(
    "ann_ivf_topk",
    oracle=_ivf_oracle(),
    survey="sim-ann-topk,sim-ann-lsh,C1,D6,E2,I3",
    # gated since r5 (rotation: first driver row this round)
)
def ann_ivf_topk(spark, sf_dir):
    dot = _dot_pandas_udf()
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    # norms once; centroids/assignment/queries/candidates all reuse the blocks
    n = e.select("vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("nrm"))
    n = n.localCheckpoint(eager=True)
    c = F.broadcast(
        n.where(F.col("vec_id") < IVF_K).select(
            F.col("vec_id").alias("cid"), F.col("v").alias("cv"), F.col("nrm").alias("cn")
        )
    )
    # assignment: corpus x 16 broadcast centroids, reduced by max_by
    # (HashAggregate; struct(cs, -cid) max == cosine desc, cid asc — the
    # oracle's row_number order) — the corpus payload never sort-windows
    scored = n.crossJoin(c).withColumn(
        "cs", dot(F.col("v"), F.col("cv")) / (F.col("nrm") * F.col("cn"))
    )
    assign = scored.groupBy("vec_id").agg(
        F.max_by(F.col("cid"), F.struct(F.col("cs"), (-F.col("cid")).alias("_nc"))).alias("cid"),
        F.first("v").alias("v"),
        F.first("nrm").alias("nrm"),
    )
    # probes: queries x 16 centroids (tiny), top-nprobe lists per query
    qs = n.where(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv"), F.col("nrm").alias("qn")
    )
    pscore = qs.crossJoin(c).withColumn(
        "cs", dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn"))
    )
    pw = W.partitionBy("query_id").orderBy(F.col("cs").desc(), F.col("cid").asc())
    probe = (
        pscore.withColumn("prn", F.row_number().over(pw))
        .where(F.col("prn") <= IVF_NPROBE)
        .select("query_id", "qv", "qn", "cid")
    )
    # search: broadcast the probe table; only the probed lists are rescored
    cand = (
        F.broadcast(probe)
        .join(assign, "cid")
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("qv"), F.col("v")) / (F.col("qn") * F.col("nrm"))).alias("cosine"),
        )
    )
    rw = W.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        cand.withColumn("rk", F.row_number().over(rw).cast("long"))
        .where(F.col("rk") <= TOP_K)
    )

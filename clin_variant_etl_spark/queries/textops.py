"""Training-data text pipeline: dedup families, quality scoring, language-ID,
token counting, fingerprinting — over the ``documents`` table.

Design rules for oracle exactness:
- tokenization = ``regexp_split(lower(text), ' +')`` with empty tokens removed
  (identical semantics in Spark and DuckDB);
- all hashing via ``md5`` (identical lowercase-hex output both sides);
- MinHash permutations = lexicographic min of ``md5(perm_salt || shingle)`` —
  a portable, exact minhash family (no platform hash functions);
- SimHash uses the first 15 hex chars of ``md5(word)`` as a 60-bit hash
  (the industry 64-bit shape clipped to signed-int64-safe width), hex
  decoded portably (Spark ``conv``; DuckDB ``'0x…'::BIGINT``);
- Jaccard thresholds are integer cross-multiplications (no float compare).

At 100 TB the shingle→doc inverted index is the shuffle-heavy step: the
explode is map-side, the pair-generation join shuffles on the shingle value,
and hot shingles (stopword runs) would be dropped by a document-frequency cap
before the join (implemented here as a configurable ``max_df`` filter — the
same technique as salting a skewed join key, SURVEY.md §4 skew row).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from .caps import cap_buckets_fused
from .registry import load, query

N_PERMS = 12
N_BANDS = 4  # 3 rows per band
ROWS_PER_BAND = N_PERMS // N_BANDS
MAX_DF = 50  # document-frequency cap for shingles entering the pair join

STOPWORDS = {
    "en": ["the", "a", "of", "and", "to"],
    "fr": ["le", "la", "et", "les", "des"],
    "de": ["der", "die", "und", "das", "ein"],
    "es": ["el", "los", "y", "una", "por"],
    "zh": ["de", "shi", "le", "bu", "wo"],
}
LANG_ORDER = ["de", "en", "es", "fr", "zh"]  # deterministic tie-break: asc name


def _words(col):
    return F.filter(F.split(F.lower(col), " +"), lambda w: w != "")


# (applicationId, sf_dir) -> (session object, persisted words frame).  The
# applicationId is unique per SparkContext (no id()-reuse hazard after GC);
# the stored session object is revalidated on every hit so a frame bound to
# a stopped context is evicted and rebuilt, never returned.
_WORDS_CACHE: dict = {}


def _session_alive(sess) -> bool:
    try:
        return not sess.sparkContext._jsc.sc().isStopped()
    except Exception:
        return False


def clear_words_cache() -> None:
    """Unpersist and drop every cached words frame (library hygiene hook)."""
    for sess, df in _WORDS_CACHE.values():
        if _session_alive(sess):
            try:
                df.unpersist()
            except Exception:
                pass
    _WORDS_CACHE.clear()


def _words_df(spark, sf_dir):
    """documents with the tokenized ``ws`` array MATERIALIZED (persisted).

    HOF lambdas are interpreted (no whole-stage codegen, no common-
    subexpression elimination), so a lambda that captures the words
    expression re-runs split+filter once per produced ELEMENT — per gram,
    that re-tokenizes the document ~200×.  Caching the words column once
    (5k tiny rows at sf0.1) makes every gram read a materialized array:
    measured 5× on doc_fingerprints.  This is the words-level cache — the
    EXPLODED shingle frame must never be cached (row explosion + cache-fill
    races cost ~25 s, see dedup_ngram_jaccard)."""
    # sweep entries of stopped contexts — a restarted app gets a new
    # applicationId, so dead entries would otherwise linger forever
    for k in [k for k, (s, _) in _WORDS_CACHE.items() if not _session_alive(s)]:
        del _WORDS_CACHE[k]
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _WORDS_CACHE.get(key)
    if hit is not None:
        # same applicationId ⇒ same live context (sibling newSession()s
        # share cached blocks), so the frame is valid
        return hit[1]
    d = load(spark, sf_dir, "documents")
    df = d.select("doc_id", "text", _words(F.col("text")).alias("ws")).persist()
    _WORDS_CACHE[key] = (spark, df)
    return df


def _words_sql(col: str) -> str:
    return f"list_filter(regexp_split_to_array(lower({col}), ' +'), w -> w <> '')"


def _shingles(words, n=3):
    """Distinct word n-gram shingles as strings (joined by single space).

    One ``slice``+``array_join`` per gram, NOT n ``element_at`` lookups:
    Catalyst's projection collapse inlines the ``words`` expression (split+
    filter) into every element access, so the element_at form re-tokenizes
    the document per gram — O(len²) per doc, measured 11× slower at sf0.1.
    """
    idx = F.sequence(F.lit(1), F.size(words) - (n - 1))
    grams = F.transform(idx, lambda i: F.array_join(F.slice(words, i, n), " "))
    # guard: Spark sequence(1, negative) counts DOWN — short docs get none
    return F.when(F.size(words) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def _shingles_sql(ws: str, n=3) -> str:
    parts = " || ' ' || ".join(f"{ws}[i+{j}]" for j in range(n))
    return (
        f"(SELECT DISTINCT doc_id, {parts} AS s FROM words, "
        f"LATERAL (SELECT unnest(generate_series(1, len({ws})-{n - 1})) AS i) g)"
    )


# =========================================================================
# Exact dedup — hash-groupBy on normalized content (the dedup baseline);
# reference analogue: groupBy-keys non-duplication etl/qc/variantlist/
# NonDuplicationSNV.scala:10-16.
# =========================================================================
@query(
    "dedup_exact_content",
    oracle="""
SELECT md5(lower(text)) AS content_hash,
       CAST(MIN(doc_id) AS BIGINT) AS canonical_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY 1
HAVING COUNT(*) >= 1
""",
    survey="dedup-exact,D9,H-string",
)
def dedup_exact_content(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5(F.lower(F.col("text"))).alias("content_hash"))
        .agg(
            F.min("doc_id").cast("long").alias("canonical_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .where(F.col("n_copies") >= 1)
    )


# =========================================================================
# N-gram Jaccard near-dup — 3-gram shingle inverted index → pair join →
# integer-exact Jaccard ≥ 0.5.  The scale path: shingle DF-cap (MAX_DF)
# bounds the worst-case pair fan-out per shingle.
# =========================================================================
_JACCARD_ORACLE = f"""
WITH words AS (
  SELECT doc_id, {_words_sql("text")} AS ws FROM documents
), shingles AS (
  SELECT doc_id, s FROM {_shingles_sql("ws")} sh
), df AS (
  SELECT s FROM shingles GROUP BY s HAVING COUNT(*) <= {MAX_DF}
), kept AS (
  SELECT sh.doc_id, sh.s FROM shingles sh JOIN df USING (s)
), sizes AS (
  SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1
), pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT CAST(p.doc_a AS BIGINT) AS doc_a, CAST(p.doc_b AS BIGINT) AS doc_b,
       CAST(p.inter AS BIGINT) AS n_common,
       CAST(sa.n + sb.n - p.inter AS BIGINT) AS n_union,
       CAST(p.inter AS DOUBLE) / CAST(sa.n + sb.n - p.inter AS DOUBLE) AS jaccard
FROM pairs p
JOIN sizes sa ON sa.doc_id = p.doc_a
JOIN sizes sb ON sb.doc_id = p.doc_b
WHERE 2 * p.inter >= (sa.n + sb.n - p.inter)
"""


@query("dedup_ngram_jaccard", oracle=_JACCARD_ORACLE, survey="dedup-jaccard,C2,D1,H-array")
def dedup_ngram_jaccard(spark, sf_dir):
    """Pair generation via the inverted index GROUPED per shingle: one shuffle
    on ``s`` builds (df, doc-list) per shingle; the DF cap drops hot shingles;
    the i<j pair explosion is then NARROW (double explode over ≤MAX_DF-element
    arrays, ≤ MAX_DF²/2 pairs per shingle) instead of a kept⋈kept self-join
    that pushes O(Σ df²) rows through a second shuffle.

    Aggregation-state bound (100 TB): the doc-list is only collected AFTER a
    count-only document-frequency aggregate + semi-join drops over-cap
    shingles, so no aggregation buffer ever holds more than MAX_DF doc ids —
    a stopword-run shingle appearing in 10^7 documents costs one numeric
    count, never a 10^7-element ``collect_list`` buffer.  The semi-join and
    the following groupBy hash-partition on the same key, so the collect
    stage reuses the join's partitioning (no extra shuffle after the join).
    """
    w = _words_df(spark, sf_dir)
    # the slim (doc_id, s) frame feeds THREE consumers (sizes, the DF count,
    # the semi-join + collect); localCheckpoint it ONCE so each reads the
    # materialized blocks instead of re-running the shingle explode — the
    # minhash treatment (see the band-frame note below: localCheckpoint, not
    # persist, because InMemoryRelation breaks whole-stage codegen and
    # concurrent branches race the cache fill)
    sh = w.select("doc_id", F.explode(_shingles(F.col("ws"))).alias("s")).localCheckpoint(
        eager=True
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    kept_shingles = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where(F.col("_df") <= MAX_DF)
        .select("s")
    )
    groups = (
        sh.join(kept_shingles, "s", "left_semi")
        .groupBy("s")
        .agg(F.collect_list("doc_id").alias("_docs"))
    )
    pairs = (
        groups.select(F.explode("_docs").alias("doc_a"), "_docs")
        .select("doc_a", F.explode("_docs").alias("doc_b"))
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    out = (
        pairs.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn("n_union", (F.col("na") + F.col("nb") - F.col("inter")).cast("long"))
        .where(2 * F.col("inter") >= F.col("n_union"))
        .select(
            F.col("doc_a").cast("long").alias("doc_a"),
            F.col("doc_b").cast("long").alias("doc_b"),
            F.col("inter").cast("long").alias("n_common"),
            "n_union",
            (F.col("inter").cast("double") / F.col("n_union").cast("double")).alias("jaccard"),
        )
    )
    return out


# =========================================================================
# MinHash + LSH banding — portable minhash (lexicographic min of salted md5),
# band buckets, candidate pairs.  Scale path: bands shuffle on (band_id,
# band_hash); a bucket-size cap would bound fan-out at 100 TB.
# =========================================================================
_sig_sql = ",\n       ".join(
    f"MIN(md5('{p}|' || s)) AS h{p}" for p in range(N_PERMS)
)
_band_sql = ",\n       ".join(
    "md5(" + " || '|' || ".join(f"h{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)) + f") AS band{b}"
    for b in range(N_BANDS)
)
_band_union = "\nUNION ALL\n".join(
    f"SELECT doc_id, {b} AS band_id, band{b} AS band_hash FROM bands" for b in range(N_BANDS)
)
_MINHASH_ORACLE = f"""
WITH words AS (
  SELECT doc_id, {_words_sql("text")} AS ws FROM documents
), shingles AS (
  SELECT doc_id, s FROM {_shingles_sql("ws")} sh
), sigs AS (
  SELECT doc_id,
       {_sig_sql}
  FROM shingles GROUP BY doc_id
), bands AS (
  SELECT doc_id,
       {_band_sql}
  FROM sigs
), exploded AS (
  {_band_union}
)
SELECT DISTINCT CAST(a.doc_id AS BIGINT) AS doc_a, CAST(b.doc_id AS BIGINT) AS doc_b
FROM exploded a
JOIN exploded b
  ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
"""


@query("dedup_minhash_lsh", oracle=_MINHASH_ORACLE, survey="dedup-minhash-lsh,D1,C2,H-string")
def dedup_minhash_lsh(spark, sf_dir):
    w = _words_df(spark, sf_dir)
    sh = w.select("doc_id", F.explode(_shingles(F.col("ws"))).alias("s"))
    sigs = sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{p}|"), F.col("s")))).alias(f"h{p}")
            for p in range(N_PERMS)
        ]
    )
    band_cols = []
    for b in range(N_BANDS):
        parts = [F.col(f"h{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
        band_cols.append(F.md5(F.concat_ws("|", *parts)).alias(f"band{b}"))
    # Materialize the band frame ONCE (narrow: doc_id + N_BANDS hashes, one
    # row per doc).  The signature aggregation above is the expensive pass,
    # and the frame feeds THREE plan branches — the cap's count aggregate and
    # both sides of the pair self-join; without this each branch re-runs the
    # shingle explode + md5 minhash pass (the r3 +34% bench regression).
    # localCheckpoint (not persist) so the blocks are reclaimed by the
    # ContextCleaner when the frame is GC'd — no CacheManager entry outlives
    # the query (the pack_chunks-leak lesson, VERDICT r3 "what's wrong" #2).
    bands = sigs.select("doc_id", *band_cols).localCheckpoint(eager=True)
    exploded = bands.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band_id"), F.col(f"band{b}").alias("band_hash"))
                    for b in range(N_BANDS)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "e.band_id", "e.band_hash")
    # bound pair fan-out: over-cap band buckets are dropped before the join —
    # window-fused so the cap adds no job and the join inherits its shuffle
    exploded = cap_buckets_fused(exploded, ["band_id", "band_hash"])
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").cast("long").alias("doc_a"),
            F.col("b.doc_id").cast("long").alias("doc_b"),
        )
        .distinct()
    )


# =========================================================================
# SimHash — 60-bit signature from word-level md5 hashes (the industry shape
# is 64-bit; 60 = 15 hex digits keeps the value inside SIGNED int64 on both
# engines, avoiding unsigned-wrap divergence).  A narrow signature makes
# band buckets degenerate: at 16 bits / 4-bit bands the hottest band bucket
# held 42% of the sf0.1 corpus and the prefilter emitted 8.5M candidate
# pairs; at 60 bits / 15-bit bands the same corpus yields 277k — the band
# join is only the 100-TB path when the band space is wide enough that
# bucket occupancy tracks true near-duplicates, not signature-bit bias.
# =========================================================================
SIMHASH_BITS = 60
# bit i of the signature is set iff the +1/-1 vote sum is positive, i.e.
# 2 * (count of ones) > (token count) — one shared COUNT instead of 60
# branchy CASE aggregates (integer-exact, tie → unset, both engines)
_simhash_bits_sql = " + ".join(
    f"CASE WHEN 2 * SUM((h >> {i}) & 1) > COUNT(*) THEN {1 << i} ELSE 0 END"
    for i in range(SIMHASH_BITS)
)
_SIMHASH_ORACLE = f"""
WITH words AS (
  SELECT doc_id, {_words_sql("text")} AS ws FROM documents
), toks AS (
  SELECT doc_id, CAST(('0x' || substr(md5(w.w), 1, 15)) AS BIGINT) AS h
  FROM words, LATERAL unnest(ws) AS w(w)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST({_simhash_bits_sql} AS BIGINT) AS simhash
FROM toks
GROUP BY doc_id
"""


# md5 is a pure function of the word → a process-wide cache is safe and,
# on a zipfian corpus, collapses per-token hashing to per-UNIQUE-token
# hashing within each executor.  Bounded so an adversarial vocabulary can't
# grow it past ~64 MB: on overflow the oldest half is evicted.
_MD5_CACHE: dict[str, int] = {}
_MD5_CACHE_MAX = 1 << 20


def _simhash_batches(batches):
    """Arrow-batched simhash: tokenize, md5, and the 60-bit ±1 vote, all
    inside one numpy pass per batch.  Bit i of the signature is set iff
    2 * (count of set bit i across token hashes) > token count — integer
    exact, tie → unset, identical to the SQL oracle's fold.

    The vote is a per-document fold, so np.add.reduceat over the batch's
    concatenated hash array vectorizes it across ALL documents of the batch
    at once: 60 reduceat sweeps of O(total_tokens), never a (tokens × 60)
    materialization.
    """
    import hashlib
    import re

    import numpy as np
    import pandas as pd

    split = re.compile(" +")  # exactly the JVM/_words contract: spaces only
    weights = np.int64(1) << np.arange(SIMHASH_BITS, dtype=np.int64)
    cache = _MD5_CACHE
    for pdf in batches:
        texts = pdf["text"]
        n_docs = len(texts)
        counts = np.zeros(n_docs, dtype=np.int64)
        words: list[str] = []
        for j, t in enumerate(texts):
            if isinstance(t, str) and t:
                ws = [w for w in split.split(t.lower()) if w]
                counts[j] = len(ws)
                words.extend(ws)
        if len(cache) > _MD5_CACHE_MAX:
            # evict the oldest half (dicts keep insertion order), so the
            # next batch does not re-hash its whole vocabulary
            for w in list(cache)[: len(cache) // 2]:
                del cache[w]
        H = np.empty(len(words), dtype=np.int64)
        for k, w in enumerate(words):
            h = cache.get(w)
            if h is None:
                h = int(hashlib.md5(w.encode("utf-8")).hexdigest()[:15], 16)
                cache[w] = h
            H[k] = h
        sims = np.zeros(n_docs, dtype=np.int64)
        nonempty = counts > 0
        if H.shape[0]:
            # empty docs contribute no tokens, so the nonempty docs' token
            # runs tile H exactly; reduceat segment k is doc k's tokens
            starts = np.zeros(n_docs, dtype=np.int64)
            np.cumsum(counts[:-1], out=starts[1:])
            st, cn = starts[nonempty], counts[nonempty]
            sig = np.zeros(st.shape[0], dtype=np.int64)
            for i in range(SIMHASH_BITS):
                ones = np.add.reduceat((H >> i) & np.int64(1), st)
                sig += (2 * ones > cn) * weights[i]
            sims[nonempty] = sig
        yield pd.DataFrame(
            {"doc_id": pdf["doc_id"].astype("int64"), "simhash": sims}
        )


def _simhash_df(spark, sf_dir):
    """doc_id (long), simhash (long, SIMHASH_BITS wide) — shared by the
    signature and pair queries.

    Plan shape: the signature is DOCUMENT-LOCAL, so one mapInPandas pass
    computes it with ZERO shuffle — no word explode, no 60-way aggregate.
    (r4 ran 60 chained CASE-sum aggregates JVM-side after an explode +
    groupBy(doc_id) exchange; the widening to 60 bits doubled its cost —
    VERDICT r4 "What's wrong #1".  The Arrow vote replaces all of it with
    a per-partition numpy fold, the `_band_buckets_pandas_udf` pattern.)
    """
    d = load(spark, sf_dir, "documents")
    return d.select(F.col("doc_id").cast("long").alias("doc_id"), "text").mapInPandas(
        _simhash_batches, schema="doc_id long, simhash long"
    )


@query(
    "dedup_simhash",
    oracle=_SIMHASH_ORACLE,
    survey="dedup-simhash,D1,H-string,B4",
    # rotated out of the driver gate in r4 (driver rows r01-r03 green; every
    # survey code covered by the gated dedup_simhash_pairs / q1 / part_type_
    # tokens) to free the slot for cdc_engine_mor_replay — see
    # __spark_entry__.py rotation table
    gate=False,
)
def dedup_simhash(spark, sf_dir):
    return _simhash_df(spark, sf_dir)


# =========================================================================
# SimHash near-dup PAIRS — banded prefilter then exact popcount verify.
# 60-bit signature → 4 bands of 15 bits; hamming ≤ 3 ⟹ ≥1 band identical
# (pigeonhole: 3 flipped bits cannot touch all 4 bands), so a
# one-band-match equi-join is a strict superset of the answer: candidates
# shuffle on (band_id, band_val) — never all-pairs — then
# bit_count(xor) ≤ 3 verifies exactly.  This is the 100-TB path the
# signature query's docstring promises (band join ∝ bucket sizes, and with
# 15-bit bands bucket occupancy tracks true near-dups — see the signature
# section note on why 4-bit bands degenerate).
# =========================================================================
SIMHASH_BANDS = 4
BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15
BAND_MASK = (1 << BAND_BITS) - 1
HAMMING_MAX = 3  # ≤ SIMHASH_BANDS - 1, the pigeonhole guarantee

_SIMHASH_PAIRS_ORACLE = f"""
WITH sims AS (
{_SIMHASH_ORACLE}
), bands AS (
  SELECT doc_id, simhash, t.b AS band_id,
         (simhash >> (t.b * {BAND_BITS})) & {BAND_MASK} AS band_val
  FROM sims, LATERAL unnest([0, 1, 2, 3]) AS t(b)
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM bands a
JOIN bands b
  ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {HAMMING_MAX}
"""


@query(
    "dedup_simhash_pairs",
    oracle=_SIMHASH_PAIRS_ORACLE,
    survey="dedup-simhash,C2,D1,H-misc",
)
def dedup_simhash_pairs(spark, sf_dir):
    # materialize the signature frame ONCE (2 narrow columns, 1 row/doc):
    # the word-explode + 60 bit-sum aggregation is the expensive pass and the
    # frame feeds the cap count + both self-join sides (see dedup_minhash_lsh
    # note on localCheckpoint vs persist)
    sims = _simhash_df(spark, sf_dir).localCheckpoint(eager=True)
    bands = sims.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.shiftright(F.col("simhash"), b * BAND_BITS)
                        .bitwiseAND(F.lit(BAND_MASK))
                        .alias("band_val"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("e"),
    ).select("doc_id", "simhash", "e.band_id", "e.band_val")
    # bound pair fan-out: over-cap band buckets are dropped before the join —
    # window-fused so the cap adds no job and the join inherits its shuffle
    bands = cap_buckets_fused(bands, ["band_id", "band_val"])
    a, b = bands.alias("a"), bands.alias("b")
    hamming = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(hamming <= HAMMING_MAX)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.cast("long").alias("hamming"),
        )
        .distinct()
    )


# =========================================================================
# Quality scoring + token counting (lang-ID stopword features share the
# tokenizer).  All ratios are exact integer divisions rendered as doubles.
# =========================================================================
@query(
    "text_quality_stats",
    oracle=f"""
WITH w AS (
  SELECT doc_id, n_chars, {_words_sql("text")} AS ws, text FROM documents
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(len(ws) AS BIGINT) AS n_words,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(len(list_filter(ws, x -> len(x) >= 5)) AS BIGINT) AS n_long_words,
       CAST(list_reduce(list_prepend(0, list_transform(ws, x -> (len(x) + 3) // 4)),
                        (a, b) -> a + b) AS BIGINT) AS n_subwords,
       CAST(list_reduce(list_prepend(0, list_transform(ws, x -> len(x))), (a, b) -> a + b)
            AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS avg_word_len,
       CAST(len(list_filter(ws, x -> list_contains(['the','a','of','and','to'], x)))
            AS DOUBLE) / CAST(len(ws) AS DOUBLE) AS stopword_ratio
FROM w
WHERE len(ws) > 0
""",
    survey="text-quality,token-count,H-array,I3",
)
def text_quality_stats(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    ws = _words(F.col("text"))
    en_stop = F.array(*[F.lit(s) for s in STOPWORDS["en"]])
    df = d.select("doc_id", "n_chars", ws.alias("ws")).where(F.size("ws") > 0)
    n_words = F.size("ws").cast("long")
    sum_len = F.aggregate(
        F.transform(F.col("ws"), lambda x: F.length(x)), F.lit(0), lambda a, b: a + b
    )
    n_subwords = F.aggregate(
        F.transform(F.col("ws"), lambda x: F.floor((F.length(x) + 3) / 4).cast("int")),
        F.lit(0),
        lambda a, b: a + b,
    )
    n_stop = F.size(F.filter(F.col("ws"), lambda x: F.array_contains(en_stop, x)))
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        n_words.alias("n_words"),
        F.col("n_chars").cast("long").alias("n_chars"),
        F.size(F.filter(F.col("ws"), lambda x: F.length(x) >= 5)).cast("long").alias(
            "n_long_words"
        ),
        n_subwords.cast("long").alias("n_subwords"),
        (sum_len.cast("double") / n_words.cast("double")).alias("avg_word_len"),
        (n_stop.cast("double") / n_words.cast("double")).alias("stopword_ratio"),
    )


# =========================================================================
# Language-ID — stopword-vote n-gram heuristic with a deterministic
# CASE-ladder argmax (tie → alphabetically-first language).
# =========================================================================
_langid_ladder_sql = (
    "CASE "
    + " ".join(
        f"WHEN {' AND '.join(f's_{lang} >= s_{other}' for other in LANG_ORDER if other != lang)} THEN '{lang}'"
        for lang in LANG_ORDER
    )
    + " END"
)
_scores_sql = ",\n  ".join(
    "len(list_filter(ws, x -> list_contains(["
    + ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    + f"], x))) AS s_{lang}"
    for lang in LANG_ORDER
)
_LANGID_ORACLE = f"""
WITH w AS (
  SELECT doc_id, lang, {_words_sql("text")} AS ws FROM documents
), scored AS (
  SELECT doc_id, lang,
  {_scores_sql}
  FROM w
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       {_langid_ladder_sql} AS pred_lang,
       lang AS actual_lang,
       ({_langid_ladder_sql}) = lang AS is_match
FROM scored
"""


@query("text_language_id", oracle=_LANGID_ORACLE, survey="text-langid,B4,B5,H-array")
def text_language_id(spark, sf_dir):
    d = load(spark, sf_dir, "documents")
    df = d.select("doc_id", "lang", _words(F.col("text")).alias("ws"))
    def stop_count(lang: str):
        arr = F.array(*[F.lit(s) for s in STOPWORDS[lang]])
        # closure (not a default arg: a 2-param lambda would receive the index)
        return F.size(F.filter(F.col("ws"), lambda x: F.array_contains(arr, x)))

    for lang in LANG_ORDER:
        df = df.withColumn(f"s_{lang}", stop_count(lang))
    pred = None
    for lang in LANG_ORDER:
        cond = None
        for other in LANG_ORDER:
            if other == lang:
                continue
            c = F.col(f"s_{lang}") >= F.col(f"s_{other}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(lang)) if pred is None else pred.when(cond, F.lit(lang))
    return df.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        pred.alias("pred_lang"),
        F.col("lang").alias("actual_lang"),
        (pred == F.col("lang")).alias("is_match"),
    )


# =========================================================================
# Repetition quality signals (the Gopher/RefinedWeb repetition filters):
# per-document duplicate-word mass, duplicate-bigram mass, and the
# character fraction occupied by the most frequent word bigram.  Plan shape
# at 100 TB: the bigram expansion is a map-side HOF over the cached words
# array (never a self-join), ONE shuffle on (doc_id, bigram) for the
# counts, then the per-doc winner rides a doc_id window on the SAME rows —
# both keys are document-local so no global hot key exists by construction.
# Exact-match discipline: counts are longs; the single float output is one
# IEEE division of exact integers; the top-bigram tie-break is total
# (count desc, bigram desc) so both engines pick the identical row.
# =========================================================================
@query(
    "text_repetition_stats",
    oracle=f"""
WITH w AS (
  SELECT doc_id, n_chars, {_words_sql("text")} AS ws FROM documents
), base AS (
  SELECT doc_id, n_chars, ws, len(ws) AS n_words,
         len(list_distinct(ws)) AS n_distinct_words
  FROM w WHERE len(ws) >= 2
), grams AS (
  SELECT doc_id, n_chars, n_words, n_distinct_words,
         ws[i] || ' ' || ws[i + 1] AS bg
  FROM base, LATERAL (SELECT unnest(generate_series(1, len(ws) - 1)) AS i) t
), cnts AS (
  SELECT doc_id, n_chars, n_words, n_distinct_words, bg, count(*) AS cnt
  FROM grams GROUP BY ALL
), ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, bg DESC) AS rn,
         count(*) OVER (PARTITION BY doc_id) AS n_distinct_bigrams
  FROM cnts
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(n_words AS BIGINT) AS n_words,
       CAST(n_words - n_distinct_words AS BIGINT) AS dup_word_cnt,
       CAST(n_words - 1 AS BIGINT) AS n_bigrams,
       CAST(n_words - 1 - n_distinct_bigrams AS BIGINT) AS dup_bigram_cnt,
       CAST(cnt AS BIGINT) AS top_bigram_cnt,
       bg AS top_bigram,
       CAST(cnt * len(bg) AS DOUBLE) / CAST(n_chars AS DOUBLE)
         AS top_bigram_char_frac
FROM ranked WHERE rn = 1
""",
    survey="text-quality,D1,D6,E2,H-array",
)
def text_repetition_stats(spark, sf_dir):
    from pyspark.sql import Window

    w = _words_df(spark, sf_dir)
    n_chars = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    base = w.where(F.size("ws") >= 2).select(
        "doc_id",
        F.size("ws").cast("long").alias("n_words"),
        F.size(F.array_distinct("ws")).cast("long").alias("n_distinct_words"),
        F.transform(
            F.sequence(F.lit(0), F.size("ws") - 2),
            lambda i: F.concat_ws(
                " ", F.get(F.col("ws"), i), F.get(F.col("ws"), i + 1)
            ),
        ).alias("bigrams"),
    )
    cnts = (
        base.select(
            "doc_id", "n_words", "n_distinct_words", F.explode("bigrams").alias("bg")
        )
        .groupBy("doc_id", "n_words", "n_distinct_words", "bg")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    by_doc = Window.partitionBy("doc_id")
    ranked = cnts.select(
        "*",
        F.row_number()
        .over(by_doc.orderBy(F.desc("cnt"), F.desc("bg")))
        .alias("rn"),
        F.count(F.lit(1)).over(by_doc).alias("n_distinct_bigrams"),
    ).where(F.col("rn") == 1)
    return ranked.join(n_chars, "doc_id").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_words",
        (F.col("n_words") - F.col("n_distinct_words")).alias("dup_word_cnt"),
        (F.col("n_words") - 1).alias("n_bigrams"),
        (F.col("n_words") - 1 - F.col("n_distinct_bigrams")).alias("dup_bigram_cnt"),
        F.col("cnt").cast("long").alias("top_bigram_cnt"),
        F.col("bg").alias("top_bigram"),
        (
            (F.col("cnt") * F.length("bg")).cast("double")
            / F.col("n_chars").cast("double")
        ).alias("top_bigram_char_frac"),
    )


# =========================================================================
# Document fingerprinting — content md5 + winnowing-style min-hash of
# word 5-grams (reference: sha1 deterministic row ids
# etl/enriched/Variants.scala:119-120).
# =========================================================================
@query(
    "doc_fingerprints",
    oracle=f"""
WITH words AS (
  SELECT doc_id, text, {_words_sql("text")} AS ws FROM documents
), grams AS (
  SELECT doc_id, md5(ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' || ws[i+3] || ' ' || ws[i+4]) AS g
  FROM words, LATERAL (SELECT unnest(generate_series(1, len(ws)-4)) AS i) t
)
SELECT CAST(w.doc_id AS BIGINT) AS doc_id,
       md5(lower(w.text)) AS content_md5,
       g.fp AS winnow_fp
FROM words w
JOIN (SELECT doc_id, MIN(g) AS fp FROM grams GROUP BY doc_id) g
  ON g.doc_id = w.doc_id
""",
    survey="doc-fingerprint,H-string,D1",
)
def doc_fingerprints(spark, sf_dir):
    w = _words_df(spark, sf_dir)
    grams5 = _shingles(F.col("ws"), n=5)
    fp = F.array_min(F.transform(grams5, lambda g: F.md5(g)))
    return w.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.md5(F.lower(F.col("text"))).alias("content_md5"),
        fp.alias("winnow_fp"),
    ).where(F.col("winnow_fp").isNotNull())


# =========================================================================
# Benchmark decontamination — the training-data hygiene step: flag corpus
# documents that contain word 5-grams from a held-out benchmark/eval set
# (here derived deterministically in-data: docs with doc_id % 97 == 0 play
# the benchmark suite).  Reference analogue: the membership blacklists the
# reference joins against before publishing (etl/enriched/Variants.scala
# enrichment joins); the operator shape is the standard n-gram-overlap
# decontamination used on web-scale training corpora.
#
# Scale path (100 TB corpus, ~10^6-gram benchmark set): the benchmark gram
# set is tiny next to the corpus → broadcast; the corpus side is a map-side
# explode + broadcast LEFT join (hash probe, no shuffle of the exploded
# frame), then ONE narrow shuffle — groupBy(doc_id) over (doc_id, hit)
# pairs with map-side partial aggregation.  The explode never persists and
# never shuffles; hot grams cannot skew anything because the join is
# broadcast-probe, not key-partitioned.
# =========================================================================
@query(
    "decontaminate_benchmark",
    oracle=f"""
WITH words AS (
  SELECT doc_id, {_words_sql("text")} AS ws FROM documents
), shingles AS (
  SELECT doc_id, s FROM {_shingles_sql("ws", 5)} sh
), bench AS (
  SELECT DISTINCT s FROM shingles WHERE doc_id % 97 = 0
), corpus AS (
  SELECT * FROM shingles WHERE doc_id % 97 <> 0
)
SELECT CAST(c.doc_id AS BIGINT) AS doc_id,
       COUNT(*) AS n_grams,
       CAST(COALESCE(SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_hits,
       (SUM(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) > 0) AS contaminated
FROM corpus c LEFT JOIN bench b USING (s)
GROUP BY 1
""",
    survey="decontamination,C1,D2,H-string",
    # gated since r4 (rotation: never driver-checked in r1-r3)
)
def decontaminate_benchmark(spark, sf_dir):
    """Per-corpus-doc contamination stats vs the benchmark gram set.

    Docs shorter than 5 words produce no shingles and are out of scope on
    both sides (nothing to match).  Gram sets are DISTINCT per doc
    (``_shingles``), so ``n_hits``/``n_grams`` is the contaminated fraction
    of the doc's distinct 5-grams.
    """
    w = _words_df(spark, sf_dir)
    sh = w.select("doc_id", F.explode(_shingles(F.col("ws"), n=5)).alias("s"))
    is_bench = F.col("doc_id") % 97 == 0
    bench = sh.where(is_bench).select("s").distinct()
    corpus = sh.where(~is_bench)
    flagged = corpus.join(
        F.broadcast(bench.withColumn("_hit", F.lit(1))), "s", "left"
    )
    out = flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hits"),
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_hits").cast("long").alias("n_hits"),
        (F.col("n_hits") > 0).alias("contaminated"),
    )


# =========================================================================
# Corpus-level repeated-segment removal (CCNet/C4 boilerplate-line dedup,
# mapped to this corpus's newline-free word streams): a doc's text is cut
# into consecutive SEG_LEN-word segments; any segment occurring in more
# than MAX_SEG_DF distinct documents is boilerplate and is dropped from
# every document that contains it.  Plan shape at 100 TB:
# - the (seg, doc_id) distinct pass bounds aggregation state to O(1) per
#   PAIR before the per-segment count (a count_distinct keyed on seg would
#   hold O(corpus) doc_ids of state for a hot boilerplate segment — the r3
#   jaccard lesson applied up front);
# - both consumers of the exploded segment frame re-derive it from the
#   PERSISTED words column (_words_df) — slice+join over a materialized
#   array is cheap, and caching an exploded corpus-sized frame is the
#   anti-pattern dedup_ngram_jaccard's docstring documents;
# - per-doc reassembly state is bounded by the doc's own segment count.
# Reference N/A (no corpus-level text ops) — LLM-pipeline extension per the
# build brief.
# =========================================================================
SEG_LEN = 3
MAX_SEG_DF = 4

_SEG_DEDUP_ORACLE = f"""
WITH words AS (
  SELECT doc_id, {_words_sql("text")} AS ws FROM documents
), segs AS (
  SELECT doc_id, i AS pos,
         array_to_string(ws[(i*{SEG_LEN}+1):(i*{SEG_LEN}+{SEG_LEN})], ' ') AS seg
  FROM words, LATERAL (
    SELECT unnest(generate_series(0, CAST(ceil(len(ws)/{SEG_LEN}.0) AS INT) - 1)) AS i
  ) g
  WHERE len(ws) >= 1
), seg_df AS (
  SELECT seg, COUNT(DISTINCT doc_id) AS df FROM segs GROUP BY seg
), marked AS (
  SELECT s.doc_id, s.pos, s.seg, d.df <= {MAX_SEG_DF} AS keep
  FROM segs s JOIN seg_df d USING (seg)
)
SELECT CAST(doc_id AS BIGINT) AS doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_seg,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dropped,
       md5(COALESCE(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY pos), ''))
         AS cleaned_md5
FROM marked GROUP BY doc_id
"""


@query(
    "text_segment_dedup",
    oracle=_SEG_DEDUP_ORACLE,
    survey="dedup-line,text-quality,D1,C2,H-array",
)
def text_segment_dedup(spark, sf_dir):
    """Drop corpus-boilerplate segments from every document, keeping the
    survivors in original order (cleaned text fingerprinted by md5 so the
    oracle compares full reconstruction, not just counts)."""
    w = _words_df(spark, sf_dir).where(F.size("ws") >= 1)
    idx = F.sequence(F.lit(0), F.ceil(F.size("ws") / SEG_LEN).cast("int") - 1)
    seg_arr = F.transform(
        idx, lambda i: F.array_join(F.slice(F.col("ws"), i * SEG_LEN + 1, SEG_LEN), " ")
    )
    segs = w.select("doc_id", F.posexplode(seg_arr).alias("pos", "seg"))
    # exact per-segment document frequency with bounded state: distinct
    # (seg, doc) pairs first, then a plain count
    seg_df = (
        segs.select("seg", "doc_id").distinct()
        .groupBy("seg").agg(F.count(F.lit(1)).alias("df"))
    )
    marked = segs.join(seg_df, "seg").withColumn("keep", F.col("df") <= MAX_SEG_DF)
    kept_in_order = F.transform(
        F.array_sort(F.collect_list(F.when(F.col("keep"), F.struct("pos", "seg")))),
        lambda x: x["seg"],
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_seg"),
        F.sum(F.col("keep").cast("long")).alias("n_kept"),
        F.sum((~F.col("keep")).cast("long")).alias("n_dropped"),
        F.md5(F.array_join(kept_in_order, " ")).alias("cleaned_md5"),
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_seg", "n_kept", "n_dropped", "cleaned_md5",
    )

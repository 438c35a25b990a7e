"""Unit tests: LSH bucket-size cap (fan-out bound + observe metrics), the
words-cache session-lifecycle hygiene (stale/stopped sessions never served)
and the md5-cache eviction."""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import Observation

from clin_variant_etl_spark.queries import textops
from clin_variant_etl_spark.queries.caps import cap_buckets, cap_buckets_fused

SF_DIR = os.environ.get("SPARK_GRAFT_PARITY_SF", "/root/testdata/sf0.001")


def test_cap_buckets_drops_hot_bucket(spark):
    rows = [("hot", i) for i in range(10)] + [("cold", 0), ("cold", 1), ("lone", 0)]
    df = spark.createDataFrame(rows, "bucket string, member int")
    obs = Observation("cap")
    out = cap_buckets(df, ["bucket"], cap=3, observation=obs).collect()
    got = sorted((r["bucket"], r["member"]) for r in out)
    assert got == [("cold", 0), ("cold", 1), ("lone", 0)]
    m = obs.get
    assert m["overcap_buckets"] == 1
    assert m["dropped_rows"] == 10


def test_cap_buckets_noop_under_cap(spark):
    df = spark.createDataFrame([("a", 1), ("a", 2), ("b", 1)], "bucket string, m int")
    assert cap_buckets(df, ["bucket"], cap=100).count() == 3


def test_cap_buckets_fused_equivalent(spark):
    """The window-fused cap must drop exactly the rows the count+semi-join
    variant drops, keep the schema, and drop its helper column."""
    rows = [("hot", i) for i in range(10)] + [("cold", 0), ("cold", 1), ("lone", 0)]
    df = spark.createDataFrame(rows, "bucket string, member int")
    for cap in (3, 100):
        want = sorted(
            (r["bucket"], r["member"]) for r in cap_buckets(df, ["bucket"], cap=cap).collect()
        )
        got_df = cap_buckets_fused(df, ["bucket"], cap=cap)
        assert got_df.columns == df.columns
        got = sorted((r["bucket"], r["member"]) for r in got_df.collect())
        assert got == want


def test_words_cache_hit_and_clear(spark):
    textops.clear_words_cache()
    df1 = textops._words_df(spark, SF_DIR)
    df2 = textops._words_df(spark, SF_DIR)
    assert df1 is df2
    assert df1.is_cached
    textops.clear_words_cache()
    assert not textops._WORDS_CACHE
    assert not df1.is_cached


def test_words_cache_evicts_dead_session_entries(spark):
    """An entry whose session's context has stopped (simulating a restart:
    new applicationId, dead old entry) is swept, not served or leaked."""
    textops.clear_words_cache()

    class _DeadSession:  # no sparkContext → _session_alive() is False
        pass

    textops._WORDS_CACHE[("app-restarted-away", SF_DIR)] = (_DeadSession(), object())
    df = textops._words_df(spark, SF_DIR)
    assert ("app-restarted-away", SF_DIR) not in textops._WORDS_CACHE
    live_key = (spark.sparkContext.applicationId, SF_DIR)
    assert textops._WORDS_CACHE[live_key][1] is df
    textops.clear_words_cache()


def test_session_alive_detection(spark):
    assert textops._session_alive(spark)
    assert not textops._session_alive(object())


def test_cap_buckets_fused_null_keys_match_semi_join(spark):
    """Null bucket keys: both variants must drop them (left-semi never
    matches null; the fused variant filters explicitly to match)."""
    df = spark.createDataFrame(
        [("a", 1), (None, 2), (None, 3), ("a", 4)], "bucket string, m int"
    )
    a = sorted((r["bucket"], r["m"]) for r in cap_buckets(df, ["bucket"], cap=9).collect())
    b = sorted(
        (r["bucket"], r["m"]) for r in cap_buckets_fused(df, ["bucket"], cap=9).collect()
    )
    assert a == b == [("a", 1), ("a", 4)]


def test_md5_cache_overflow_keeps_newest_half(monkeypatch):
    """An overflowing md5 cache drops its oldest half, not everything."""
    cache = {f"w{i}": i for i in range(10)}
    monkeypatch.setattr(textops, "_MD5_CACHE", cache)
    monkeypatch.setattr(textops, "_MD5_CACHE_MAX", 4)
    list(textops._simhash_batches([pd.DataFrame({"doc_id": [1], "text": ["hello"]})]))
    assert list(cache) == [f"w{i}" for i in range(5, 10)] + ["hello"]

"""Canary for the two Spark private-API hooks the engine relies on.

Both sites have graceful fallbacks (so production never crashes), but the
fallbacks silently degrade: ``maybe_broadcast`` starts force-hinting
broadcasts with no size check (the sf100 q5 regression), and the omop
pipeline memo stops noticing ``spark.catalog.clearCache()`` (pathological
re-computation of the person map). This module exercises the private
surface DIRECTLY so a Spark upgrade that moves ``_jdf`` /
``queryExecution`` / ``sharedState().cacheManager()`` fails loudly here
instead of degrading in the dark (VERDICT r11 task 8).

Pinned against Spark 4.x; if one of these starts failing after an
upgrade, fix the hook (or its fallback) before trusting any bench number.
"""

from __future__ import annotations

import pyspark.sql.functions as F


def test_optimized_plan_stats_hook(spark):
    """maybe_broadcast's size probe: _jdf.queryExecution().optimizedPlan()
    .stats().sizeInBytes() must exist and return a sane positive number."""
    df = spark.range(1000).withColumn("pad", F.lit("x" * 32))
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    assert size > 0
    # A 1000-row frame with a 32-char pad is kilobytes, never petabytes —
    # guard against the API returning a sentinel (e.g. Long.MaxValue).
    assert size < 1 << 40


def test_cache_manager_lookup_hook(spark):
    """omop_pipeline's staleness probe: sharedState().cacheManager()
    .lookupCachedData(jdf).isDefined() must track persist + clearCache."""
    df = spark.range(512).withColumn("k", F.col("id") % 7)
    cm = spark._jsparkSession.sharedState().cacheManager()

    assert not cm.lookupCachedData(df._jdf).isDefined()
    df.persist()
    try:
        df.count()  # materialize the cache entry
        assert cm.lookupCachedData(df._jdf).isDefined()
        spark.catalog.clearCache()
        # THE reason the hook exists: DataFrame.is_cached still reports the
        # persist mark after clearCache, only the CacheManager knows.
        assert not cm.lookupCachedData(df._jdf).isDefined()
    finally:
        df.unpersist()


def test_maybe_broadcast_respects_stats_end_to_end(spark):
    """Integration: a frame far larger than a 1-byte threshold must come
    back UN-hinted (proves the stats probe actually ran, not the loud
    fallback which would force a broadcast hint)."""
    from carrot_transform_spark.queries import maybe_broadcast

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1b")
    try:
        big = spark.range(100_000).withColumn("pad", F.lit("y" * 64))
        out = maybe_broadcast(big)
        plan = out._jdf.queryExecution().logical().toString()
        assert "ResolvedHint" not in plan and "UnresolvedHint" not in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_prefer_shuffle_hash_size_probe(spark):
    """prefer_shuffle_hash's size probe, called directly: a Spark upgrade
    that moves it fails here instead of the caller's fallback silently
    keeping the planner's join. A negative broadcast threshold means
    "never broadcast", so the hint is always wanted."""
    from carrot_transform_spark.operators.dedup import plan_size_bytes, prefer_shuffle_hash

    df = spark.range(1000).withColumn("pad", F.lit("x" * 32))
    assert 0 < plan_size_bytes(df) < 1 << 40
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "1b")
        assert prefer_shuffle_hash(df)
        spark.conf.set(key, str(1 << 40))
        assert not prefer_shuffle_hash(df)
        spark.conf.set(key, "-1")
        assert prefer_shuffle_hash(df)
    finally:
        spark.conf.set(key, old)

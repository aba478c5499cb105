"""Seen-set invariants: bloom-filtered novelty must equal the exact
anti-join (zero false negatives; false positives resolved exactly)."""

import math

import numpy as np
from pyspark.sql import functions as F

from archive_query_log_spark.crawler import synth
from archive_query_log_spark.operators import seen_set


def test_first_seen_in_batch_keeps_earliest(spark):
    df = spark.createDataFrame(
        [
            ("k1", "2024-01-02 00:00:00", "b"),
            ("k1", "2024-01-01 00:00:00", "a"),
            ("k2", "2024-01-01 00:00:00", "c"),
        ],
        "url_key string, ts_s string, id string",
    ).withColumn("ts", F.to_timestamp("ts_s"))
    rows = seen_set.first_seen_in_batch(df).select("url_key", "id").collect()
    got = {r["url_key"]: r["id"] for r in rows}
    assert got == {"k1": "a", "k2": "c"}


def test_bloom_path_equals_exact_path(spark):
    frontier = synth.synth_frontier(spark, 3000, 500, 8)
    keys = frontier.select("url_key", "ts", "id")
    seen = keys.orderBy("url_key").limit(800).select("url_key")
    seen.cache()

    exact = seen_set.exact_new(keys, seen, "url_key")
    shards = seen_set.build_bloom_shards(seen, "url_key")
    filt = seen_set.filtered_new(keys, seen, shards, "url_key")

    a = sorted(r["id"] for r in exact.collect())
    b = sorted(r["id"] for r in filt.collect())
    assert a == b
    assert len(a) > 0


def test_incremental_shard_update_equals_rebuild(spark):
    """OR-merge + selective rebuild keeps the zero-false-negative guarantee
    and matches a from-scratch rebuild's verdicts on inserted keys."""
    keys = synth.synth_frontier(spark, 2000, 400, 8).select("url_key").distinct()
    keys.cache()
    first = keys.orderBy("url_key").limit(500).cache()
    rest = keys.join(first, "url_key", "left_anti").cache()
    cfg = seen_set.BloomConfig(n_buckets=8, min_bits=1 << 12)
    shards0 = seen_set.build_bloom_shards(first, "url_key", cfg).cache()
    # incremental add of the rest (forces some capacity rebuilds:
    # 500→~1700 keys at 16 bits/key vs 4096-bit minimum shards)
    shards1 = seen_set.update_bloom_shards(shards0, rest, keys, "url_key", cfg)
    shards1 = shards1.cache()
    probed = seen_set.bloom_probe(keys, shards1, "url_key", 8)
    assert probed.where(~F.col("maybe_seen")).count() == 0
    # fpp sanity vs full rebuild on unseen keys
    other = synth.synth_frontier(spark, 3000, 400, 8).select("url_key").distinct()
    other = other.join(keys, "url_key", "left_anti").cache()
    fp_inc = seen_set.bloom_probe(other, shards1, "url_key", 8).where(
        F.col("maybe_seen")
    ).count()
    shards_full = seen_set.build_bloom_shards(keys, "url_key", cfg)
    fp_full = seen_set.bloom_probe(other, shards_full, "url_key", 8).where(
        F.col("maybe_seen")
    ).count()
    n_other = other.count()
    assert fp_inc <= max(10, 3 * max(fp_full, 1)) and fp_inc < 0.05 * n_other


def test_incremental_update_handles_brand_new_buckets(spark):
    """A bucket present only on the adds side (no existing shard) must be
    routed to the rebuild leg — under the cogrouped layout such groups
    arrive with an empty shard frame and would otherwise be dropped."""
    cfg = seen_set.BloomConfig(n_buckets=8)
    keys = spark.createDataFrame(
        [(f"k{i}",) for i in range(600)], "url_key string"
    ).cache()
    hashed = seen_set.with_hashes(keys, "url_key", cfg.n_buckets)
    lo = hashed.where(F.col("bucket") < 4).select("url_key").cache()
    hi = hashed.where(F.col("bucket") >= 4).select("url_key").cache()
    assert lo.count() > 0 and hi.count() > 0
    shards0 = seen_set.build_bloom_shards(lo, "url_key", cfg).cache()
    assert shards0.count() <= 4  # only low buckets exist
    shards1 = seen_set.update_bloom_shards(shards0, hi, keys, "url_key", cfg)
    shards1.cache()
    assert shards1.select("bucket").distinct().count() == 8
    probed = seen_set.bloom_probe(keys, shards1, "url_key", cfg.n_buckets)
    assert probed.where(~F.col("maybe_seen")).count() == 0


def test_bloom_probe_no_false_negatives(spark):
    keys = synth.synth_frontier(spark, 1000, 200, 4).select("url_key").distinct()
    shards = seen_set.build_bloom_shards(keys, "url_key")
    probed = seen_set.bloom_probe(keys, shards, "url_key")
    n_missed = probed.where(~F.col("maybe_seen")).count()
    assert n_missed == 0  # every inserted key must probe positive


def test_bloom_probe_partitioned_path_matches_broadcast(spark):
    """broadcast_shards=False (bucket-cogrouped applyInPandas, the
    10^10-key layout where the shard set outgrows a broadcast) returns
    exactly the broadcast path's verdicts — including on rows whose bucket
    has NO shard at all (sparse state: missing-bucket rows must read
    maybe_seen=False on BOTH layouts, matching the old left-join)."""
    keys = spark.createDataFrame(
        [(f"k{i}",) for i in range(500)], "url_key string"
    )
    probe_in = spark.createDataFrame(
        [(f"k{i}",) for i in range(300, 800)], "url_key string"
    ).repartition(7)
    cfg = seen_set.BloomConfig(n_buckets=8)
    # sparse shard table: only buckets 0-3 exist
    lo = (
        seen_set.with_hashes(keys, "url_key", cfg.n_buckets)
        .where(F.col("bucket") < 4)
        .select("url_key")
        .cache()
    )
    shards = seen_set.build_bloom_shards(lo, "url_key", cfg)
    lo_keys = {r["url_key"] for r in lo.collect()}
    results = {}
    for bs in (True, False, None):  # None = auto (selects broadcast here)
        results[bs] = {
            (r["url_key"], r["maybe_seen"])
            for r in seen_set.bloom_probe(
                probe_in, shards, "url_key", broadcast_shards=bs
            ).collect()
        }
    assert results[True] == results[False] == results[None]
    a = results[True]
    assert len(a) == 500
    # inserted keys always flagged (no false negatives)
    assert all(ms for k, ms in a if k in lo_keys)
    # rows whose bucket has no shard are definitely-new on both layouts
    missing_bucket = {
        (k, ms) for k, ms in a if int(k[1:]) < 500 and k not in lo_keys
    }
    assert missing_bucket and all(not ms for _, ms in missing_bucket)


def test_shard_total_bytes_and_size_hint_layouts(spark):
    """shard_total_bytes (the manifest-stash value) equals what the
    auto-select agg would compute, and passing it as shard_size_bytes
    steers the layout without running the metadata job: a hint under the
    cutover gives broadcast (handle emitted), a hint above gives the
    cogrouped layout — with identical verdicts."""
    keys = spark.createDataFrame(
        [(f"s{i}",) for i in range(200)], "url_key string"
    )
    cfg = seen_set.BloomConfig(n_buckets=4)
    shards = seen_set.build_bloom_shards(keys, "url_key", cfg).cache()
    total = seen_set.shard_total_bytes(shards, "bloom")
    # blobs are m/8 bytes each; cross-check against collected rows
    rows = shards.select("m").collect()
    assert total == sum(int(r["m"]) // 8 for r in rows) and total > 0

    batch = spark.createDataFrame(
        [(f"s{i}",) for i in range(100, 300)], "url_key string"
    )
    out_bc: list = []
    small = seen_set.bloom_probe(
        batch, shards, "url_key", shard_size_bytes=total, broadcast_out=out_bc
    )
    got_small = {(r["url_key"], r["maybe_seen"]) for r in small.collect()}
    assert len(out_bc) == 1  # broadcast layout chosen, handle exposed
    out_bc[0].unpersist(blocking=False)

    huge_hint = seen_set._BROADCAST_SHARDS_MAX_BYTES + 1
    out_none: list = []
    big = seen_set.bloom_probe(
        batch, shards, "url_key", shard_size_bytes=huge_hint,
        broadcast_out=out_none,
    )
    got_big = {(r["url_key"], r["maybe_seen"]) for r in big.collect()}
    assert out_none == []  # cogrouped layout: no broadcast handle
    assert got_small == got_big
    inserted = {f"s{i}" for i in range(200)}
    assert all(ms for k, ms in got_small if k in inserted)


def test_pipeline_commit_stashes_shard_bytes(spark, tmp_path):
    """Every seen_shards snapshot manifest carries shard_total_bytes equal
    to a fresh recompute — run_round's probes read the stash instead of
    running a per-construction layout job (ADVICE r6)."""
    from archive_query_log_spark.crawler import pipeline, synth

    images = synth.synth_images(spark, 50, 8)
    frontier = synth.synth_frontier(spark, 200, 50, 8)
    robots = synth.synth_robots(spark)
    state = pipeline.init_state(str(tmp_path / "stash"), frontier)
    for rid in range(2):
        pipeline.run_round(
            spark, state, images, robots,
            pipeline.CrawlConfig(budget_waves=8), rid,
        )
    hist = state.seen_shards.history()
    assert len(hist) == 2
    for m in hist:
        stashed = m["meta"]["shard_total_bytes"]
        fresh = seen_set.shard_total_bytes(
            state.seen_shards.read(spark, m["version"]), "bloom"
        )
        assert stashed == fresh > 0


def test_bloom_false_positive_rate_meets_config(spark):
    """Bit positions must not depend on the hash bits that choose the
    bucket: with g_0 = h1 mod m every key of a bucket shared h1's low bits,
    so the first probe bit came from 1/n_buckets of the bitmap and the FP
    rate was ~20x BloomConfig's target."""
    cfg = seen_set.BloomConfig()
    keys = spark.range(50_000).select(F.sha2(F.col("id").cast("string"), 256).alias("url_key"))
    others = spark.range(50_000, 150_000).select(
        F.sha2(F.col("id").cast("string"), 256).alias("url_key")
    )
    shards = seen_set.build_bloom_shards(keys, "url_key", cfg).cache()
    assert shards.where(F.col("pl") != seen_set.BLOOM_LAYOUT).count() == 0
    assert seen_set.bloom_probe(keys, shards, "url_key").where(~F.col("maybe_seen")).count() == 0
    fp = seen_set.bloom_probe(others, shards, "url_key").where(F.col("maybe_seen")).count()
    target = (1 - math.exp(-cfg.k / cfg.bits_per_key)) ** cfg.k
    assert fp / 100_000 <= 2 * target, (fp, target)


def test_legacy_layout_shards_are_probed_as_built_and_rebuilt_on_update(spark):
    """Shards written before the layout column existed keep their own
    formula when probed (no false negatives) and are rebuilt, never OR-ed
    into, by the next update."""
    cfg = seen_set.BloomConfig(n_buckets=8)
    keys = spark.createDataFrame([(f"k{i}",) for i in range(3000)], "url_key string")
    old, new = keys.where(F.col("url_key") < "k2"), keys.where(F.col("url_key") >= "k2")
    hashed = seen_set.with_hashes(old, "url_key", cfg.n_buckets).toPandas()
    rows = []
    for b, grp in hashed.groupby("bucket"):
        m = cfg.min_bits
        pos = seen_set._bloom_positions(
            grp["_h1"].to_numpy(), grp["_h2"].to_numpy(), cfg.k, m, 0
        ).ravel()
        bits = np.zeros(m // 8, dtype=np.uint8)
        np.bitwise_or.at(bits, pos // 8, (1 << (pos % 8)).astype(np.uint8))
        rows.append((int(b), bits.tobytes(), m, cfg.k, len(grp), cfg.n_buckets))
    legacy = spark.createDataFrame(rows, seen_set.SHARD_SCHEMA)
    probed = seen_set.bloom_probe(old, legacy, "url_key")
    assert probed.where(~F.col("maybe_seen")).count() == 0
    updated = seen_set.update_bloom_shards(legacy, new, keys, "url_key", cfg).cache()
    assert {r["pl"] for r in updated.select("pl").collect()} == {seen_set.BLOOM_LAYOUT}
    assert updated.select("bucket").distinct().count() == 8
    probed = seen_set.bloom_probe(keys, updated, "url_key")
    assert probed.where(~F.col("maybe_seen")).count() == 0
